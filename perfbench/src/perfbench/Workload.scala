package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload shares with the run loop: the session, the
  * seed, the run's scratch root, the Derby url, the tracer and the
  * latency samples, plus the attempted/failed ledger.
  */
final class Ctx(val spark: SparkSession, val cpus: Int, val seed: Long, val runDir: Path,
                val derbyUrl: String, val tracer: Tracer, val samples: Samples) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Generator for one step's inputs: the same (seed, step, salt) always
    * gives the same draws.
    */
  def rng(step: Int, salt: Int): scala.util.Random =
    new scala.util.Random(seed * 1000003L + step * 7919L + salt * 104729L)

  /** Root of every warehouse this run makes. */
  val warehouses: Path = runDir.resolve("warehouses")
  private val made = mutable.Map.empty[String, Path]
  private var nextWarehouse = 0
  /** A new empty warehouse for `owner`; the owner's previous one is removed. */
  def freshWarehouse(owner: String): Path = {
    made.get(owner).foreach(LocalFiles.deleteTree)
    nextWarehouse += 1
    val d = Files.createDirectories(warehouses.resolve(s"$owner-$nextWarehouse"))
    made(owner) = d
    d
  }

  /** Step-independent pseudo-random value in [0, m) for key `k`; the same
    * formula as [[hashCol]], so a driver-side model can follow a frame
    * generated by Spark.
    */
  def hash(k: Long, salt: Int, m: Long): Long =
    Math.floorMod(k * 2654435761L + salt * 40503L + seed % 1000000007L, m)
  def hashCol(k: org.apache.spark.sql.Column, salt: Int, m: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod}
    pmod(k * lit(2654435761L) + lit(salt * 40503L + seed % 1000000007L), lit(m))
  }

  /** One operation against the engine: counted as attempted, timed into
    * the `kind` samples, and traced as a span of `layer`.
    */
  def call[T](kind: String, name: String, layer: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = tracer.span(name, layer)(body)
    samples.add(kind, name, tracer.step, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** `reps` runs of one read, each counted and traced like [[call]]; the
    * step's sample is their median, so one stalled run does not move it.
    * Returns every run's result.
    */
  def callMedian[T](kind: String, name: String, layer: String, reps: Int)(body: => T): Seq[T] = {
    val runs = (1 to reps).map { _ =>
      attempted += 1
      val t0 = System.nanoTime()
      val r = tracer.span(name, layer)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    samples.add(kind, name, tracer.step, Stats.median(runs.map(_._2)))
    runs.map(_._1)
  }

  /** One correctness check; a failing or throwing one counts in `failed`. */
  def check(name: String, ok: => Boolean, detail: => String): Boolean = {
    attempted += 1
    val passed = try ok catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$name: threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        failed += 1
        return false
    }
    if (!passed) {
      failed += 1
      failures += s"$name: $detail"
    }
    passed
  }
}

/** A closed-loop workload: one client, each step waits for the last. */
trait Workload {
  /** Fewest timed steps a run makes, whatever `--seconds` says. */
  def minSteps: Int = 1
  /** Builds the fixtures in a fresh warehouse. */
  def setup(): Unit
  /** Makes step `i`'s inputs; not timed. */
  def prepare(i: Int): Unit
  /** Runs step `i` (step 0 is the warm-up). */
  def step(i: Int): Unit
  /** User rows committed or ingested so far in the timed steps. */
  def rows: Long
  /** Forgets the row count (after the warm-up). */
  def resetRows(): Unit
  /** Full-state correctness checks, run after the timed region. */
  def verify(): Unit
  /** Gauges read after a traced step (not timed). */
  def gauges(): Map[String, Double] = Map.empty
  /** Corrupts the state in each known way and names the check that must
    * then fail; the caller runs `verify()` after each corruption.
    */
  def corruptions: Seq[(String, () => Unit)]
}

object LocalFiles {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** (path, size) of every regular file under `p`, `.crc` files left out. */
  def files(p: Path): Seq[(Path, Long)] = if (!Files.exists(p)) Nil else {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      .map(f => (f, Files.size(f))).toSeq
    finally s.close()
  }

  /** Bytes on disk under the warehouse ÷ bytes the latest snapshots of
    * its lake tables reference (data, delete and manifest files).
    */
  def spaceAmp(spark: SparkSession, wh: Path): Double = {
    val all = files(wh)
    val onDisk = all.map(_._2).sum.toDouble
    val roots = all.map(_._1).filter(_.getParent.getFileName.toString == "_versions")
      .map(_.getParent.getParent).distinct
    val live = roots.map { root =>
      val t = new graft.lake.LakeTable(spark, root.toString)
      t.latest.map { s =>
        val manifest = Files.size(root.resolve("_versions").resolve(f"v${s.version}%08d.json"))
        (s.dirs ++ s.deleteDirs ++ s.eqDeleteDirs).distinct
          .map(d => files(root.resolve(d)).map(_._2).sum).sum + manifest
      }.getOrElse(0L)
    }.sum.toDouble
    onDisk / math.max(live, 1.0)
  }

  /** Lake manifest files under the warehouse (written through java.nio,
    * so a Hadoop FileSystem never sees them).
    */
  def manifests(wh: Path): Set[Path] =
    files(wh).map(_._1).filter(f => f.getParent.getFileName.toString == "_versions" &&
      f.getFileName.toString.matches("v\\d{8}\\.json")).toSet
}

object Workload {
  /** Runs per step of the gold read and the kept-set read (see
    * [[Ctx.callMedian]]): at 0.05–0.3 s, one scheduling stall is a large
    * share of either.
    */
  val ReadReps = 3
}

/** Two workloads driven by one client: each step runs a step of the
  * first, then a step of the second.
  */
final class Pair(a: Workload, b: Workload) extends Workload {
  override def minSteps: Int = math.max(a.minSteps, b.minSteps)
  def setup(): Unit = { a.setup(); b.setup() }
  def prepare(i: Int): Unit = { a.prepare(i); b.prepare(i) }
  def step(i: Int): Unit = { a.step(i); b.step(i) }
  def rows: Long = a.rows + b.rows
  def resetRows(): Unit = { a.resetRows(); b.resetRows() }
  def verify(): Unit = { a.verify(); b.verify() }
  override def gauges(): Map[String, Double] = a.gauges() ++ b.gauges()
  def corruptions: Seq[(String, () => Unit)] = a.corruptions ++ b.corruptions
}
