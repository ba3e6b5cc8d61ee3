package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.sources.DerbyMem

/** Lakehouse workload benchmark. One JVM, one closed-loop client, a
  * seeded workload; prints every metric by name and unit and, as its
  * last line, the result object. See perfbench/README.md.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --t0-ms <launch epoch ms> --run-dir <dir> --out-dir <dir> [--selftest 1]
  */
object Main {
  val Workloads: Seq[String] =
    Seq("serving", "ingest", "medallion_cdc", "upsert_lookup", "view_refresh", "curation_ingest")
  val SetupReps = 3

  def make(name: String, ctx: Ctx): Workload = name match {
    case "serving" => new Pair(new UpsertLookup(ctx), new ViewRefresh(ctx))
    case "ingest" => new Pair(new MedallionCdc(ctx), new CurationIngest(ctx))
    case "medallion_cdc" => new MedallionCdc(ctx)
    case "upsert_lookup" => new UpsertLookup(ctx)
    case "view_refresh" => new ViewRefresh(ctx)
    case "curation_ingest" => new CurationIngest(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
  }

  /** Task slots for a workload. The serving workloads get half the cores:
    * the driver, JIT and GC keep the other cores busy, and with a task on
    * every core a stage waits on whichever one the host deschedules (on a 4-core VM, `serving`'s timings spread
    * 1.5-1.8 times wider at local[4] than at local[2]). The ingest
    * workloads get every core: their dedup runs several jobs at once, and
    * at half the cores their steps were 10% slower and no steadier.
    */
  def slots(name: String, cores: Int): Int =
    if (Set("serving", "upsert_lookup", "view_refresh")(name)) math.max(1, cores / 2) else cores

  /** The session `graft.Bench` builds, with shuffle partitions = task slots
    * and all scratch space under the run directory.
    */
  def session(cpus: Int, traced: Boolean, runDir: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("hadoop-tmp").toString)
      .withExtensions(new graft.plans.GraftExtensions)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val t0Ms = opt("t0-ms").toLong
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val outDir = Paths.get(opt("out-dir")).toAbsolutePath
    val selftest = opts.get("selftest").contains("1")
    require(Workloads.contains(name), s"unknown workload '$name' (one of ${Workloads.mkString(", ")})")
    val cpus = slots(name, Runtime.getRuntime.availableProcessors)

    val tracer = new Tracer
    val spark = session(cpus, traced, runDir)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val probe = if (traced) Some(new SparkProbe(tracer)) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    def phase(what: String) =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2fs $what")
    phase("session ready")
    val ok = try DerbyMem.withDb("perfbench") { url =>
      val ctx = new Ctx(spark, cpus, seed, runDir, url, tracer, new Samples)
      val w = make(name, ctx)
      if (selftest) selfTest(name, w, ctx)
      else {
        new Run(name, w, ctx, seconds, traced, probe, sessionS, outDir).apply()
        true
      }
    } finally {
      phase("workload done")
      spark.stop()
      phase("session stopped")
    }
    if (!ok) sys.exit(1)
  }

  /** Runs a few steps, checks the clean state, then applies each
    * corruption and requires its check to go from passing to failing.
    */
  def selfTest(name: String, w: Workload, ctx: Ctx): Boolean = {
    w.setup()
    (0 to 2).foreach { i => w.prepare(i); w.step(i) }
    def failing(): Set[String] = {
      val from = ctx.failures.size
      try w.verify()
      catch { case NonFatal(e) => ctx.failures += s"verify: threw ${e.getMessage}" }
      ctx.failures.drop(from).map(_.takeWhile(_ != ':')).toSet
    }
    val stepFailures = ctx.failures.toList
    val clean = failing()
    println(s"[selftest] $name clean run: ${if (stepFailures.isEmpty && clean.isEmpty) "all checks pass"
      else s"FAILING ${(stepFailures ++ clean).mkString("; ")}"}")
    val caught = w.corruptions.map { case (check, corrupt) =>
      val before = failing()
      corrupt()
      val after = failing()
      val hit = !before(check) && after(check)
      println(s"[selftest] $name corruption for $check: ${if (hit) "caught" else "MISSED"}")
      hit
    }
    stepFailures.isEmpty && clean.isEmpty && caught.forall(identity)
  }
}

/** One measured run: set-up repetitions (each in a fresh warehouse, the
  * last one kept), one warm-up step, then timed steps until `seconds`
  * have passed and the workload's fewest steps ran, then the correctness
  * checks and the result line. The state-dependent ratios (bytes written per row,
  * space amplification) are taken after the first timed step, so they do
  * not depend on how many steps the machine managed.
  */
final class Run(name: String, w: Workload, ctx: Ctx, seconds: Double, traced: Boolean,
                probe: Option[SparkProbe], sessionS: Double, outDir: Path) {
  private val tracer = ctx.tracer
  private val sc = ctx.spark.sparkContext
  private val walls = mutable.ArrayBuffer.empty[(Int, Double)]
  private val stepIo = mutable.Map.empty[Int, Map[String, Double]]

  private def now = System.nanoTime()

  def apply(): Unit = {
    val setups = (1 to Main.SetupReps).map { _ =>
      val t0 = now
      w.setup()
      (now - t0) / 1e9
    }
    w.prepare(0)
    val t0 = now
    w.step(0)
    val warmupS = (now - t0) / 1e9
    ctx.samples.clear()
    w.resetRows()

    val (written0, _) = IoCounters.fsBytes()
    var firstStep: Option[(Double, Double)] = None
    var broken = false
    var i = 1
    val start = now
    var prepareS = 0.0
    while (!broken && (i <= w.minSteps || now - start < seconds * 1e9)) {
      val p0 = now
      w.prepare(i)
      prepareS += (now - p0) / 1e9
      val before = if (traced) Some((IoCounters.snapshot(), IoCounters.fsBytes(), LocalFiles.manifests(ctx.warehouses)))
        else None
      if (traced) org.apache.spark.PerfbenchBus.drain(sc)
      tracer.step = i
      tracer.on = traced
      IoCounters.on = traced
      val t0 = now
      try tracer.span("step", "bench")(w.step(i))
      catch { case NonFatal(e) =>
        ctx.attempted += 1; ctx.failed += 1
        ctx.failures += s"step $i: threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        broken = true
      }
      val wall = (now - t0) / 1e9
      if (traced) org.apache.spark.PerfbenchBus.drain(sc)
      tracer.on = false
      IoCounters.on = false
      before.foreach { case (ops0, (w0, r0), m0) =>
        val ops1 = IoCounters.snapshot()
        val (w1, r1) = IoCounters.fsBytes()
        stepIo(i) = ops1.map { case (k, v) => s"io.ops.$k" -> (v - ops0(k)).toDouble } ++ Map(
          "io.bytes_written" -> (w1 - w0).toDouble, "io.bytes_read" -> (r1 - r0).toDouble,
          "lake.manifests" -> (LocalFiles.manifests(ctx.warehouses) -- m0).size.toDouble) ++ w.gauges()
      }
      walls += ((i, wall))
      if (i == 1 && !broken)
        firstStep = Some(((IoCounters.fsBytes()._1 - written0).toDouble / math.max(w.rows, 1L),
          LocalFiles.spaceAmp(ctx.spark, ctx.warehouses)))
      i += 1
    }
    val timedRows = w.rows
    val heapLiveMb = Run.liveHeapMb()
    val v0 = now
    try w.verify()
    catch { case NonFatal(e) =>
      ctx.attempted += 1; ctx.failed += 1
      ctx.failures += s"verify: threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    }

    println(f"[perfbench] untimed: prepare=$prepareS%.2fs verify=${(now - v0) / 1e9}%.2fs")
    val stepS = walls.map(_._2).toSeq
    val e2e = Seq(
      ("setup_s", "s", sessionS + Stats.median(setups) + warmupS),
      ("step_s_p50", "s", Stats.median(stepS)),
      ("rows_per_s", "1/s", timedRows / stepS.sum),
      ("commit_s", "s", ctx.samples.perStep("commit")),
      ("read_s", "s", ctx.samples.perStep("read", "range")),
      ("refresh_s", "s", ctx.samples.perStep("refresh")),
      ("bytes_written_per_row", "B", firstStep.map(_._1).getOrElse(Double.NaN)),
      ("space_amp", "ratio", firstStep.map(_._2).getOrElse(Double.NaN)),
      ("heap_live_mb", "MB", heapLiveMb))
    report(setups :+ warmupS, stepS, e2e)
    val metrics = if (traced) perLayer() else e2e
    if (traced) {
      Files.createDirectories(outDir)
      Files.writeString(outDir.resolve(s"spans-$name-seed${ctx.seed}.json"), tracer.spansJson)
    }
    val json = metrics.map { case (k, u, v) => s""""$k":{"value":${Run.num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$json}""")
  }

  /** Human-readable lines: every call kind's latencies with the tail
    * percentile and sample count, peak RSS, the failures.
    */
  private def report(setups: Seq[Double], stepS: Seq[Double], e2e: Seq[(String, String, Double)]): Unit = {
    def line(label: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      val tail = Stats.tail(xs).map { case (p, v) => f" p$p=$v%.4f" }.getOrElse("")
      val all = if (xs.size <= 12) xs.map(x => f"$x%.3f").mkString(" [", " ", "]") else ""
      println(f"[perfbench] $label%-12s n=${xs.size}%-4d p50=${Stats.median(xs)}%.4f$tail%s (s)$all%s")
    }
    println(s"[perfbench] workload=$name seed=${ctx.seed} traced=$traced task_slots=${ctx.cpus} " +
      s"setup_reps+warmup=${setups.map(s => f"$s%.2f").mkString(",")}")
    line("step", stepS)
    ctx.samples.kinds.foreach(k => line(k, ctx.samples.get(k)))
    println(f"[perfbench] rss_peak_mb=${Run.rssPeakMb()}%.1f")
    println(f"[perfbench] failed_ratio=${ctx.failed.toDouble / math.max(ctx.attempted, 1L)}%.4f " +
      s"(${ctx.failed} of ${ctx.attempted})")
    ctx.failures.take(10).foreach(f => println(s"[perfbench] FAILED $f"))
    e2e.foreach { case (k, u, v) => println(f"[perfbench] $k%-22s $v%.4f $u") }
  }

  /** Per-step layer metrics: means over the timed steps of a traced run. */
  private def perLayer(): Seq[(String, String, Double)] = {
    val tracedSteps = walls.map(_._1).toSeq
    val n = math.max(tracedSteps.size, 1).toDouble
    val refMs = System.currentTimeMillis()
    val refNs = System.nanoTime()
    def toNs(ms: Long) = refNs - (refMs - ms) * 1000000L
    val selfBy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var gapMs, wallMs = 0.0
    tracedSteps.foreach { s =>
      tracer.spansOf(s).find(_.name == "step").foreach { root =>
        val jobs = probe.map(_.jobsOf(s)).getOrElse(Nil).map { case (a, b) => (toNs(a), toNs(b)) }
        val self = tracer.selfTimes(root, jobs)
        self.foreach { case (layer, ns) => selfBy(layer) += ns / 1e6 }
        val wallNs = root.endNs - root.startNs
        gapMs += (wallNs - self.getOrElse("spark", 0L)) / 1e6
        wallMs += wallNs / 1e6
      }
    }
    def spanMs(span: String) = tracedSteps.flatMap(tracer.spansOf).filter(_.name == span)
      .map(s => (s.endNs - s.startNs) / 1e6).sum / n
    def layerMs(layer: String) = tracedSteps.flatMap(tracer.spansOf)
      .filter(s => s.layer == layer && s.name.startsWith(layer + ".")).map(s => (s.endNs - s.startNs) / 1e6)
      .sum / n
    def total(c: String) = tracedSteps.map(s => tracer.counter(s, c) + stepIo.get(s).flatMap(_.get(c))
      .getOrElse(0.0)).sum
    def per(c: String) = total(c) / n
    def ratio(a: String, b: String) = if (total(b) == 0) 0.0 else total(a) / total(b)
    println(f"[perfbench] trace accounting per step: wall ${wallMs / n}%.1f ms = " +
      f"self times ${selfBy.values.sum / n}%.1f ms = spark ${selfBy("spark") / n}%.1f ms + driver gap ${gapMs / n}%.1f ms")
    val commitSpans = tracedSteps.flatMap(tracer.spansOf).count(_.layer == "lake.commit")
    val ms = "ms"
    Seq(
      ("pipeline.extract_ms", ms, spanMs("pipeline.extract")),
      ("pipeline.silver_ms", ms, spanMs("pipeline.silver")),
      ("pipeline.gold_ms", ms, spanMs("pipeline.gold")),
      ("pipeline.bronze_rows", "count", per("pipeline.bronze_rows")),
      ("lake.commit_ms.write", ms, spanMs("lake.commit.write")),
      ("lake.commit_ms.upsert", ms, spanMs("lake.commit.upsert")),
      ("lake.commit_ms.delete", ms, spanMs("lake.commit.delete")),
      ("lake.commits", "count", commitSpans / n),
      ("lake.manifests", "count", per("lake.manifests")),
      ("lake.scan_plan_ms", ms, spanMs("lake.scan.plan")),
      ("lake.scan_exec_ms", ms, spanMs("lake.scan.exec")),
      ("lake.files_read", "count", per("lake.files_read")),
      ("lake.eqdelete_files", "count", per("lake.eqdelete_files")),
      ("lake.data_dirs", "count", per("lake.data_dirs")),
      ("maint.ms", ms, layerMs("lake.maint")),
      ("maint.bytes_written", "B", per("maint.bytes_written")),
      ("maint.files_deleted", "count", per("maint.files_deleted")),
      ("views.join_refresh_ms", ms, spanMs("views.join_refresh")),
      ("views.rollup_refresh_ms", ms, spanMs("views.rollup_refresh")),
      ("views.incremental_ratio", "ratio", ratio("views.incremental_refreshes", "views.refreshes")),
      ("ops.ingest_ms", ms, spanMs("ops.ingest")),
      ("ops.cluster_dedup_ms", ms, spanMs("ops.cluster_dedup")),
      ("ops.semdedup_ms", ms, spanMs("ops.semdedup")),
      ("ops.drop_ratio", "ratio", ratio("ops.dropped", "ops.docs"))) ++
    Seq("jobs", "stages", "tasks", "actions").map(c => (s"spark.$c", "count", per(s"spark.$c"))) ++
    Seq("task_ms", "gc_ms", "plan_ms").map(c => (s"spark.$c", ms, per(s"spark.$c"))) ++
    Seq("shuffle_bytes", "input_bytes").map(c => (s"spark.$c", "B", per(s"spark.$c"))) ++
    Seq(("spark.jobs_per_action", "ratio", ratio("spark.jobs", "spark.actions")),
      ("driver.gap_ms", ms, gapMs / n)) ++
    (for (op <- IoCounters.Ops; side <- Seq("driver", "task"))
      yield (s"io.ops.$op.$side", "count", per(s"io.ops.$op.$side"))) ++
    Seq(("io.bytes_written", "B", per("io.bytes_written")), ("io.bytes_read", "B", per("io.bytes_read"))) ++
    Run.Layers.map(l => (s"self_ms.$l", ms, selfBy(l) / n)) ++
    Seq(("trace.step_ms", ms, Stats.median(walls.map(_._2).toSeq) * 1000))
  }
}

object Run {
  val Layers: Seq[String] = Seq("bench", "pipeline", "lake.commit", "lake.scan", "lake.maint",
    "lake.views", "ops", "spark")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Heap in use after full collections: a second one after Spark's
    * ContextCleaner has dropped the blocks the first one released.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** JSON number; a NaN (a metric with no samples) becomes null. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
