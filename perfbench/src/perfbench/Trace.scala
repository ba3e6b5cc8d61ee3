package perfbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable

/** Per-call latencies by operation kind and call name, tagged with their
  * step; kept by every run, traced or not. The end-to-end metrics come
  * from these.
  */
final class Samples {
  private val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Int, Double)]]
  def add(kind: String, name: String, step: Int, seconds: Double): Unit =
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((name, step, seconds))
  def get(kind: String): Seq[Double] = byKind.get(kind).map(_.map(_._3).toSeq).getOrElse(Nil)
  /** Seconds a typical step spends in calls of `kinds`: for each call
    * name, the median over steps of that name's total in the step (0 in a
    * step without it), summed over names. A stall in one call of one step
    * moves only that name's sample. NaN when there are no calls.
    */
  def perStep(kinds: String*): Double = {
    val xs = kinds.flatMap(k => byKind.getOrElse(k, Nil))
    if (xs.isEmpty) Double.NaN
    else {
      val steps = byKind.values.flatten.map(_._2).toSeq.distinct
      xs.groupBy(_._1).values.map { calls =>
        val inStep = calls.groupMapReduce(_._2)(_._3)(_ + _)
        Stats.median(steps.map(s => inStep.getOrElse(s, 0.0)))
      }.sum
    }
  }
  def kinds: Seq[String] = byKind.keys.toSeq
  def clear(): Unit = byKind.clear()
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Highest of p50/p75/p90/p95/p99 that still has at least ten samples
    * above it, with its value; None when even p50 has fewer.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (p, pct(xs, p)))

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One traced call: the layer it entered, its parent span and the
  * step it belongs to. Times are System.nanoTime.
  */
final case class Span(id: Int, parent: Int, step: Int, name: String, layer: String,
                      startNs: Long, endNs: Long)

/** Spans and per-step counters, kept in memory and written out when the
  * run ends. Spans are recorded only while `on` is set.
  */
final class Tracer {
  @volatile var on: Boolean = false
  @volatile var step: Int = -1
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[(Int, String), Double]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, step, name, layer, t0, t1)
      }
    }

  /** Adds to a counter of the current step (any thread). */
  def count(name: String, v: Double): Unit = if (on) put(step, name, v)
  def put(step: Int, name: String, v: Double): Unit = counters.synchronized {
    counters((step, name)) = counters.getOrElse((step, name), 0.0) + v
  }
  def counter(step: Int, name: String): Double =
    counters.synchronized(counters.getOrElse((step, name), 0.0))

  def spansOf(step: Int): Seq[Span] = spans.filter(_.step == step).toSeq

  /** Self time per layer for one step whose root span is `root`: each
    * instant of the step is charged to the innermost span covering it,
    * or to `spark` when a Spark job was running then. The charges add up
    * to the root's wall time.
    */
  def selfTimes(root: Span, jobs: Seq[(Long, Long)]): Map[String, Long] = {
    val all = spansOf(root.step)
    val clip = (iv: (Long, Long), s: Span) =>
      (math.max(iv._1, s.startNs), math.min(iv._2, s.endNs))
    val inStep = jobs.map(clip(_, root)).filter(i => i._2 > i._1)
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    all.foreach { s =>
      val covered = all.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)) ++
        inStep.map(clip(_, s))
      self(s.layer) += (s.endNs - s.startNs) - Stats.unionLength(covered)
    }
    self("spark") += Stats.unionLength(inStep)
    self.toMap
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"step":${s.step},"name":"${s.name}",""" +
      s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Hadoop FS op counters, split by whether the caller runs inside a
  * Spark task. Incremented by [[CountingFileSystem]] while `on`.
  */
object IoCounters {
  @volatile var on: Boolean = false
  val Ops: Seq[String] = Seq("create", "open", "list", "status", "rename", "delete", "mkdirs")
  private val adders: Map[String, LongAdder] =
    (for (op <- Ops; side <- Seq("driver", "task")) yield s"$op.$side" -> new LongAdder).toMap

  def op(name: String): Unit = if (on) {
    val side = if (org.apache.spark.TaskContext.get() != null) "task" else "driver"
    adders(s"$name.$side").increment()
  }
  def snapshot(): Map[String, Long] = adders.map { case (k, a) => k -> a.sum() }

  /** Bytes moved through every `file://` Hadoop FileSystem in this JVM. */
  def fsBytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }
}

/** `file://` FileSystem that counts metadata and data ops before
  * delegating to the stock local FileSystem. Installed only in traced
  * runs, through `spark.hadoop.fs.file.impl`.
  */
class CountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocatedFileStatus,
    Path, RemoteIterator}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    IoCounters.op("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    IoCounters.op("open"); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    IoCounters.op("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    IoCounters.op("list"); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    IoCounters.op("list"); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    IoCounters.op("status"); super.getFileStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    IoCounters.op("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    IoCounters.op("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    IoCounters.op("mkdirs"); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    IoCounters.op("mkdirs"); super.mkdirs(f)
  }
}
