package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{DmlStrategy, LakeCatalog, LakeDml, LakeTable, WriteMode}
import graft.lake.LakePredicate.{EqualTo, GtEq, LtEq}

/** A serving table of TPC-H-shaped orders under a stream of
  * equality-delete upserts and merge-on-read deletes, read by point
  * lookups and a range aggregate, with maintenance after every step. A driver
  * side model of every change checks each read.
  */
final class UpsertLookup(ctx: Ctx) extends Workload {
  import ctx.spark
  val tableRows = 150000
  val upsertRows = tableRows / 100
  val deleteRows = 20
  val lookups = 5
  val rangeKeys = 1500

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // key -> price in cents, for every live key
  private val model = mutable.LongMap.empty[Long]
  private var maxKey = 0L
  private var cat: LakeCatalog = _
  private var table: LakeTable = _
  private var rowsDone = 0L
  private var upsertDf: DataFrame = _
  private var upserted: Seq[(Long, Long)] = Nil
  private var delFrom = 0L
  private var probes: Seq[Long] = Nil
  private var rangeFrom = 0L

  private def row(key: Long, cents: Long, r: scala.util.Random): Row =
    Row(key, key % 15000 + 1, if (r.nextBoolean()) "O" else "F", cents / 100.0,
      new java.sql.Timestamp(694224000000L + (key % 2400) * 86400000L),
      priorities(r.nextInt(priorities.length)))

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  def setup(): Unit = {
    cat = new LakeCatalog(spark, ctx.freshWarehouse("serve").toString)
    model.clear()
    (0L until tableRows.toLong).foreach(k => model(k) = 100L + ctx.hash(k, 2, 50000000L))
    maxKey = tableRows - 1L
    val k = col("id")
    val rows = spark.range(0L, tableRows.toLong, 1L, ctx.cpus).select(k.as("o_orderkey"),
      (k % 15000 + 1).as("o_custkey"),
      when(ctx.hashCol(k, 1, 2) === 0, "O").otherwise("F").as("o_orderstatus"),
      ((ctx.hashCol(k, 2, 50000000L) + 100) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + k % 2400 * 86400).as("o_orderdate"),
      element_at(array(priorities.toSeq.map(lit): _*), (ctx.hashCol(k, 3, 5) + 1).cast("int"))
        .as("o_orderpriority"))
    cat.write(rows, "serve.orders", WriteMode.Overwrite, statsBy = Seq("o_orderkey"))
    table = cat.table("serve.orders")
    rowsDone = 0L
  }

  /** 90% of the upsert hits a seeded contiguous key range, 10% are new
    * keys; then a small key range to delete, five probe keys and one
    * range for the aggregate.
    */
  def prepare(i: Int): Unit = {
    val r = ctx.rng(i, 3)
    val hit = upsertRows * 9 / 10
    val from = (r.nextDouble() * (maxKey - hit)).toLong
    val keys = (from until from + hit) ++ (maxKey + 1 to maxKey + (upsertRows - hit))
    upserted = keys.map(k => (k, 100L + r.nextInt(50000000)))
    upsertDf = frame(upserted.map { case (k, c) => row(k, c, r) }, 1)
    delFrom = (r.nextDouble() * (maxKey + upsertRows)).toLong
    probes = Seq.fill(lookups)((r.nextDouble() * (maxKey + upsertRows)).toLong)
    rangeFrom = (r.nextDouble() * (maxKey + upsertRows - rangeKeys)).toLong
  }

  def step(i: Int): Unit = {
    ctx.call("commit", "lake.commit.upsert", "lake.commit")(table.upsert(upsertDf, Seq("o_orderkey")))
    upserted.foreach { case (k, c) => model(k) = c }
    maxKey = math.max(maxKey, upserted.map(_._1).max)
    ctx.call("commit", "lake.commit.delete", "lake.commit")(LakeDml.delete(table,
      col("o_orderkey").between(delFrom, delFrom + deleteRows - 1), DmlStrategy.MergeOnRead))
    val deleted = (delFrom until delFrom + deleteRows).count(k => model.remove(k).nonEmpty)
    rowsDone += upserted.size + deleted

    probes.foreach { k =>
      val got = ctx.call("read", "lake.scan.lookup", "lake.scan") {
        val df = ctx.tracer.span("lake.scan.plan", "lake.scan")(table.scan(Seq(EqualTo("o_orderkey", k))))
        ctx.tracer.span("lake.scan.exec", "lake.scan")(df.collect())
      }
      val cents = got.map(r => math.round(r.getAs[Double]("o_totalprice") * 100)).toSeq
      ctx.check("lookup_matches_model", cents == model.get(k).toSeq,
        s"key $k: table ${cents.mkString(",")}, model ${model.get(k).mkString}")
    }
    val agg = ctx.call("range", "lake.scan.range", "lake.scan") {
      val df = ctx.tracer.span("lake.scan.plan", "lake.scan")(table.scan(
        Seq(GtEq("o_orderkey", rangeFrom), LtEq("o_orderkey", rangeFrom + rangeKeys - 1))))
      ctx.tracer.span("lake.scan.exec", "lake.scan")(df.agg(count(lit(1)),
        coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L))).head)
    }
    val want = (rangeFrom until rangeFrom + rangeKeys).flatMap(model.get)
    ctx.check("range_matches_model", agg.getLong(0) == want.size && agg.getLong(1) == want.sum,
      s"range from $rangeFrom: table (${agg.getLong(0)}, ${agg.getLong(1)}), model (${want.size}, ${want.sum})")

    // every step: a run times a single step, and the maintenance span
    // must land in it
    maintain()
  }

  private def maintain(): Unit = {
    val (w0, _) = IoCounters.fsBytes()
    ctx.call("maint", "lake.maint.compact", "lake.maint")(table.compactBinPack(8L << 20))
    ctx.call("maint", "lake.maint.rewrite_eqdeletes", "lake.maint")(table.rewriteEqualityDeletes())
    val (_, dirs) = ctx.call("maint", "lake.maint.expire", "lake.maint")(table.expireSnapshots(2))
    val orphans = ctx.call("maint", "lake.maint.orphans", "lake.maint")(table.removeOrphanFiles(0L))
    ctx.tracer.count("maint.files_deleted", (dirs + orphans).toDouble)
    ctx.tracer.count("maint.bytes_written", (IoCounters.fsBytes()._1 - w0).toDouble)
  }

  def rows: Long = rowsDone
  def resetRows(): Unit = rowsDone = 0L

  override def gauges(): Map[String, Double] = table.latest.map { s =>
    Map("lake.eqdelete_files" -> s.eqDeletes.size.toDouble, "lake.data_dirs" -> s.dirs.size.toDouble)
  }.getOrElse(Map.empty)

  /** Every live key and price equals the model, and nothing else is live. */
  def verify(): Unit = {
    val got = table.read().select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long")).collect()
    val seen = mutable.LongMap.empty[Long]
    got.foreach(r => seen(r.getLong(0)) = r.getLong(1))
    ctx.check("table_matches_model", got.length == model.size && seen == model,
      s"table has ${got.length} rows (${seen.size} keys), model ${model.size}")
    probes.foreach { k =>
      val cents = table.scan(Seq(EqualTo("o_orderkey", k))).collect()
        .map(r => math.round(r.getAs[Double]("o_totalprice") * 100)).toSeq
      ctx.check("lookup_matches_model", cents == model.get(k).toSeq,
        s"key $k: table ${cents.mkString(",")}, model ${model.get(k).mkString}")
    }
  }

  /** The table gets a row the model never saw, and a probed key gets a
    * price the model does not hold.
    */
  def corruptions: Seq[(String, () => Unit)] = Seq(
    "table_matches_model" -> (() =>
      table.upsert(frame(Seq(row(maxKey + 1000, 4242L, ctx.rng(0, 9))), 1), Seq("o_orderkey"))),
    "lookup_matches_model" -> (() => {
      probes = Seq(model.keys.head)
      table.upsert(frame(Seq(row(probes.head, model(probes.head) + 1, ctx.rng(0, 9))), 1),
        Seq("o_orderkey"))
    }))
}
