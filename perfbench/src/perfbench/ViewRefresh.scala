package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{DmlStrategy, IncrementalView, JoinView, LakeCatalog, LakeDml, WriteMode}
import graft.lake.IncrementalView.{GroupCount, Sum}

/** The star-schema view stack as a trickle: orders ⋈ customer segment
  * as a merge-on-read join view, a per-segment rollup on top. Each step
  * appends facts, deletes a few, re-assigns some customers' segments,
  * refreshes both views and reads the rollup. Every fifth step the
  * segment change touches about ten times more fact keys.
  */
final class ViewRefresh(ctx: Ctx) extends Workload {
  import ctx.spark
  val facts = 60000
  val customers = 3000
  val appendRows = facts / 400
  val deleteRows = 30
  val dimRows = customers / 100
  val fanoutDimRows = customers / 4
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val factSchema = StructType(Seq(StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false), StructField("cents", LongType, nullable = false)))
  private val dimSchema = StructType(Seq(StructField("c_custkey", LongType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))
  private val aggs = Seq(GroupCount("n_orders"), Sum(col("cents"), "sum_cents"))

  // fact key -> (custkey, cents) for live facts; custkey -> segment
  private val factModel = mutable.LongMap.empty[(Long, Long)]
  private val dimModel = mutable.LongMap.empty[String]
  private var maxKey = 0L
  private var cat: LakeCatalog = _
  private var rowsDone = 0L
  private var appendDf: DataFrame = _
  private var appended: Seq[(Long, Long, Long)] = Nil
  private var delFrom = 0L
  private var dimDf: DataFrame = _
  private var dimChanges: Seq[(Long, String)] = Nil

  private def facts(rows: Seq[(Long, Long, Long)]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), ctx.cpus), factSchema)
  private def dims(rows: Seq[(Long, String)]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), ctx.cpus), dimSchema)

  private def refreshJoin() = JoinView.refresh(cat, "bronze.orders", "dim.customer", "silver.enriched",
    factKey = "o_orderkey", joinKey = "o_custkey", dimKey = "c_custkey",
    dimCols = Seq("c_mktsegment"), strategy = DmlStrategy.MergeOnRead)
  private def refreshRollup() =
    IncrementalView.refresh(cat, "silver.enriched", "gold.seg_rollup", Seq("c_mktsegment"), aggs)

  def setup(): Unit = {
    cat = new LakeCatalog(spark, ctx.freshWarehouse("views").toString)
    factModel.clear(); dimModel.clear()
    (1L to customers.toLong).foreach(c => dimModel(c) = segments(ctx.hash(c, 6, segments.length).toInt))
    (0L until facts.toLong).foreach(k =>
      factModel(k) = (1L + ctx.hash(k, 4, customers), 100L + ctx.hash(k, 5, 50000000L)))
    maxKey = facts - 1L
    val k = col("id")
    cat.write(spark.range(0L, facts.toLong, 1L, ctx.cpus).select(k.as("o_orderkey"),
      (ctx.hashCol(k, 4, customers) + 1).as("o_custkey"), (ctx.hashCol(k, 5, 50000000L) + 100).as("cents")),
      "bronze.orders", WriteMode.Overwrite)
    cat.write(spark.range(1L, customers + 1L, 1L, ctx.cpus).select(k.as("c_custkey"),
      element_at(array(segments.toSeq.map(lit): _*), (ctx.hashCol(k, 6, segments.length) + 1).cast("int"))
        .as("c_mktsegment")), "dim.customer", WriteMode.Overwrite)
    refreshJoin()
    refreshRollup()
    rowsDone = 0L
  }

  def prepare(i: Int): Unit = {
    val r = ctx.rng(i, 5)
    appended = (maxKey + 1 to maxKey + appendRows).map(k => (k, 1L + r.nextInt(customers),
      100L + r.nextInt(50000000)))
    appendDf = facts(appended)
    delFrom = (r.nextDouble() * (maxKey - deleteRows)).toLong
    val n = if (i % 5 == 1) fanoutDimRows else dimRows
    dimChanges = r.shuffle((1L to customers.toLong).toVector).take(n)
      .map(c => (c, segments(r.nextInt(segments.length))))
    dimDf = dims(dimChanges)
  }

  def step(i: Int): Unit = {
    ctx.call("commit", "lake.commit.write", "lake.commit")(
      cat.write(appendDf, "bronze.orders", WriteMode.Append))
    appended.foreach(f => factModel(f._1) = (f._2, f._3))
    maxKey += appendRows
    ctx.call("commit", "lake.commit.delete", "lake.commit")(LakeDml.delete(cat.table("bronze.orders"),
      col("o_orderkey").between(delFrom, delFrom + deleteRows - 1), DmlStrategy.MergeOnRead))
    val deleted = (delFrom until delFrom + deleteRows).count(k => factModel.remove(k).nonEmpty)
    ctx.call("commit", "lake.commit.upsert", "lake.commit")(
      cat.table("dim.customer").upsert(dimDf, Seq("c_custkey")))
    dimChanges.foreach { case (c, s) => dimModel(c) = s }
    rowsDone += appended.size + deleted + dimChanges.size

    val modes = ctx.call("refresh", "views.refresh", "lake.views") {
      val j = ctx.tracer.span("views.join_refresh", "lake.views")(refreshJoin())
      val g = ctx.tracer.span("views.rollup_refresh", "lake.views")(refreshRollup())
      Seq(j, g).map(_.meta.getOrElse(IncrementalView.RefreshModeKey, "?"))
    }
    ctx.tracer.count("views.refreshes", 2)
    ctx.tracer.count("views.incremental_refreshes", modes.count(_ == "incremental").toDouble)
    ctx.check("refresh_is_incremental", modes.forall(_ == "incremental"),
      s"step $i refresh modes: ${modes.mkString(", ")}")
    val got = ctx.call("read", "views.read", "lake.views")(
      IncrementalView.read(cat, "gold.seg_rollup").collect())
    ctx.check("rollup_matches_model", rollup(got) == expected, s"step $i rollup differs from the model")
  }

  private def rollup(rows: Array[Row]): Seq[(String, Long, Long)] =
    rows.map(r => (r.getAs[String]("c_mktsegment"), r.getAs[Long]("n_orders"), r.getAs[Long]("sum_cents")))
      .toSeq.sorted

  private def expected: Seq[(String, Long, Long)] =
    factModel.values.groupBy(f => dimModel(f._1)).map { case (s, fs) =>
      (s, fs.size.toLong, fs.map(_._2).sum)
    }.toSeq.sorted

  def rows: Long = rowsDone
  def resetRows(): Unit = rowsDone = 0L

  /** The rollup equals fact ⋈ dim aggregated from scratch, and a
    * refresh on the current state is still incremental.
    */
  def verify(): Unit = {
    def scratch = cat.read("bronze.orders")
      .join(cat.read("dim.customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      .collect()
    ctx.check("rollup_equals_scratch",
      rollup(IncrementalView.read(cat, "gold.seg_rollup").collect()) == rollup(scratch),
      "the rollup differs from fact ⋈ dim aggregated from scratch")
    def mode = refreshRollup().meta.getOrElse(IncrementalView.RefreshModeKey, "?")
    ctx.check("refresh_is_incremental", mode == "incremental", "the final rollup refresh was not incremental")
  }

  /** A rollup gone missing, so its next refresh is a full one (the check
    * rebuilds it); then a stray row in the rollup.
    */
  def corruptions: Seq[(String, () => Unit)] = Seq(
    "refresh_is_incremental" -> (() => LocalFiles.deleteTree(cat.table("gold.seg_rollup").root)),
    "rollup_equals_scratch" -> (() => cat.write(
      cat.read("gold.seg_rollup").limit(1), "gold.seg_rollup", WriteMode.Append)))
}
