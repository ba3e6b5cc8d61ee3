package perfbench

import java.sql.{Connection, DriverManager, Timestamp}
import org.apache.spark.sql.functions._
import graft.lake.{LakeCatalog, WriteMode}
import graft.pipeline.Medallion
import graft.sources.DerbyMem
import graft.state.WatermarkStore

/** The paper's pipeline: a seeded CDC batch lands in an embedded Derby
  * table (not timed), then each step runs the watermark extract into
  * bronze, the silver dedup rebuild and the gold grouped count.
  */
final class MedallionCdc(ctx: Ctx) extends Workload {
  import ctx.spark
  val batchRows = 20000
  val users = 5000
  private val eventTypes = Array("view", "click", "cart", "buy", "refund", "login", "logout", "search")
  private val pipeline = "medallion"

  private var conn: Connection = _
  private var table = ""
  private var tables = 0
  private var cat: LakeCatalog = _
  private var state: WatermarkStore = _
  private var m: Medallion = _
  private var nextId = 0L
  private var nextTsMs = 0L
  private var pending = 0L
  private var rowsDone = 0L

  def setup(): Unit = {
    if (conn == null) conn = DriverManager.getConnection(ctx.derbyUrl)
    if (table.nonEmpty) conn.createStatement().execute(s"DROP TABLE $table")
    tables += 1
    table = s"CDC_SRC_$tables"
    conn.createStatement().execute(
      s"CREATE TABLE $table (event_id BIGINT, user_id INT, event_type VARCHAR(16), " +
        "amount_cents BIGINT, ts TIMESTAMP)")
    val wh = ctx.freshWarehouse("medallion")
    cat = new LakeCatalog(spark, wh.toString)
    state = new WatermarkStore(wh.resolve("_state"))
    m = new Medallion(spark, cat, state)
    nextId = 0L
    nextTsMs = 1700000000000L
    rowsDone = 0L
  }

  /** New identities, about 10% re-sent identities (same event_id, new
    * amount and time) and about 5% exact duplicate rows.
    */
  def prepare(i: Int): Unit = {
    val r = ctx.rng(i, 1)
    val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
    val batch = new Array[(Long, Int, String, Long, Long)](batchRows)
    var n = 0
    while (n < batchRows) {
      val u = r.nextDouble()
      batch(n) =
        if (u < 0.05 && n > 0) batch(r.nextInt(n))
        else {
          val id = if (u < 0.15 && nextId > 0) (r.nextDouble() * nextId).toLong
            else { nextId += 1; nextId - 1 }
          nextTsMs += 1
          (id, r.nextInt(users), eventTypes(r.nextInt(eventTypes.length)), r.nextInt(100000).toLong,
            nextTsMs)
        }
      val b = batch(n)
      ps.setLong(1, b._1); ps.setInt(2, b._2); ps.setString(3, b._3); ps.setLong(4, b._4)
      ps.setTimestamp(5, new Timestamp(b._5))
      ps.addBatch()
      n += 1
    }
    ps.executeBatch()
    ps.close()
    pending = batchRows
  }

  private def source = spark.read.format("jdbc")
    .option("url", ctx.derbyUrl).option("dbtable", table)
    .option("driver", DerbyMem.driver).load()

  def step(i: Int): Unit = {
    val n = ctx.call("commit", "pipeline.extract", "pipeline")(m.extractBronze(source, "TS"))
    ctx.check("extract_rows", n == pending, s"extracted $n rows, inserted $pending")
    ctx.call("refresh", "pipeline.silver", "pipeline")(m.transformSilver())
    ctx.call("refresh", "pipeline.gold", "pipeline")(m.loadGold(Seq("USER_ID")))
    ctx.callMedian("read", "lake.scan.gold", "lake.scan", Workload.ReadReps)(cat.read(s"gold.$pipeline").collect())
    rowsDone += n
  }

  def rows: Long = rowsDone
  def resetRows(): Unit = rowsDone = 0L

  override def gauges(): Map[String, Double] =
    Map("pipeline.bronze_rows" -> cat.table(s"bronze.$pipeline").countRows().toDouble)

  def verify(): Unit = {
    val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*), MAX(ts) FROM $table")
    rs.next()
    val srcRows = rs.getLong(1)
    val maxTs = rs.getTimestamp(2)
    val bronze = cat.read(s"bronze.$pipeline")
    val silver = cat.read(s"silver.$pipeline")
    val bronzeRows = bronze.count()
    ctx.check("bronze_equals_source", bronzeRows == srcRows,
      s"bronze has $bronzeRows rows, source $srcRows")
    val wm = state.get(pipeline, "extract")
    ctx.check("watermark_is_max_ts",
      WatermarkStore.toMicros(wm) == WatermarkStore.toMicros(maxTs), s"watermark $wm, max ts $maxTs")
    val distinctBronze = bronze.distinct()
    val silverRows = silver.count()
    val same = silverRows == distinctBronze.count() &&
      silver.exceptAll(distinctBronze).isEmpty && distinctBronze.exceptAll(silver).isEmpty
    ctx.check("silver_is_distinct_bronze", same, s"silver ($silverRows rows) differs from distinct(bronze)")
    val goldSum = cat.read(s"gold.$pipeline").agg(sum(col("total_count"))).head.getLong(0)
    ctx.check("gold_sum_is_silver_rows", goldSum == silverRows,
      s"sum(gold.total_count) = $goldSum, silver rows $silverRows")
  }

  /** A double bronze append, a watermark past the source, an inflated
    * gold count, then a silver that kept bronze's duplicates.
    */
  def corruptions: Seq[(String, () => Unit)] = Seq(
    "bronze_equals_source" -> (() =>
      cat.write(cat.read(s"bronze.$pipeline").limit(10), s"bronze.$pipeline", WriteMode.Append)),
    "watermark_is_max_ts" -> (() =>
      state.advance(pipeline, "extract", new Timestamp(nextTsMs + 60000L))),
    "gold_sum_is_silver_rows" -> (() =>
      cat.write(cat.read(s"gold.$pipeline").withColumn("total_count", col("total_count") + 1),
        s"gold.$pipeline", WriteMode.Overwrite)),
    "silver_is_distinct_bronze" -> (() =>
      cat.write(cat.read(s"bronze.$pipeline"), s"silver.$pipeline", WriteMode.Overwrite)))
}
