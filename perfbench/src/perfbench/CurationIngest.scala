package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{LakeTable, WriteMode}
import graft.ops.{Dedup, IncrementalDedup, Similarity}

/** The LLM-curation path: each step ingests a seeded arrival batch of
  * documents (about 10% of them near-duplicate variants of earlier
  * documents) through the incremental MinHash dedup, runs the batch
  * cluster dedup over every document so far, and the semantic dedup
  * over a seeded sample of embeddings.
  */
final class CurationIngest(ctx: Ctx) extends Workload {
  import ctx.spark
  val batchDocs = 250
  val vocab = 4000
  val embeddings = 2000
  val dim = 32
  val sampleVecs = 1000
  // its short calls are the noisiest of any workload, and the first timed
  // step is still warming up: the median of three steps leaves it out
  override def minSteps: Int = 3
  private val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private val docs = mutable.ArrayBuffer.empty[(Long, String)]
  private val originals = mutable.ArrayBuffer.empty[Long]
  // variant id -> the original it was made from
  private val variants = mutable.LongMap.empty[Long]
  private var vectors: Seq[Row] = Nil
  private var workDir: java.nio.file.Path = _
  private var batch: Seq[(Long, String)] = Nil
  private var batchDf: DataFrame = _
  private var sampleDf: DataFrame = _
  private var rowsDone = 0L
  private var lastDropped = 0L

  private def frame(rows: Seq[(Long, String)]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), ctx.cpus), docSchema)

  def setup(): Unit = {
    workDir = ctx.freshWarehouse("curation").resolve("dedup")
    docs.clear(); originals.clear(); variants.clear()
    lastDropped = 0L
    val r = ctx.rng(-1, 6)
    // a tenth of the vectors sit next to another one
    val base = (0 until embeddings).map(_ => Array.fill(dim)(r.nextGaussian().toFloat))
    vectors = base.indices.map { i =>
      val v = if (i % 10 == 9) base(i - 1).map(x => x + 0.01f * r.nextGaussian().toFloat) else base(i)
      Row(i.toLong, v.toSeq)
    }
    rowsDone = 0L
  }

  private def word(r: scala.util.Random): String = "w" + Integer.toString(r.nextInt(vocab), 36)

  /** New documents of 40–80 words; every tenth is an earlier original
    * with one or two words changed (its id is always the larger).
    */
  def prepare(i: Int): Unit = {
    val r = ctx.rng(i, 7)
    val first = docs.size
    (0 until batchDocs).foreach { j =>
      val id = docs.size.toLong
      docs += (if (j % 10 == 9 && originals.nonEmpty) {
        val orig = originals(r.nextInt(originals.size))
        val words = docs(orig.toInt)._2.split(' ')
        (1 to 1 + r.nextInt(2)).foreach(_ => words(r.nextInt(words.length)) = word(r))
        variants(id) = orig
        (id, words.mkString(" "))
      } else {
        originals += id
        (id, Seq.fill(40 + r.nextInt(41))(word(r)).mkString(" "))
      })
    }
    batch = docs.drop(first).toSeq
    batchDf = frame(batch)
    sampleDf = spark.createDataFrame(spark.sparkContext.parallelize(
      r.shuffle(vectors).take(sampleVecs), ctx.cpus), vecSchema)
  }

  def step(i: Int): Unit = {
    ctx.call("commit", "ops.ingest", "ops")(
      IncrementalDedup.ingest(spark, batchDf, workDir, s"batch$i", slices = 2, filesPerTrigger = 2))
    val all = frame(docs.toSeq)
    val kept = ctx.call("refresh", "ops.cluster_dedup", "ops")(
      Dedup.dedupByClusters(all, Dedup.minHashLshPairs(all)).count())
    ctx.check("cluster_dedup_drops_variants", kept == docs.size - variants.size,
      s"cluster dedup kept $kept of ${docs.size} docs with ${variants.size} variants")
    val pairs = ctx.call("refresh", "ops.semdedup", "ops")(
      Similarity.semDeDupPairs(sampleDf, threshold = 0.99, nlist = 8).collect())
    ctx.check("semdedup_pairs_near", pairs.forall(_.getAs[Number]("sim").doubleValue >= 0.99),
      "semantic dedup returned a pair under its threshold")
    val droppedReps = ctx.callMedian("read", "ops.kept_read", "ops", Workload.ReadReps)(
      IncrementalDedup.keptReport(spark, all, workDir).where(!col("kept")).count())
    val dropped = droppedReps.last
    ctx.tracer.count("ops.docs", batch.size.toDouble)
    ctx.tracer.count("ops.dropped", (dropped - lastDropped).toDouble)
    lastDropped = dropped
    ctx.check("ingest_drops_variants", droppedReps.forall(_ == variants.size),
      s"ingest dropped ${droppedReps.mkString("/")} docs, ${variants.size} variants injected")
    rowsDone += batch.size
  }

  def rows: Long = rowsDone
  def resetRows(): Unit = rowsDone = 0L

  /** Every injected variant is dropped and every original kept. */
  def verify(): Unit = {
    val report = IncrementalDedup.keptReport(spark, frame(docs.toSeq), workDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val wrongVariants = variants.keys.filter(v => report.getOrElse(v, true))
    val wrongOriginals = originals.filterNot(o => report.getOrElse(o, false))
    ctx.check("variants_dropped", wrongVariants.isEmpty,
      s"${wrongVariants.size} variants kept, e.g. ${wrongVariants.take(3).mkString(",")}")
    ctx.check("originals_kept", wrongOriginals.isEmpty,
      s"${wrongOriginals.size} originals dropped, e.g. ${wrongOriginals.take(3).mkString(",")}")
  }

  private def drops = new LakeTable(spark, workDir.resolve("drops").toString)

  /** An original lands in the drop list; then a variant leaves it. */
  def corruptions: Seq[(String, () => Unit)] = Seq(
    "originals_kept" -> (() => {
      val t = drops
      val schema = t.read().schema
      val row = Row.fromSeq(schema.fields.toSeq.map(f =>
        if (f.name == "id") originals.head else f.dataType match {
          case LongType => 0L; case IntegerType => 0; case StringType => ""; case DoubleType => 0.0
          case BooleanType => false; case _ => null
        }))
      t.write(spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema), WriteMode.Append)
    }),
    "variants_dropped" -> (() => {
      val t = drops
      t.write(t.read().where(col("id") =!= variants.keys.head), WriteMode.Overwrite)
    }))
}
