package perfbench

import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.SnapshotLake
import graft.ml.Similarity
import graft.ml.Similarity.IvfPqIndex
import graft.streaming.AnnStreams

/** `ann`: a closed serving loop over an IVF-PQ index of the embeddings.
  * Set-up trains the index without the held-out query vectors. One cycle
  * is four probe batches (perturbed held-out vectors, skewed towards a
  * few clusters and so a few IVF lists) against the grown index, then
  * one append batch through the index-append sink. */
final class AnnWorkload(ctx: Ctx) extends Workload(ctx) {
  import AnnWorkload._

  private val nBase = math.max(200, (2000 * ctx.scale).toInt)
  private val embPath = ctx.path("input/embeddings.parquet")
  private var src: Gen.VecSource = _
  private var base: IndexedSeq[(Long, Array[Float], Int)] = _
  private var heldOut: IndexedSeq[(Long, Array[Float], Int)] = _
  private var index: IvfPqIndex = _
  private var lake: SnapshotLake = _
  private var root: String = _
  private var markers: String = _

  // schedule state, reset by setup
  private var r: SplittableRandom = _
  private var appended = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
  private var batches = 0
  private var nextQuery = 0L
  private var bytesAtStart = 0L
  private var userBytes = 0L
  /** Per probed query: (appends done before it, vector, returned ids). */
  private val probes = mutable.ArrayBuffer.empty[(Int, Array[Float], Seq[Long])]
  private var recall = Double.NaN

  def generate(): Unit = {
    src = new Gen.VecSource(ctx.seed, Dim, Clusters)
    val rr = new SplittableRandom(ctx.seed ^ 0xe3bL)
    val all = (0 until nBase).map { i =>
      val c = rr.nextInt(Clusters)
      (i.toLong, src.draw(rr, c, Spread), c)
    }
    val held = all.filter(_ => rr.nextDouble() < HeldOutShare)
    heldOut = held
    val heldIds = held.map(_._1).toSet
    base = all.filterNot(v => heldIds(v._1))
    Gen.embFrame(spark, all).write.parquet(embPath)
  }

  /** One cycle against a throw-away index. */
  override def warmup(): Unit = { build("warm"); resetSchedule(); cycle() }

  def setup(rep: Int): Unit = build(rep.toString)

  override def afterSetup(rep: Int): Unit = resetSchedule()

  def cycleSeconds: Double = 3.0

  /** A fresh index lake and a freshly trained index. */
  private def build(tag: String): Unit = {
    root = ctx.path(s"index$tag")
    markers = ctx.path(s"markers$tag")
    lake = new SnapshotLake(root)
    val emb = spark.read.parquet(embPath)
    index = tracer.span("ml.ivfpq_index") {
      Similarity.ivfpqIndex(emb, heldOut.map(_._1), NList, M, KSub, Dim, eager = true)
    }
  }

  private def resetSchedule(): Unit = {
    r = new SplittableRandom(ctx.seed ^ 0x9b0bL)
    appended = mutable.ArrayBuffer.empty
    batches = 0; nextQuery = 0L; userBytes = 0L
    probes.clear()
    bytesAtStart = Fs.bytesUnder(Paths.get(root))
  }

  private def queryFrame(qs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(qs.map { case (id, v) => Row(id, v.map(_.toDouble).toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = false)))))

  private def probeOp(): Op = {
    val qs = (0 until QueryBatch).map { _ =>
      val c = Gen.pick(r, src.queryWeights)
      val inC = heldOut.filter(_._3 == c)
      val (_, v, _) = if (inC.nonEmpty) inC(r.nextInt(inC.size)) else heldOut(r.nextInt(heldOut.size))
      val q = Gen.unit(v.map(_ + QueryNoise * Gen.gauss(r))).map(_.toFloat)
      val id = nextQuery; nextQuery += 1
      (id, q)
    }
    val appendsBefore = appended.size / AppendBatch
    var result: DataFrame = null
    // the check runs the same probe again after the clock stops
    op("read", "ml.ivfpq_probe")(tracer.span("ml.ivfpq_probe") {
      result = Similarity.ivfpqProbe(AnnStreams.grownIndex(spark, lake, index),
        queryFrame(qs), K, NProbe)
      tracer.plan(result)
      Clock.noop(result)
    }) {
      val rows0 = result.select("query_id", "rank", "vec_id").collect()
        .map(x => (x.getLong(0), x.getAs[Number](1).intValue, x.getLong(2)))
      val rows = if (plantOnce()) rows0.drop(1) else rows0
      val known = appended.iterator.map(_._1).toSet
      val byQ = rows.groupBy(_._1)
      val good = qs.forall { case (id, _) =>
        val got = byQ.getOrElse(id, Array.empty).sortBy(_._2)
        got.length == K && got.map(_._2).toSeq == (1 to K) &&
          got.map(_._3).distinct.length == K &&
          got.forall(g => baseIds(g._3) || known(g._3))
      }
      qs.foreach { case (id, v) =>
        probes += ((appendsBefore, v, byQ.getOrElse(id, Array.empty).sortBy(_._2).map(_._3).toSeq))
      }
      good
    }
  }

  private lazy val baseIds: Set[Long] = base.map(_._1).toSet

  private def appendOp(): Op = {
    val vs = (0 until AppendBatch).map { i =>
      val c = r.nextInt(Clusters)
      (AppendIdBase + appended.size + i, src.draw(r, c, Spread), c)
    }
    val before = lake.latestVersion(spark).getOrElse(0L)
    val batchId = batches.toLong
    batches += 1
    userBytes += vs.size.toLong * (8 + 4 * Dim)
    val df = Gen.embFrame(spark, vs)
    val o = op("write", "streaming.index_append")(tracer.span("streaming.index_append") {
      AnnStreams.indexAppendSink(index, lake, markers)(df, batchId)
    })(lake.latestVersion(spark).getOrElse(0L) == before + 1)
    appended ++= vs
    o
  }

  def cycle(): Seq[Op] = Seq(probeOp(), probeOp(), probeOp(), probeOp(), appendOp())

  /** recall@10 of every probed query against the exact cosine top-10
    * over the corpus as grown when it was probed (not timed). */
  override def finish(): Int = {
    val qSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("grown", IntegerType),
      StructField("qv", ArrayType(DoubleType, containsNull = false))))
    val qRows = probes.indices.map(i => Row(i.toLong, probes(i)._1,
      probes(i)._2.map(_.toDouble).toSeq))
    val cSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("since", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = false))))
    val cRows = base.map(b => Row(b._1, 0, b._2.map(_.toDouble).toSeq)) ++
      appended.indices.map(i => Row(appended(i)._1, i / AppendBatch + 1,
        appended(i)._2.map(_.toDouble).toSeq))
    val qs = spark.createDataFrame(qRows.asJava, qSchema)
    val corpus = spark.createDataFrame(cRows.asJava, cSchema)
    val exact = qs.crossJoin(corpus).filter(col("since") <= col("grown"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= K).select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val perQuery = probes.indices.map { i =>
      val truth = exact.getOrElse(i.toLong, Set.empty)
      probes(i)._3.count(truth).toDouble / K
    }
    recall = if (perQuery.isEmpty) 0.0 else perQuery.sum / perQuery.size
    0
  }

  def writeAmp: Double =
    (Fs.bytesUnder(Paths.get(root)) - bytesAtStart).toDouble / math.max(1L, userBytes)

  def spaceAmp: Double = {
    val ref = LakeInfo.referencedBytes(ctx, root)
    if (ref == 0) 1.0 else Fs.bytesUnder(Paths.get(root)).toDouble / ref
  }

  override def setupSpans: Boolean = true
  override def extraSpans: Seq[String] =
    Seq("ml.ivfpq_index", "ml.ivfpq_probe", "streaming.index_append")
  override def extraCounters: Seq[(String, String)] =
    Seq("functions.vecmath.ns_per_row" -> "ns")

  override def report: Seq[(String, Double, String)] =
    Seq(("recall_at_10", recall, "ratio"))

  override def layerMetrics(): Map[String, Double] = {
    // cosine kernel over one probe batch × the base corpus
    val qs = queryFrame(heldOut.take(QueryBatch).map(h => (h._1, h._2)))
      .select(col("v").as("a"))
    val pairs = qs.crossJoin(spark.read.parquet(embPath)
      .select(col("embedding").cast("array<double>").as("b"))).persist()
    Clock.noop(pairs)
    val n = pairs.agg(count(lit(1))).collect()(0).getLong(0).toDouble
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      Clock.noop(pairs.select(Similarity.cosine(col("a"), col("b"))))
      (System.nanoTime() - t0).toDouble
    }
    pairs.unpersist()
    val (compactions, rewritten) = LakeInfo.rewrites(ctx, root)
    Map(
      "functions.vecmath.ns_per_row" -> Stats.median(times) / math.max(1.0, n),
      "ingest.live_files" -> LakeInfo.liveFiles(ctx, root).toDouble,
      "ingest.versions" -> LakeInfo.versions(ctx, root).toDouble,
      "ingest.compactions" -> compactions.toDouble,
      "ingest.bytes_rewritten_mb" -> rewritten / 1e6)
  }
}

object AnnWorkload {
  val Dim = 64
  val Clusters = 32
  val Spread = 0.06
  val HeldOutShare = 0.1
  val QueryNoise = 0.02
  val QueryBatch = 16
  val AppendBatch = 32
  val AppendIdBase = 10000000L
  val K = 10
  val NList = 16
  val NProbe = 4
  val M = 8
  val KSub = 16
}
