package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table is shaped after the sf0.1 test
  * data (same schemas, row counts at scale 1) and is a pure function of
  * the seed, so one seed always yields the same inputs. */
object Gen {

  // ------------------------------------------------------------ documents

  /** The 31-word vocabulary of the sf0.1 corpus. */
  val Vocab: Array[String] = ("a agg batch big column customer data dup fast " +
    "filter group hash join key line merge order part query row scan slow " +
    "small sort spark stream table the value vector window").split(" ")
  /** Function words mixed in so the quality gates have signal. */
  val Function: Array[String] = Array("the", "of", "and", "to", "with", "in", "is", "a")
  val Langs: Array[(String, Double)] =
    Array("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val NSources = 20

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def row: Row = Row(id, text, lang, source, text.length.toLong)
  }

  /** The generated corpus, held on the driver: documents, eval documents,
    * the injected near-duplicate groups and the eval-overlap doc ids. */
  final case class Corpus(docs: Seq[Doc], eval: Seq[Doc],
      dupGroups: Seq[Seq[Long]], overlapIds: Set[Long])

  def docFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(_.row).asJava, DocSchema)

  /** Index drawn with probability proportional to its weight. */
  def pick(r: SplittableRandom, w: Array[Double]): Int = {
    var x = r.nextDouble() * w.sum
    var i = 0
    while (i < w.length - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(if (r.nextDouble() < 0.18) Function(r.nextInt(Function.length))
      else Vocab(r.nextInt(Vocab.length)))

  /** `nBase` documents of 20-140 words over Zipf-sized sources, plus
    * 1-3 near-duplicate copies (1-2 word substitutions) of 8% of them and
    * 2% eval-overlap documents carrying a 12-word span of an eval doc.
    * Doc ids are a seeded permutation, so copies are not always the
    * highest ids. */
  def corpus(seed: Long, nBase: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5eedc0de)
    val srcW = Array.tabulate(NSources)(i => 1.0 / math.pow(i + 1, 0.8))
    val langW = Langs.map(_._2)
    val nEval = math.max(10, nBase / 50)
    val eval = Array.fill(nEval)(words(r, 60 + r.nextInt(41)))
    // (words, lang, source, group, overlap)
    val raw = mutable.ArrayBuffer.empty[(Array[String], String, String, Int, Boolean)]
    var group = 0
    for (_ <- 0 until nBase) {
      val w = words(r, 20 + r.nextInt(121))
      val lang = Langs(pick(r, langW))._1
      val src = s"src${pick(r, srcW)}"
      val u = r.nextDouble()
      if (u < 0.08 && w.length >= 60) {
        raw += ((w, lang, src, group, false))
        for (_ <- 0 until 1 + r.nextInt(3)) {
          val v = w.clone()
          for (_ <- 0 until 1 + r.nextInt(2)) {
            val p = r.nextInt(v.length)
            var nw = v(p)
            while (nw == v(p)) nw = Vocab(r.nextInt(Vocab.length))
            v(p) = nw
          }
          raw += ((v, lang, src, group, false))
        }
        group += 1
      } else if (u < 0.10) {
        val e = eval(r.nextInt(nEval))
        val off = r.nextInt(e.length - 12)
        val at = r.nextInt(w.length)
        val v = w.take(at) ++ e.slice(off, off + 12) ++ w.drop(at)
        raw += ((v, lang, src, -1, true))
      } else raw += ((w, lang, src, -1, false))
    }
    // seeded permutation of doc ids
    val ids = (0L until raw.size.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docs = raw.indices.map { i =>
      val (w, lang, src, _, _) = raw(i)
      Doc(ids(i), w.mkString(" "), lang, src)
    }
    val groups = raw.indices.filter(raw(_)._4 >= 0).groupBy(raw(_)._4)
      .values.map(_.map(ids(_)).sorted.toSeq).toSeq.sortBy(_.head)
    val overlap = raw.indices.filter(raw(_)._5).map(ids(_)).toSet
    val evalDocs = eval.indices.map(i => Doc(EvalIdBase + i, eval(i).mkString(" "), "en", "eval"))
    Corpus(docs, evalDocs, groups, overlap)
  }

  /** Eval doc ids live far above corpus ids. */
  val EvalIdBase = 1000000000L

  // ------------------------------------------------------------ lineitem

  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val Day0: java.time.LocalDate = java.time.LocalDate.of(1992, 1, 1)
  val MicrosPerDay = 86400L * 1000000L
  /** Order dates of the base table span this many days from Day0. */
  val BaseDays = 2400
  /** Lines shipped after this day are still open (TPC-H's 1995-06-17). */
  val OpenAfterDay = 1263

  /** One lineitem row with its money columns as exact integers. */
  final case class Line(orderkey: Long, partkey: Long, suppkey: Long,
      linenumber: Int, qty: Int, priceCents: Long, discPct: Int, taxPct: Int,
      returnflag: String, linestatus: String, shipDay: Int) {
    def row: Row = Row(orderkey, partkey, suppkey, linenumber, qty.toDouble,
      priceCents / 100.0, discPct / 100.0, taxPct / 100.0, returnflag,
      linestatus, ts)
    def ts: java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Day0.plusDays(shipDay.toLong).toEpochDay * 86400L))
    def withQty(q: Int): Line = {
      val unit = priceCents / qty
      copy(qty = q, priceCents = unit * q)
    }
  }

  /** The lines of one order dated `orderDay`. */
  def order(r: SplittableRandom, orderkey: Long, orderDay: Int): Seq[Line] =
    (1 to 1 + r.nextInt(7)).map { ln =>
      val qty = 1 + r.nextInt(50)
      val unitCents = 90000L + r.nextInt(110000)
      val ship = orderDay + 1 + r.nextInt(121)
      val open = ship > OpenAfterDay
      Line(orderkey, 1 + r.nextInt(20000), 1 + r.nextInt(1000), ln, qty,
        unitCents * qty, r.nextInt(11), r.nextInt(9),
        if (open) "N" else if (r.nextBoolean()) "R" else "A",
        if (open) "O" else "F", ship)
    }

  /** Base order `k` (~4 lines) with an order date unrelated to its key,
    * as in TPC-H. Each order has its own generator, so the table can be
    * produced in parallel and re-derived on the driver. */
  def baseOrder(seed: Long, k: Long): Seq[Line] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k)
    order(r, k, r.nextInt(BaseDays))
  }

  def baseLines(seed: Long, nOrders: Int): Array[Line] =
    (1L to nOrders.toLong).iterator.flatMap(baseOrder(seed, _)).toArray

  /** The base table as a distributed frame (same rows as [[baseLines]]). */
  def baseFrame(spark: SparkSession, seed: Long, nOrders: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext
      .parallelize(1L to nOrders.toLong, 8)
      .flatMap(k => baseOrder(seed, k).map(_.row)), LineSchema)

  def lineFrame(spark: SparkSession, lines: Seq[Line]): DataFrame =
    spark.createDataFrame(lines.map(_.row).asJava, LineSchema)

  /** Spark's own xxhash64 (seed 42, the `functions.xxhash64` default) of
    * a line's columns followed by `extra` string columns, evaluated on the
    * driver: equal to `xxhash64(cols...)` over the same row as stored. */
  def lineHash(l: Line, extra: Seq[String]): Long = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
    import org.apache.spark.unsafe.types.UTF8String
    val n = LineSchema.size + extra.size
    val expr = hashExprs.getOrElseUpdate(n, XxHash64((LineSchema.fields.map(_.dataType) ++
      Seq.fill(extra.size)(StringType)).zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true) }.toSeq, 42L))
    val micros = Day0.plusDays(l.shipDay.toLong).toEpochDay * MicrosPerDay
    expr.eval(InternalRow.fromSeq(Seq(l.orderkey, l.partkey, l.suppkey, l.linenumber,
      l.qty.toDouble, l.priceCents / 100.0, l.discPct / 100.0, l.taxPct / 100.0,
      UTF8String.fromString(l.returnflag), UTF8String.fromString(l.linestatus), micros) ++
      extra.map(UTF8String.fromString))).asInstanceOf[Long]
  }
  private val hashExprs = mutable.Map.empty[Int,
    org.apache.spark.sql.catalyst.expressions.XxHash64]

  // ------------------------------------------------------------ embeddings

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Unit vectors drawn around `nClusters` random unit centres. */
  final class VecSource(seed: Long, dim: Int, nClusters: Int) {
    private val r = new SplittableRandom(seed ^ 0xa22L)
    val centres: Array[Array[Double]] = Array.fill(nClusters)(unit(Array.fill(dim)(gauss(r))))
    /** Zipf-like weights: a few clusters (IVF lists) hold most queries. */
    val queryWeights: Array[Double] = Array.tabulate(nClusters)(i => 1.0 / (i + 1))

    def draw(rr: SplittableRandom, cluster: Int, spread: Double): Array[Float] =
      unit(centres(cluster).map(_ + spread * gauss(rr))).map(_.toFloat)
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller on SplittableRandom (no shared java.util.Random state)
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def embFrame(spark: SparkSession, rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v, l) =>
      Row(id, v.toSeq, l) }.asJava, EmbSchema)

}
