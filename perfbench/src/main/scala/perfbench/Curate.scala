package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Bpe, BpeTable}
import graft.ingest.SnapshotLake
import graft.ml.{Corpus, Dedup, TextAnalysis}

/** `curate`: the composed curation pipeline as one batch pass over the
  * generated corpus — land → quality → near-dedup → decontamination →
  * mix → pack — with every stage's survivors committed to its own
  * SnapshotLake. One cycle is one pass (six operations, one per stage);
  * each pass starts from fresh lake roots. */
final class CurateWorkload(ctx: Ctx) extends Workload(ctx) {
  import CurateWorkload._

  private val nBase = math.max(100, (5000 * ctx.scale).toInt)
  private val corpusPath = ctx.path("input/documents.parquet")
  private val evalPath = ctx.path("input/eval.parquet")
  private var ref: CurateRef = _
  private var pass = 0
  private var passRoot: String = _
  private var written = 0L
  private var submitted = 0L
  private var lastSpaceAmp = 1.0
  // traced-run counters
  private var pairYield = Double.NaN

  def generate(): Unit = {
    val gen = Gen.corpus(ctx.seed, nBase)
    Gen.docFrame(spark, gen.docs).write.parquet(corpusPath)
    Gen.docFrame(spark, gen.eval).write.parquet(evalPath)
    ref = new CurateRef(gen)
  }

  /** One pass over a slice while the JIT is cold. */
  override def warmup(): Unit = { slicePass("warm", 49); afterSetup("warm") }

  /** Set-up is one pass over a fiftieth of the corpus: what a session
    * pays to get the pipeline going before its first full pass. */
  def setup(rep: Int): Unit = slicePass(rep.toString, rep % 49)

  override def afterSetup(rep: Int): Unit = afterSetup(rep.toString)

  def cycleSeconds: Double = 6.0

  private def afterSetup(tag: String): Unit = Fs.deleteTree(Paths.get(ctx.path(s"setup$tag")))

  private def slicePass(tag: String, slice: Int): Unit =
    runPass(ctx.path(s"setup$tag"),
      spark.read.parquet(corpusPath).filter(col("doc_id") % 50 === slice))

  private def lakeAt(root: String, stage: String) = new SnapshotLake(s"$root/$stage")
  private def snapshot(root: String, stage: String): DataFrame =
    spark.read.format("snaplake").load(s"$root/$stage")

  /** The six stages as (span name, run); each commits its survivors. */
  private def stages(root: String, raw: DataFrame): Seq[(String, () => Unit)] = {
    val eval = spark.read.parquet(evalPath)
    def commit(stage: String, df: DataFrame): Unit = {
      tracer.plan(df)
      lakeAt(root, stage).commit(df)
    }
    Seq(
      "ingest.commit" -> (() => commit("raw", raw)),
      "ml.quality" -> { () =>
        val docs = snapshot(root, "raw")
        val gopher = TextAnalysis.gopherRules(docs).filter(col("pass")).select("doc_id")
        val top = Corpus.qualityFilter(docs).select("doc_id")
        commit("quality", docs.join(gopher, "doc_id").join(top, "doc_id"))
      },
      "ml.dedup" -> { () =>
        val docs = snapshot(root, "quality")
        val clusters = Dedup.dupClusters(Dedup.minhashDupPairs(docs, DupThreshold))
        val keep = Dedup.keepCanonical(docs, clusters).select("doc_id")
        commit("dedup", docs.join(keep, "doc_id"))
      },
      "ml.decontam" -> { () =>
        val docs = snapshot(root, "dedup")
        val both = docs.select(col("doc_id"), col("text"), lit(false).as("is_eval"))
          .unionByName(eval.select(col("doc_id"), col("text"), lit(true).as("is_eval")))
        val hit = Corpus.contamination(both, col("is_eval"), NGram).select("doc_id")
        commit("decontam", docs.join(hit, Seq("doc_id"), "left_anti"))
      },
      "ml.mix" -> { () =>
        val docs = snapshot(root, "decontam")
        val capped = graft.plans.TopK.perKey(docs, Seq("source"),
          Seq(("n_chars", false), ("doc_id", true)), DomainCap)
        val kept = Corpus.temperatureSample(capped, Temperature).select("doc_id")
        commit("mix", capped.join(kept, "doc_id"))
      },
      "ml.pack" -> { () =>
        val docs = snapshot(root, "mix")
        commit("pack", Corpus.packSequencesBy(docs, Bpe.tokenCount(col("text")), SeqBudget))
      })
  }

  private def runPass(root: String, raw: DataFrame): Seq[Op] = {
    val ops = stages(root, raw).map { case (name, run) =>
      op("stage", name)(tracer.span(name)(run()))(check(root, name))
    }
    spark.catalog.clearCache()
    ops
  }

  def cycle(): Seq[Op] = {
    if (passRoot != null) Fs.deleteTree(Paths.get(passRoot))
    passRoot = ctx.path(s"pass$pass")
    pass += 1
    val ops = runPass(passRoot, spark.read.parquet(corpusPath))
    written += Fs.bytesUnder(Paths.get(passRoot))
    submitted += Fs.bytesUnder(Paths.get(corpusPath))
    lastSpaceAmp = Fs.bytesUnder(Paths.get(passRoot)).toDouble /
      StageNames.map(s => LakeInfo.referencedBytes(ctx, s"$passRoot/$s")).sum
    if (tracer.enabled && pairYield.isNaN) pairYield = measurePairYield(passRoot)
    ops
  }

  /** Output checks, run after each stage of a timed pass outside the
    * timed interval: every stage's survivors, and the packed layout, must
    * equal the reference model's exactly. */
  private def check(root: String, stage: String): Boolean =
    if (root != passRoot) true
    else {
      def ids(lake: String) =
        snapshot(root, lake).select("doc_id").collect().map(_.getLong(0)).toSet
      stage match {
        case "ingest.commit" => sameIds(stage, ids("raw"), ref.raw)
        case "ml.quality" => sameIds(stage, ids("quality"), ref.quality)
        case "ml.dedup" => sameIds(stage, ids("dedup"), ref.dedup)
        case "ml.decontam" => sameIds(stage, ids("decontam"), ref.decontam)
        case "ml.mix" => sameIds(stage, ids("mix"), ref.mix)
        case "ml.pack" =>
          val rows = snapshot(root, "pack").select("doc_id", "n_tokens", "seq_id", "seq_offset")
            .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
              r.getAs[Number](2).longValue, r.getAs[Number](3).longValue))
            .sortBy(_._1).toSeq
          val got = if (plantOnce()) rows.drop(1) else rows
          val ok = got == ref.pack
          if (!ok) failures += s"ml.pack wrote ${got.size} rows against ${ref.pack.size} expected, " +
            s"${got.diff(ref.pack).size} differ from the reference"
          ok
        case _ => true
      }
    }

  /** A stage's surviving doc ids against the reference; with --plant the
    * first comparison is corrupted once. */
  private def sameIds(stage: String, got0: Set[Long], want: Set[Long]): Boolean = {
    val got = if (plantOnce()) got0 - got0.head else got0
    val (extra, missing) = (got -- want, want -- got)
    if (extra.nonEmpty || missing.nonEmpty)
      failures += s"$stage kept ${extra.size} docs it should drop and dropped ${missing.size} it should keep"
    extra.isEmpty && missing.isEmpty
  }

  /** Verified near-duplicate pairs ÷ LSH candidate pairs on the quality
    * survivors (traced runs only; not part of any span). */
  private def measurePairYield(root: String): Double = {
    val docs = snapshot(root, "quality")
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.shingled(docs)))
      .agg(count(lit(1))).collect()(0).getLong(0)
    val pairs = Dedup.minhashDupPairs(docs, DupThreshold).agg(count(lit(1)))
      .collect()(0).getLong(0)
    spark.catalog.clearCache()
    if (cands == 0) 0.0 else pairs.toDouble / cands
  }

  def writeAmp: Double = written.toDouble / math.max(1L, submitted)
  def spaceAmp: Double = lastSpaceAmp

  /** Kernel cost per row: a projection of one kernel into the noop sink
    * over the workload's own documents (cached first), median of five. */
  private def nsPerRow(input: DataFrame, kernel: DataFrame => DataFrame): Double = {
    val cached = input.persist()
    Clock.noop(cached)
    val n = cached.agg(count(lit(1))).collect()(0).getLong(0).toDouble
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); Clock.noop(kernel(cached)); (System.nanoTime() - t0).toDouble
    }
    cached.unpersist()
    Stats.median(times) / math.max(1.0, n)
  }

  override def layerMetrics(): Map[String, Double] = {
    val docs = spark.read.parquet(corpusPath)
    val lakes = StageNames.map(s => s"$passRoot/$s")
    val rewrites = lakes.map(LakeInfo.rewrites(ctx, _))
    Map(
      "ml.dedup.pair_yield" -> (if (pairYield.isNaN) 0.0 else pairYield),
      "ingest.live_files" -> lakes.map(LakeInfo.liveFiles(ctx, _)).sum.toDouble,
      "ingest.versions" -> lakes.map(LakeInfo.versions(ctx, _)).sum.toDouble,
      "ingest.compactions" -> rewrites.map(_._1).sum.toDouble,
      "ingest.bytes_rewritten_mb" -> rewrites.map(_._2).sum / 1e6,
      "functions.minhash.ns_per_row" -> nsPerRow(Dedup.shingled(docs).select("shingles"),
        _.select(graft.functions.MinHashSig.minhashSig(col("shingles"), Dedup.NumHashes))),
      "functions.bpe.ns_per_row" -> nsPerRow(docs.select("text"),
        _.select(Bpe.tokenCount(col("text")))))
  }
}

/** The benchmark's own model of one curation pass: every stage's
  * surviving doc ids and the packed layout, computed on the driver in
  * plain Scala from the generated corpus, following the documented
  * semantics of each library call (rounding as Spark's `round`, HALF_UP
  * over the decimal form of the double). Timed passes are checked
  * against it. */
final class CurateRef(c: Gen.Corpus) {
  import CurateRef._
  import CurateWorkload._

  private val byId: Map[Long, Gen.Doc] = c.docs.map(d => d.id -> d).toMap

  val raw: Set[Long] = byId.keySet

  /** `gopherRules` pass ∩ `qualityFilter` (stopword ratio strictly above
    * the corpus median, Spark's interpolated `percentile`). */
  val quality: Set[Long] = {
    val ratios = c.docs.map(d => d.id -> stopwordRatio(d.text))
    val med = round(percentile50(ratios.map(_._2)), 6)
    ratios.collect { case (id, r) if r > med && gopherPass(byId(id).text) => id }.toSet
  }

  /** `keepCanonical` over `dupClusters`: among the quality survivors, each
    * connected component of pairs with 5-shingle Jaccard ≥ the threshold
    * keeps its lowest id. Only the injected groups hold such pairs. */
  val dedup: Set[Long] = quality -- c.dupGroups.flatMap { g =>
    val in = g.filter(quality).sorted
    val sh = in.map(id => id -> shingles(byId(id).text, graft.ml.Dedup.ShingleWidth)).toMap
    val label = mutable.Map(in.map(i => i -> i): _*)
    def find(x: Long): Long = if (label(x) == x) x else find(label(x))
    for (a <- in; b <- in if a < b && jaccard(sh(a), sh(b)) >= DupThreshold) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) label(math.max(ra, rb)) = math.min(ra, rb)
    }
    in.filter(i => find(i) != i)
  }

  /** `contamination`: a doc sharing a word 8-gram with any eval doc goes. */
  val decontam: Set[Long] = {
    val evalGrams = c.eval.flatMap(e => shingles(e.text, NGram)).toSet
    dedup.filterNot(id => shingles(byId(id).text, NGram).exists(evalGrams))
  }

  /** `TopK.perKey` cap per source (n_chars desc, doc_id asc), then
    * `temperatureSample` over the capped docs. */
  val mix: Set[Long] = {
    val capped = decontam.toSeq.map(byId).groupBy(_.source).values
      .flatMap(_.sortBy(d => (-d.text.length, d.id)).take(DomainCap)).toSeq
    val tokens = capped.groupBy(_.source).map { case (s, ds) => s -> ds.map(d => wsTokens(d.text).toLong).sum }
    val nMin = tokens.values.min
    capped.filter { d =>
      val rate = round(StrictMath.pow(nMin.toDouble / tokens(d.source), Temperature), 6)
      md5Key(d.id.toString) % 1000000L < round(rate * 1e6, 0).toLong
    }.map(_.id).toSet
  }

  /** `packSequencesBy` over BPE token counts: (doc_id, n_tokens, seq_id,
    * seq_offset), docs concatenated in doc_id order. */
  val pack: Seq[(Long, Long, Long, Long)] = {
    var start = 0L
    mix.toSeq.sorted.map { id =>
      val n = bpeCount(byId(id).text).toLong
      val row = (id, n, start / SeqBudget, start % SeqBudget)
      start += n
      row
    }
  }
}

object CurateRef {
  private val GopherStops = Set("the", "be", "to", "of", "and", "that", "have", "with")
  private val Alpha = "[A-Za-z]".r

  def round(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  def wsTokens(text: String): Int = text.trim.split("\\s+", -1).length

  def gopherPass(text: String): Boolean = {
    val t = text.split(" ", -1)
    val n = t.length
    val meanLen = t.map(_.length).sum.toDouble / n
    val symbols = t.count(w => w.contains("#") || w.contains("...")).toDouble / n
    val alpha = t.count(w => Alpha.findFirstIn(w).isDefined).toDouble / n
    val stops = t.count(w => GopherStops(w.toLowerCase))
    n >= 50 && n <= 100000 && meanLen >= 3.0 && meanLen <= 10.0 &&
      symbols <= 0.1 && alpha >= 0.8 && stops >= 2
  }

  def stopwordRatio(text: String): Double = {
    val t = text.trim.split("\\s+", -1)
    val en = graft.ml.TextAnalysis.Stopwords("en").toSet
    round(t.count(en).toDouble / math.max(t.length, 1), 6)
  }

  /** Spark's exact `percentile(x, 0.5)`: linear interpolation between the
    * two middle values. */
  def percentile50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * 0.5
    val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
    if (lo == hi || s(lo.toInt) == s(hi.toInt)) s(lo.toInt)
    else (hi - pos) * s(lo.toInt) + (pos - lo) * s(hi.toInt)
  }

  /** Distinct word n-grams over the text split on single spaces. */
  def shingles(text: String, n: Int): Set[String] =
    text.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    round(inter.toDouble / (a.size + b.size - inter), 6)
  }

  /** First 8 hex digits of the md5 of `s`, as a number. */
  def md5Key(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    (0 until 4).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xff))
  }

  /** BPE token count, written apart from the engine's encoder: apply the
    * merge table rank by rank, one left-to-right non-overlapping pass per
    * merge, over the UTF-8 bytes. */
  def bpeCount(text: String): Int = {
    var cur = text.getBytes(UTF_8).map(_ & 0xff)
    for (((a, b), r) <- BpeTable.merges.zipWithIndex) {
      val next = Array.newBuilder[Int]
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) { next += 256 + r; i += 2 }
        else { next += cur(i); i += 1 }
      }
      cur = next.result()
    }
    cur.length
  }
}

object CurateWorkload {
  val StageNames = Seq("raw", "quality", "dedup", "decontam", "mix", "pack")
  val DupThreshold = 0.5
  val NGram = 8
  val DomainCap = 150
  val Temperature = 0.3
  val SeqBudget = 1024
}
