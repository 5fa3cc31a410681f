package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - Brute-force cosine top-k: broadcast the (small) query set against the
  *    corpus — O(|Q|·n), embarrassingly parallel, the correctness baseline.
  *  - Random-hyperplane LSH top-k: 16-bit sign sketch per vector, search
  *    only the query's bucket — the scale path (the shuffle key is the
  *    sketch, candidate sets are corpus/2^16 on average). Recall vs the
  *    brute-force baseline is asserted in ScalaTest.
  *
  * Cosine is a native codegen Expression ([[graft.functions.CosineSim]]):
  * sequential accumulation, bit-identical to DuckDB's
  * list_cosine_similarity for the oracle diff.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns — a native codegen
    * Expression (one fused sequential pass; bit-identical to the previous
    * interpreted aggregate/zip_with chains AND to DuckDB's
    * list_cosine_similarity, so oracle diffs stay exact). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The `n` lowest-id corpus vectors — the deterministic seed set every
    * sample codebook and coarse quantizer starts from. Fails fast when
    * the corpus is smaller than the requested seed count: silently
    * proceeding would yield a truncated codebook / cid gaps and garbage
    * scores downstream (the corpus-size analog of the dim % m guard).
    * The seeds are COLLECTED (n is a codebook-sized constant) and
    * returned as a LocalRelation: the validation job is the same
    * TakeOrdered the seed scan costs anyway, and every downstream use of
    * the codebook then reads literal rows instead of re-scanning the
    * corpus per consumer (pqCodes + pqAdcLut both consume it — measured
    * net win over the lazy form, not just guard-for-free). */
  private[ml] def seedVectors(corpus: DataFrame, n: Int,
      what: String): DataFrame = {
    val rows = corpus.orderBy(col("vec_id")).limit(n).collect()
    require(rows.length == n,
      s"$what needs $n corpus vectors to seed from, found only ${rows.length}")
    corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), corpus.schema)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding the query set). Deterministic tie-break on vec_id.
    */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = broadcast(
      emb.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv")))
    val corpus = emb.filter(!col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scored = corpus.crossJoin(queries)
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
    rankTopK(scored, k, "cos_sim")
  }

  /** nBits-bit random-hyperplane sketch of an array<double> column — a
    * native codegen Expression (one tight nBits × dim loop per row). The
    * earlier formulation was nBits interpreted `aggregate(zip_with(...))`
    * chains per row and dominated every LSH query's runtime; plane
    * generation (fixed LCG seed) is unchanged, so buckets are identical. */
  def sketch(v: Column, nBits: Int = 16, dim: Int = 64): Column =
    graft.functions.HyperplaneSketch.sketch(v, nBits, dim)

  /** LSH-bucketed approximate top-k: candidates share the query's sketch
    * bucket (plus all 1-bit-flip probes for recall). nBits sizes the
    * bucket space — pick ~log2(corpus)-3 so buckets hold a few dozen
    * vectors (16 bits ≈ a corpus of millions). */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, nBits: Int = 16,
      dim: Int = 64): DataFrame = {
    // dim is threadable like every other tier's (pqTopK, ivfpqIndex,
    // cosineDupPairsBanded): hardcoding the sketch's 64-component
    // default would silently bucket only a PREFIX of wider vectors —
    // recall degrades with no error (r13 review)
    val withSketch = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", sketch(col("v"), nBits, dim))
    val corpus = withSketch.filter(!col("vec_id").isin(queryIds: _*))
    require(nBits >= 1 && nBits <= 32, s"nBits out of range: $nBits")
    // multiprobe: query bucket + each single-bit flip (17 probes)
    val probes = array((lit(0L) +: (0 until nBits).map(b => shiftleft(lit(1L), b))): _*)
    val queries = broadcast(withSketch.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket")))
    val scored = corpus.join(queries, "bucket")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
    rankTopK(scored, k, "cos_sim")
  }

  /** IVF-Flat approximate top-k — the inverted-file ANN tier: corpus
    * vectors are assigned to their nearest of `nlist` coarse centroids;
    * a query scans only its `nprobe` nearest centroids' inverted lists
    * (cost ≈ nprobe/nlist of brute force, the classic IVF trade).
    *
    * The coarse quantizer is seeded deterministically (the `nlist`
    * lowest-id corpus vectors) instead of k-means — training is an
    * offline refinement that changes WHICH centroids exist, not the
    * search plan; determinism makes the whole pipeline oracle-checkable.
    * Assignment is one crossJoin with a broadcast centroid table + a
    * per-vector rank — at scale this is the standard nlist-way scan,
    * shuffling only (vec_id, cid) pairs.
    */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val corpus = all.filter(!col("vec_id").isin(queryIds: _*))
    val centroids = broadcast(seedVectors(corpus, nlist, "IVF coarse quantizer")
      .select(col("vec_id").as("cid"), col("v").as("cv")))
    // per-vector argmin as a map-side max_by aggregation, not a
    // row_number window: the window shuffled the full n×nlist crossjoin
    // (every vector nlist times through the exchange); max_by
    // partial-aggregates, so the exchange carries ~n rows. Tie-break
    // identical: max over (cos_c, -cid) = best similarity, lowest cid
    // (r13 review — same shape fixed in Clustering.assign,
    // encodeVectors, l2CoarseAssign).
    val assigned = corpus.crossJoin(centroids)
      .withColumn("cos_c", round(cosine(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("cid")),
        struct(col("cos_c"), -col("cid"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.cid").as("cid"))
    val queries = broadcast(all.filter(col("vec_id").isin(queryIds: _*))
      .crossJoin(centroids)
      .withColumn("cos_c", round(cosine(col("v"), col("cv")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cid"))))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cid")))
    val scored = assigned.join(queries, "cid")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
    rankTopK(scored, k, "cos_sim")
  }

  /** PQ-ADC approximate top-k — the memory-compressed ANN tier: each
    * corpus vector is stored as `m` sub-codes (one per `dim/m`-wide
    * subspace, each the nearest of `ksub` per-subspace centroids), and a
    * query scores a vector WITHOUT touching it — an asymmetric-distance
    * (ADC) lookup: score = Σ over subspaces of ⟨query-subvector,
    * centroid[code]⟩, i.e. the inner product with the PQ reconstruction.
    * At 100 TB this is the tier that changes the economics: the scan
    * reads m log₂(ksub)-bit codes per vector (4 bytes here vs 256 for
    * the raw floats — 64×) and the per-query work is an m×ksub lookup
    * table plus one table-lookup sum per vector; the float vectors are
    * never shuffled or scanned after encoding.
    *
    * The codebook is seeded deterministically per subspace (the
    * subvectors of the `ksub` lowest-id corpus vectors) for the same
    * reason as [[ivfTopK]]'s coarse quantizer: Lloyd refinement (see
    * `Clustering.kmeans`) changes WHICH centroids exist, not the
    * encode/ADC plan, and determinism makes the whole pipeline
    * oracle-checkable. Per-subspace partial dots are fixed-point rounded
    * (×1e6 to longs) before the sum so aggregation order cannot shift an
    * ulp between engines.
    *
    * Output: (query_id, rank, vec_id, adc_dot) — ranked by the ADC inner
    * product, ties to vec_id.
    */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame =
    pqTopKWith(emb, queryIds, k, m, dim,
      pqSampleCodebook(emb, queryIds, m, ksub, dim))

  /** [[pqTopK]] with `iters` rounds of per-subspace Lloyd refinement on
    * the codebook — the offline training step that closes most of the
    * sample-codebook recall gap (MlSpec measures it). Centroid means
    * average floating-point sums whose order Spark does not fix, so the
    * trained variant is for pipelines, not the byte-exact oracle — the
    * scored row stays on the deterministic sample codebook. Empty
    * clusters keep their previous centroid (the standard fallback). */
  def pqTopKTrained(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, ksub: Int = 16, dim: Int = 64, iters: Int = 5): DataFrame =
    pqTopKWith(emb, queryIds, k, m, dim,
      pqTrainCodebook(emb, queryIds, m, ksub, dim, iters))

  /** `iters` rounds of per-subspace Lloyd over the sample codebook.
    * Exposed so callers (and the distortion spec) can inspect the
    * trained centroids. */
  def pqTrainCodebook(emb: DataFrame, queryIds: Seq[Long], m: Int,
      ksub: Int, dim: Int, iters: Int): DataFrame = {
    val dsub = dim / m
    val spark = emb.sparkSession
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(!col("vec_id").isin(queryIds: _*))
    val subVecs = corpus
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))
      .localCheckpoint() // reused every Lloyd round
    // The codebook lives as COLLECTED rows between rounds (r17, guide
    // §1.2 step 1 / §5 driver — the seedVectors LocalRelation device):
    // it is a codebook-sized constant (m·ksub rows), so each round's
    // blocking action is the means collect the round needs anyway, and
    // the next round's corpus join reads literal rows instead of
    // re-scanning a 32-partition checkpoint inside its broadcast build —
    // one fewer driver-blocking job per round, and the empty-cluster
    // merge (means ∪ kept) becomes driver-side set algebra instead of a
    // left_anti join subplan. Values are untouched: collect round-trips
    // doubles bit-exactly, and every consumer joins/aggregates with
    // explicit tie-breaks, so row order is immaterial.
    val seed = pqSampleCodebook(emb, queryIds, m, ksub, dim)
    val cbSchema = seed.schema
    def local(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), cbSchema))
    var rows: Seq[org.apache.spark.sql.Row] = seed.collect().toSeq
    (1 to iters).foreach { _ =>
      val codebook = local(rows)
      val wAsg = Window.partitionBy(col("vec_id"), col("sub"))
        .orderBy(col("d"), col("cid"))
      val assigned = subVecs.join(codebook, "sub")
        .withColumn("d", pqL2sq(col("sv"), col("cv")))
        .withColumn("rk", row_number().over(wAsg)).filter(col("rk") === 1)
        .select(col("sub"), col("cid"), col("sv"))
      val means = assigned
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos")).agg(avg(col("x")).as("x"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          s => s.getField("x")).as("cv"))
      // empty clusters vanish from `means`; keep their old centroid
      val meanRows = means.collect().toSeq
      val got = meanRows.map(r => (r.getInt(0), r.getInt(1))).toSet
      rows = meanRows ++ rows.filterNot(r => got((r.getInt(0), r.getInt(1))))
    }
    local(rows)
  }

  /** Total squared-L2 encoding distortion of `emb`'s corpus under a
    * (sub, cid, cv) codebook — the quantity Lloyd monotonically
    * decreases; the spec asserts trained < sample. */
  def pqDistortion(emb: DataFrame, queryIds: Seq[Long], m: Int, dim: Int,
      codebook: DataFrame): Double =
    pqDistortionDF(emb, queryIds, m, dim, codebook).head.getDouble(0)

  /** Lazy 1-row-DataFrame twin of [[pqDistortion]] — composable into a
    * scored query plan (crossJoin against other aggregate envelopes)
    * without a driver-side action at build time. */
  def pqDistortionDF(emb: DataFrame, queryIds: Seq[Long], m: Int, dim: Int,
      codebook: DataFrame): DataFrame = {
    val dsub = dim / m
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(!col("vec_id").isin(queryIds: _*))
    val subVecs = corpus
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))
    // coalesce: an all-query (empty) corpus sums ZERO rows to NULL and
    // the eager twin's head.getDouble crashed — zero vectors have zero
    // total distortion (degenerate-input class, r16 audit)
    subVecs.join(broadcast(codebook), "sub")
      .withColumn("d", pqL2sq(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("sub")).agg(min(col("d")).as("d"))
      .agg(coalesce(sum(col("d")), lit(0.0)).as("pq_sse"))
  }

  /** Total squared-L2 distortion of a coarse quantizer over `corpus`
    * (vec_id, v) — 1-row DataFrame, the coarse analog of
    * [[pqDistortionDF]]: the quantity the Lloyd rounds of
    * [[l2CoarseCentroids]] monotonically decrease relative to the raw
    * seed anchors. */
  def coarseDistortionDF(corpus: DataFrame, centroids: DataFrame): DataFrame =
    l2CoarseAssign(corpus, centroids)
      .agg(coalesce(sum(pqL2sq(col("v"), col("lv"))), lit(0.0))
        .as("coarse_sse"))

  private[ml] def pqL2sq(a: Column, b: Column): Column =
    // native codegen kernel (r16, guide "expressions and codegen"): the
    // interpreted `aggregate(zip_with(...))` HOF spelling ran per element
    // through the interpreter on every PQ encode/train/distortion pass
    // (n·m·ksub evaluations per corpus scan). L2Sq accumulates
    // sequentially in element order with the identical per-element IEEE
    // form, so values — and the DuckDB oracle replays written against
    // the HOF spelling — are bit-identical (VecMathParitySpec pins it).
    round(graft.functions.L2Sq.l2sq(a, b), 6)

  /** Sequential-fold inner product — the cross-engine determinism
    * contract for every fixed-point ADC term; ONE definition so the
    * LUT entries and the residual tier's coarse term cannot diverge.
    * Codegen kernel since r16, bit-identical to the HOF spelling (see
    * [[pqL2sq]]). */
  private[ml] def pqDot(a: Column, b: Column): Column =
    graft.functions.DotSeq.dot(a, b)

  /** Deterministic sample codebook: (sub, cid, cv) from the `ksub`
    * lowest-id corpus vectors' subvectors. */
  def pqSampleCodebook(emb: DataFrame, queryIds: Seq[Long],
      m: Int, ksub: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(!col("vec_id").isin(queryIds: _*))
    broadcast(
      seedVectors(corpus, ksub, "PQ sample codebook")
        .withColumn("cid",
          row_number().over(Window.orderBy(col("vec_id"))) - 1)
        .select(col("cid"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
          col("v"))
        .select(col("sub"), col("cid"),
          slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("cv")))
  }

  /** PQ codes: nearest centroid per (vector, subspace), rounded-distance
    * + cid tie-break so the argmin is engine-identical. ONE
    * implementation shared by the plain and IVF-composed tiers — the
    * MlSpec full-probe identity (ivfpq at nprobe==nlist ≡ pq) depends on
    * the encodings never diverging. */
  private[ml] def pqCodes(corpus: DataFrame, codebook: DataFrame, m: Int,
      dsub: Int): DataFrame = {
    val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d"), col("cid"))
    corpus
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))
      .join(codebook, "sub")
      .withColumn("d", pqL2sq(col("sv"), col("cv")))
      .withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("cid"))
  }

  /** ADC lookup table: fixed-point partial inner products per (query,
    * sub, cid) — |Q| × m × ksub rows, meant to broadcast. Shared by
    * both tiers for the same reason as [[pqCodes]]. */
  private[ml] def pqAdcLut(queries: DataFrame, codebook: DataFrame, m: Int,
      dsub: Int): DataFrame = {
    queries
      .select(col("vec_id").as("query_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("query_id"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("qsv"))
      .join(codebook, "sub")
      .select(col("query_id"), col("sub"), col("cid"),
        round(pqDot(col("qsv"), col("cv")) * 1e6).cast("long").as("pfix"))
  }

  /** Per-query rank over a scored (query_id, vec_id, adc_dot) frame —
    * the ONE ranking tail every ADC tier ends with (tie-break contract
    * lives here and nowhere else). */
  private[ml] def rankTopK(scored: DataFrame, k: Int,
      scoreCol: String = "adc_dot"): DataFrame = {
    // parameterized on the score column (r13 review): the cosine tiers
    // (bruteForceTopK/lshTopK/ivfTopK/exactRerank) repeated this exact
    // tail with "cos_sim" — the tie-break contract lives HERE and
    // nowhere else, for every tier
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col(scoreCol))
  }

  /** Fixed-point ADC sum per (query, vec) + per-query rank/top-k. */
  private def adcRank(codeLutJoined: DataFrame, k: Int): DataFrame =
    rankTopK(codeLutJoined
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("pfix")) / 1e6, 6).as("adc_dot")), k)

  private def pqTopKWith(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int, dim: Int, codebookIn: DataFrame): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val corpus = all.filter(!col("vec_id").isin(queryIds: _*))
    val codebook = broadcast(codebookIn)
    val codes = pqCodes(corpus, codebook, m, dsub)
    val lut = broadcast(pqAdcLut(
      all.filter(col("vec_id").isin(queryIds: _*)), codebook, m, dsub))
    adcRank(codes.join(lut, Seq("sub", "cid")), k)
  }

  /** IVF-ADC approximate top-k — [[ivfTopK]]'s inverted lists combined
    * with [[pqTopK]]'s code-only scoring, the standard production ANN
    * composition (FAISS's IVFPQ, non-residual form): a query probes its
    * `nprobe` nearest coarse lists and ADC-scores ONLY those lists'
    * PQ codes. Cost per query ≈ (nprobe/nlist) × (code-scan of PQ), so
    * the two speedups multiply: the scan touches a fraction of the
    * corpus AND reads 4-byte codes instead of vectors. Production
    * systems encode residuals (v − coarse centroid) for tighter
    * quantization; the non-residual form here keeps every stage exactly
    * replayable in the DuckDB oracle, and the residual refinement —
    * like Lloyd training — changes the codebook, not the plan.
    */
  def ivfpqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      dim: Int = 64): DataFrame = {
    val index = ivfpqIndex(emb, queryIds, nlist, m, ksub, dim)
    val queries = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("vec_id").isin(queryIds: _*))
    ivfpqProbe(index, queries, k, nprobe)
  }

  /** The query-independent half of [[ivfpqTopK]], reified: coarse
    * centroids, the PQ codebook, and the corpus's PQ codes keyed by
    * their inverted list (`lid`). Build once, probe many times — the
    * batch query composes it with one probe set; the streaming tier
    * ([[graft.streaming.AnnStreams]]) probes it per micro-batch.
    * `centroids` and `codebook` are collected LocalRelations (codebook
    * constants), so a probe plans no corpus scan for them; `codes` is
    * the one corpus-sized table. */
  final case class IvfPqIndex(centroids: DataFrame, codebook: DataFrame,
      codes: DataFrame, m: Int, dim: Int)

  /** Build the frozen [[IvfPqIndex]] for `emb` minus `excludeIds` —
    * exactly [[ivfpqTopK]]'s list assignment + encoding (the shared
    * pqCodes helper, so the index cannot drift from pqTopK's encoding).
    * `eager = true` localCheckpoints the codes pre-partitioned by `lid`:
    * encoding runs ONCE and every later probe joins the materialized
    * codes on the list key without re-scanning the float vectors.
    * localCheckpoint blocks live on executors, so eager mode fits a
    * single process and bounded restarts (tests, local streams) — an
    * executor loss on a real cluster discards blocks whose truncated
    * lineage cannot recompute, killing every later probe. A production
    * long-running stream should instead WRITE the codes table once
    * (parquet partitioned by `lid`, e.g. under a
    * [[graft.ingest.SnapshotLake]]) and build the index over the read
    * frame — same plan, durable storage. The lazy default keeps the
    * one-shot batch query free of checkpoint I/O. */
  def ivfpqIndex(emb: DataFrame, excludeIds: Seq[Long], nlist: Int = 16,
      m: Int = 8, ksub: Int = 16, dim: Int = 64,
      eager: Boolean = false): IvfPqIndex = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(!col("vec_id").isin(excludeIds: _*))
    // coarse quantizer + list assignment: exactly ivfTopK's
    val centroids = broadcast(
      seedVectors(corpus, nlist, "IVF-ADC coarse quantizer")
        .select(col("vec_id").as("lid"), col("v").as("lv")))
    val codebook = pqSampleCodebook(emb, excludeIds, m, ksub, dim) // broadcast
    val codesByList = encodeVectors(centroids, codebook, m, dsub)(corpus)
    val codes =
      if (eager) codesByList.repartition(col("lid")).localCheckpoint()
      else codesByList
    IvfPqIndex(centroids, codebook, codes, m, dim)
  }

  /** TRAINED [[IvfPqIndex]] build — the retrain half of FAISS's
    * retrain-and-re-add semantics: the coarse quantizer is L2-Lloyd
    * refined over the CURRENT corpus ([[l2CoarseCentroids]], `coarseIters`
    * rounds) and the PQ codebook Lloyd-trained ([[pqTrainCodebook]],
    * `pqIters` rounds), then everything is encoded under the new
    * quantizer via the same [[encodeVectors]] the frozen tier uses —
    * assignment and probing stay cosine-metric, so a trained index probes
    * through the unchanged [[ivfpqProbe]].
    *
    * This is what bounds quantization drift on a growing corpus: the
    * deterministic sample quantizer ([[ivfpqIndex]]) anchors on the
    * lowest-id seed vectors forever, so a distribution that moves (new
    * topic clusters, embedding-model updates) accumulates unbounded
    * reconstruction error; Lloyd rounds move the centroids to wherever
    * the mass now is. Trained centroids are float means (summation-order
    * nondeterminism), so this tier is spec-tested, not oracle-scored —
    * the [[ivfpqTopKResidual]] precedent. Training cost is
    * `coarseIters + pqIters` corpus passes, each one agg job — the
    * offline price of the rebuild, never on the probe path. */
  def ivfpqIndexTrained(emb: DataFrame, excludeIds: Seq[Long],
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, dim: Int = 64,
      coarseIters: Int = 5, pqIters: Int = 3,
      eager: Boolean = false): IvfPqIndex = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(!col("vec_id").isin(excludeIds: _*))
    val centroids = broadcast(l2CoarseCentroids(corpus, nlist, coarseIters))
    val codebook = pqTrainCodebook(emb, excludeIds, m, ksub, dim, pqIters)
    val codesByList = encodeVectors(centroids, codebook, m, dsub)(corpus)
    val codes =
      if (eager) codesByList.repartition(col("lid")).localCheckpoint()
      else codesByList
    IvfPqIndex(centroids, codebook, codes, m, dim)
  }

  /** (lid, vec_id, sub, cid) rows for `vecs` (vec_id, v) under a frozen
    * quantizer — ONE implementation shared by the index build and
    * [[ivfpqEncode]], so grown rows cannot encode differently from
    * built ones. */
  private def encodeVectors(centroids: DataFrame, codebook: DataFrame,
      m: Int, dsub: Int)(vecs: DataFrame): DataFrame = {
    // map-side max_by argmin, same rationale and identical tie-break
    // as ivfTopK's assignment (r13 review)
    val lists = vecs.crossJoin(centroids)
      .withColumn("cos_c", round(cosine(col("v"), col("lv")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(col("lid"), struct(col("cos_c"), -col("lid"))).as("lid"))
    lists.join(pqCodes(vecs, codebook, m, dsub), "vec_id")
      .select(col("lid"), col("vec_id"), col("sub"), col("cid"))
  }

  /** Encode NEW vectors under a frozen index's quantizer — FAISS add()
    * semantics: the coarse centroids and PQ codebook never move, so
    * growing the index is APPENDING these (lid, vec_id, sub, cid) rows
    * to the code table; nothing existing is touched, no retraining, and
    * a replayed append writes byte-identical rows (benign duplicates a
    * reader collapses on (vec_id, sub)). The quantization drift that
    * accumulates as the corpus distribution moves is the documented
    * trade; production periodically re-trains offline and swaps the
    * whole index — a new [[ivfpqIndex]] build — exactly like any other
    * frozen-artifact refresh ([[graft.ml.ResidualFreeze]], BpeTable). */
  def ivfpqEncode(index: IvfPqIndex, vectors: DataFrame): DataFrame =
    encodeVectors(index.centroids, index.codebook, index.m,
      index.dim / index.m)(vectors)

  /** Probe a frozen [[IvfPqIndex]] with a query frame
    * `(vec_id, v: array<double>)`: each query ADC-scores only its
    * `nprobe` nearest lists' codes. The query side (probes + LUT) is
    * broadcast — |Q| × nprobe and |Q| × m × ksub rows — so the only
    * shuffle is the per-(query, vec) ADC sum; the corpus-sized codes
    * table is scanned, never re-encoded. Output contract is
    * [[rankTopK]]'s: (query_id, rank, vec_id, adc_dot). */
  def ivfpqProbe(index: IvfPqIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    val dsub = index.dim / index.m
    val probes = broadcast(queries.crossJoin(index.centroids)
      .withColumn("cos_c", round(cosine(col("v"), col("lv")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("lid"))))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("lid")))
    val lut = broadcast(pqAdcLut(queries, index.codebook, index.m, dsub))
    // candidates: codes in probed lists; ADC sum over their codes
    adcRank(index.codes.join(probes, "lid")
      .join(lut, Seq("query_id", "sub", "cid")), k)
  }

  /** ADC-retrieve + EXACT-rerank — the refinement stage production ANN
    * stacks end with (FAISS's `IndexRefineFlat`): [[ivfpqTopK]] retrieves
    * `rerankK` candidates in the compressed domain, then ONLY those
    * candidates' raw vectors are fetched and re-scored with the exact
    * cosine, and the final top-`k` is ranked on the exact score. ADC
    * quantization error now only matters when it reorders a true
    * neighbor across the rerankK boundary, so recall approaches the
    * IVF probe recall at rerankK while the reported scores are exact —
    * the property downstream thresholds (dedup τ, contamination cutoffs)
    * need. At 100 TB the economics hold: the scan stays 4-byte codes;
    * the float fetch is |Q| × rerankK point lookups (a vec_id equi-join
    * against the corpus, prunable by any vec_id layout), never a scan.
    * Output: (query_id, rank, vec_id, cos_sim) — exact scores. */
  def ivfpqTopKReranked(emb: DataFrame, queryIds: Seq[Long], k: Int,
      rerankK: Int = 20, nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
      ksub: Int = 16, dim: Int = 64): DataFrame = {
    require(rerankK >= k, s"rerankK=$rerankK must be >= k=$k")
    val cands = ivfpqTopK(emb, queryIds, rerankK, nlist, nprobe, m, ksub, dim)
      .select(col("query_id"), col("vec_id"))
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    exactRerank(cands, corpus, queries, k)
  }

  /** Exact-cosine rerank of a (query_id, vec_id) candidate frame: fetch
    * only the candidates' raw vectors from `corpus` (vec_id, v), score
    * against the query vectors (query_id, qv), rank top-k per query.
    * The candidate frame is |Q| × rerankK rows and is BROADCAST — so the
    * float fetch really is a map-side probe of the corpus scan, not a
    * corpus-wide shuffle on vec_id (without the hint Catalyst has no
    * size info for the window-filtered frame and plans a sort-merge
    * join). ONE implementation shared by the batch two-phase stack
    * ([[ivfpqTopKReranked]]) and the streaming refine
    * ([[graft.streaming.AnnStreams]]), so the two cannot drift. */
  private[graft] def exactRerank(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(cands), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
    rankTopK(scored, k, "cos_sim")
  }

  /** L2 Lloyd coarse quantizer for the residual tier: seeds from the
    * nlist lowest-id vectors, `iters` assignment/mean rounds, empty
    * clusters keep their previous centroid. Residual encoding
    * PRESUPPOSES a trained L2 quantizer — with untrained sample anchors
    * in 64 dims, E‖v − c‖² ≈ 2E‖v‖² (uncorrelated anchor) and residuals
    * are LARGER than the vectors (measured: 743 vs 365 SSE on the
    * fixture corpus), which is why [[ivfTopK]]'s cosine sample
    * quantizer is not reused here. */
  private[ml] def l2CoarseAssign(corpus: DataFrame,
      centroids: DataFrame): DataFrame =
    // map-side min_by argmin (lowest distance, then lowest lid) — the
    // window form shuffled the n×nlist crossjoin with the FULL vector
    // and centroid payloads replicated per candidate (r13 review)
    corpus.crossJoin(broadcast(centroids))
      .withColumn("d", pqL2sq(col("v"), col("lv")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("v"), col("lid"), col("lv")),
        struct(col("d"), col("lid"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"),
        col("best.lid").as("lid"), col("best.lv").as("lv"))

  private[ml] def l2CoarseCentroids(corpus: DataFrame, nlist: Int,
      iters: Int): DataFrame = {
    // eager checkpoint: every Lloyd round scans the corpus; without the
    // barrier each round re-reads parquet and re-casts the floats
    // (iters × the decode cost, the same reuse shape pqTrainCodebook
    // already applies to its subvector frame)
    val mat = corpus.localCheckpoint()
    val spark = corpus.sparkSession
    val seeds = seedVectors(mat, nlist, "residual L2 coarse quantizer")
      .select(col("vec_id").as("lid"), col("v").as("lv"))
    // centroids live as COLLECTED rows between rounds — nlist-sized
    // constants; same rationale, value-identity and row-order argument
    // as pqTrainCodebook's codebook (r17): each round's blocking action
    // is the means collect, the per-round localCheckpoint + its
    // broadcast re-scan disappear, and the empty-cluster merge is
    // driver-side. Callers broadcast (or l2CoarseAssign does) as before.
    val cSchema = seeds.schema
    def local(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), cSchema)
    var rows: Seq[org.apache.spark.sql.Row] = seeds.collect().toSeq
    (1 to iters).foreach { _ =>
      val means = l2CoarseAssign(mat, local(rows))
        .select(col("lid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("lid"), col("pos")).agg(avg(col("x")).as("x"))
        .groupBy(col("lid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          s => s.getField("x")).as("lv"))
      val meanRows = means.collect().toSeq
      val got = meanRows.map(_.getLong(0)).toSet
      rows = meanRows ++ rows.filterNot(r => got(r.getLong(0)))
    }
    local(rows)
  }

  /** (assigned corpus with residuals, trained centroids) shared by the
    * residual scorer and the distortion probe. `assigned` is an EAGER
    * localCheckpoint, not a persist: the returned DataFrame outlives
    * this call, and a CacheManager entry would pin storage for the
    * session's lifetime with no handle for the caller to release —
    * checkpoint blocks are reclaimed by the ContextCleaner once the
    * result is garbage, so repeated calls cannot accumulate state. */
  private[ml] def residualParts(emb: DataFrame, queryIds: Seq[Long], nlist: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(!col("vec_id").isin(queryIds: _*))
    val centroids = l2CoarseCentroids(corpus, nlist, iters)
    // SubSeq: codegen twin of zip_with(v, lv, (x,c) => x−c) — the last
    // interpreted HOF in the residual tier (r17; bit-parity pinned in
    // VecMathParitySpec, zip_with padding contract included)
    val assigned = l2CoarseAssign(corpus, centroids)
      .withColumn("r", graft.functions.SubSeq.sub(col("v"), col("lv")))
      .select(col("vec_id"), col("lid"), col("r"))
      .localCheckpoint() // eager: feeds the codebook AND the encoding
    (assigned, centroids)
  }

  /** Residual sample codebook: [[pqSampleCodebook]] over the residual
    * frame (the same rename trick residualPqDistortion uses for
    * pqDistortion) — one codebook-construction contract everywhere. */
  private[ml] def residualCodebook(assigned: DataFrame, m: Int, ksub: Int,
      dim: Int): DataFrame =
    pqSampleCodebook(
      assigned.select(col("vec_id"), col("r").as("embedding")),
      Seq.empty, m, ksub, dim)

  /** RESIDUAL IVF-ADC — the production refinement the non-residual
    * [[ivfpqTopK]] scaladoc points at, in code: an L2-Lloyd-trained
    * coarse quantizer, vectors PQ-encoded as residuals
    * `v − centroid(list(v))` (a small ball around each trained centroid,
    * so the same codebook budget quantizes tighter — the spec asserts
    * the reconstruction-distortion win), and scoring split by linearity:
    * ⟨q, lv + cw⟩ = ⟨q, lv⟩ (per probed list) + ⟨q, cw⟩ (the same
    * global ADC lookup-table shape), both fixed-point. Trained
    * centroids mean float means, so this variant is spec-tested rather
    * than oracle-scored — like Lloyd PQ training, it changes the
    * codebook and reconstruction, not the plan shape.
    */
  def ivfpqTopKResidual(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      dim: Int = 64, coarseIters: Int = 5): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val (assigned, centroids) = residualParts(emb, queryIds, nlist, coarseIters)
    val codebook = residualCodebook(assigned, m, ksub, dim)
    val codes = pqCodes(assigned.select(col("vec_id"), col("r").as("v")),
      codebook, m, dsub)
    val queries = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("vec_id").isin(queryIds: _*))
    residualScore(assigned, codes, centroids, codebook, queries,
      k, nprobe, m, dsub)
  }

  /** Shared residual scoring tail — probed lists by L2 (the trained
    * quantizer's metric) with the fixed-point coarse term ⟨q, lv⟩, the
    * global ADC LUT, candidate join, fixed-point sum, rank. ONE
    * implementation so the spec-tested trained tier and the
    * oracle-scored frozen tier cannot drift (r13 review — they had
    * diverged into two verbatim copies; a tie-break or fixed-point
    * change landing in one would silently desynchronize the other). */
  private def residualScore(assigned: DataFrame, codes: DataFrame,
      centroids: DataFrame, codebook: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, m: Int, dsub: Int): DataFrame = {
    val probes = broadcast(queries.crossJoin(broadcast(centroids))
      .withColumn("d", pqL2sq(col("v"), col("lv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d"), col("lid"))))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("lid"),
        round(pqDot(col("v"), col("lv")) * 1e6).cast("long").as("coarse_fix")))
    val lut = broadcast(pqAdcLut(queries, codebook, m, dsub))
    val cands = assigned.select(col("vec_id"), col("lid")).join(probes, "lid")
    val scored = cands.join(codes, "vec_id")
      .join(lut, Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("vec_id"), col("coarse_fix"))
      .agg(sum(col("pfix")).as("res_fix"))
      .select(col("query_id"), col("vec_id"),
        round((col("coarse_fix") + col("res_fix")) / 1e6, 6).as("adc_dot"))
    rankTopK(scored, k)
  }

  /** [[ivfpqTopKResidual]] scored against the COMMITTED quantizer
    * ([[ResidualTable]]: L2-Lloyd-trained coarse centroids + residual
    * codebook, trained once offline on the sf0.001 fixture corpus and
    * frozen as fixed-point data — the BpeTable precedent). Freezing
    * removes the one nondeterminism the trained tier has (float means
    * whose summation order Spark does not fix), so every stage —
    * assignment, residual, encode, LUT, coarse term — replays exactly
    * in the DuckDB oracle. This is also the production deployment
    * shape: quantizers are trained offline on a sample and shipped as
    * artifacts; the 100 TB corpus only ever sees the frozen tables.
    */
  def ivfpqTopKResidualFrozen(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int = 4): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = emb.sparkSession
    val m = ResidualTable.m
    val dsub = ResidualTable.dim / m
    // explicit schemas, not toDF: encoder derivation via ScalaReflection
    // breaks in REPL classloaders (the documented sbt-console gotcha),
    // and the frozen tables are literal rows anyway
    val centroids = broadcast(spark.createDataFrame(
      ResidualTable.centroids.map { case (l, v) => Row(l, v) }.asJava,
      StructType(Seq(StructField("lid", LongType),
        StructField("lv", ArrayType(DoubleType))))))
    val codebook = broadcast(spark.createDataFrame(
      ResidualTable.codebook.map { case ((s, c), v) => Row(s, c, v) }.asJava,
      StructType(Seq(StructField("sub", IntegerType),
        StructField("cid", IntegerType),
        StructField("cv", ArrayType(DoubleType))))))
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val corpus = all.filter(!col("vec_id").isin(queryIds: _*))
    val assigned = l2CoarseAssign(corpus, centroids)
      .withColumn("r", graft.functions.SubSeq.sub(col("v"), col("lv")))
      .select(col("vec_id"), col("lid"), col("r"))
      .localCheckpoint() // feeds codes AND candidate lists
    val codes = pqCodes(assigned.select(col("vec_id"), col("r").as("v")),
      codebook, m, dsub)
    val queries = all.filter(col("vec_id").isin(queryIds: _*))
    residualScore(assigned, codes, centroids, codebook, queries,
      k, nprobe, m, dsub)
  }

  /** Reconstruction distortion of the RESIDUAL encoding: total squared
    * L2 between each corpus vector and `centroid(list) + codeword` —
    * comparable with [[pqDistortion]] (which reconstructs from the
    * codeword alone) under the same codebook budget. */
  def residualPqDistortion(emb: DataFrame, queryIds: Seq[Long], nlist: Int,
      m: Int, ksub: Int, dim: Int, coarseIters: Int = 5): Double = {
    val dsub = dim / m
    val (assigned, _) = residualParts(emb, queryIds, nlist, coarseIters)
    val codebook = residualCodebook(assigned, m, ksub, dim)
    // distortion of residual-vs-codeword == distortion of v vs (lv + cw)
    pqDistortion(
      assigned.select(col("vec_id"), col("r").as("embedding")),
      Seq.empty, m, dim, codebook)
  }

  /** Embedding near-duplicate pairs: banded sign-LSH candidates verified
    * with exact cosine >= threshold.
    *
    * Banding (default 128 bands × 4 bits) makes candidate generation
    * recall-GUARANTEED up to a ~1e-11 miss probability even at τ=0.45
    * (p = 1-acos(τ)/π per bit; P(miss) = (1-p^4)^128) — unlike a single
    * wide bucket, which misses most qualifying pairs. Exact verification
    * makes precision exact, so the output equals the brute-force pair set
    * (and is oracle-checked against it in the driver). Shuffles carry
    * (band, bucket) pairs and vec ids, never the vectors; the verify join
    * fetches vectors only for candidate ids.
    */
  def cosineDupPairs(emb: DataFrame, threshold: Double,
      nBands: Int = 128, rowsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    // Analytic path choice from the LSH S-curve: a random pair (cos ~ 0)
    // agrees with each hyperplane with p = 1/2, so it becomes a candidate
    // with probability 1-(1-2^-r)^b. When that is near 1 the banding
    // passes (almost) every pair and the band self-join materializes
    // ~b·n²/2^r rows only to re-derive the all-pairs set — strictly worse
    // than verifying all pairs directly. That regime is exactly the
    // low-threshold case (at τ=0.45, 128 bands × 4 bits → FP ≈ 0.9997).
    // Filtering-capable parameters (high τ, wide bands) take the banded
    // path; non-filtering ones take the exact broadcast path. Output is
    // identical either way — banding is recall-guaranteed and
    // verification exact.
    val fpPerRandomPair = 1.0 - math.pow(1.0 - math.pow(0.5, rowsPerBand), nBands)
    if (fpPerRandomPair > 0.05) cosineDupPairsExact(emb, threshold)
    else cosineDupPairsBanded(emb, threshold, nBands, rowsPerBand, dim)
  }

  /** Exact all-pairs verification as a TILED block-nested-loop — the
    * right tool when τ is too low for any sign-LSH S-curve to filter
    * (at τ=0.45 banding passes ~every random pair and just re-derives
    * the all-pairs set, paying the sketch for nothing).
    *
    * O(n²) cosines are inherent to exactness at a non-filtering τ; what
    * must NOT be O(n) is any single task's memory. Each vector gets a
    * block id `vec_id % B`; the unordered block-pair grid {(i,j): i≤j}
    * becomes the join key — the left side carries block i replicated to
    * tiles (i, i..B-1), the right side block j replicated to tiles
    * (0..j, j) — so the equi-join materializes each tile as one key
    * group of (n/B)×(n/B) work. Per-task state is the sort-merge
    * buffer of one tile's right rows: (n/B)·dim·8 bytes, a knob (B),
    * never the corpus; no side is broadcast (a 5M×64-float corpus is a
    * multi-GB broadcast — the plan this replaces). Replication cost is
    * B+1 copies of each vector through one exchange, i.e. O(n·B) —
    * linear, and irrelevant next to the quadratic cosine count that any
    * exact answer pays. B should scale as n·dim·8 / (per-task budget):
    * B=16 suits 10⁴–10⁵ vectors; a 5M corpus wants B≈512 (≈5 MB tile
    * sides, 130k uniform tiles).
    *
    * Pair coverage is exact-once: a cross-block pair {x,y} (bx<by)
    * appears only in tile (bx,by) with x on the left; a same-block pair
    * appears in tile (k,k) in both orientations and `id_l < id_r` keeps
    * one. `least/greatest` canonicalize the output ids (cosine is
    * symmetric), so the result equals the brute-force pair set row for
    * row — the oracle is unchanged.
    */
  def cosineDupPairsExact(emb: DataFrame, threshold: Double,
      nBlocks: Int = 16): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"),
      pmod(col("vec_id"), lit(nBlocks)).cast("int").as("blk"))
    val left = e.select(col("vec_id").as("id_l"), col("v").as("va"),
      col("blk").as("ta"),
      explode(sequence(col("blk"), lit(nBlocks - 1))).as("tb"))
    val right = e.select(col("vec_id").as("id_r"), col("v").as("vb"),
      explode(sequence(lit(0), col("blk"))).as("ta"),
      col("blk").as("tb"))
    left.join(right, Seq("ta", "tb"))
      .filter(col("ta") =!= col("tb") || col("id_l") < col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("vec_a"),
        greatest(col("id_l"), col("id_r")).as("vec_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Banded sign-LSH candidates + exact verify — the 100 TB path for real
    * dedup thresholds. With b bands × r rows, recall per qualifying pair is
    * 1-(1-p^r)^b (p = 1-acos(τ)/π): at τ=0.9 with 128×16 that is ~1-1e-5
    * per pair while a random pair collides with probability b/2^r ≈ 0.2%,
    * so shuffles carry (band, bucket, id) triples and candidate sets stay
    * bucket-sized. Verification is exact, so precision is exact.
    *
    * SIZING LAW: candidate volume is Σ over (band, bucket) of
    * C(bucket_size, 2) ≈ b·n²/2^(r+1) on uncorrelated data, so r must
    * grow with log₂(n) to keep buckets O(1) and the join linear-ish —
    * r and b are corpus-size knobs, not constants (r≈10 suits 10³–10⁴
    * vectors; a 10⁹-vector corpus wants r≈26-30 with b scaled to hold
    * the recall target per the formula above). Sketch cost b·r·dim per
    * vector is the linear price paid to avoid the quadratic join.
    */
  def cosineDupPairsBanded(emb: DataFrame, threshold: Double,
      nBands: Int = 128, rowsPerBand: Int = 16, dim: Int = 64): DataFrame = {
    // localCheckpoint, not persist: the sketch side feeds the banded
    // candidate pass and the verify lookups re-read `v`, so it must
    // materialize once — but the result OUTLIVES this call, and a
    // persist() here had no unpersist and no handle to release it, so
    // every invocation pinned a corpus-sized CacheManager entry for the
    // session's lifetime (r13 review). Checkpoint blocks are reclaimed
    // by the ContextCleaner once the result is garbage — the same
    // lifetime argument residualParts documents. The eager barrier is
    // one extra scheduling round over the embedding scan; the sketch
    // compute itself runs exactly once either way.
    val withSketch = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bands",
        graft.functions.HyperplaneBands.bands(col("v"), nBands, rowsPerBand, dim))
      .localCheckpoint()
    val banded = withSketch.select(col("vec_id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val cands = graft.ops.Skew.bucketPairs(banded,
        Seq(col("band"), col("bucket")), col("vec_id"))
      .select(col("a").as("vec_a"), col("b").as("vec_b"))
    cands
      .join(withSketch.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(withSketch.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Deterministic near-dup twin corpus: each vector gains a copy (id +
    * `idOffset`) with its first `zeroPrefix` components zeroed. cos(v,
    * twin) = sqrt(1 - prefixNorm²/‖v‖²) — ~0.87 at zeroPrefix=16 on
    * unit-ish 64-dim data, varying per vector, so a τ=0.85 cut is
    * genuinely selective. Pure copy/zero (no float arithmetic), so the
    * construction is bit-identical in any engine — it exists to give the
    * banded dedup path a scored, non-empty, non-trivial pair set on test
    * data whose natural max pairwise cosine is only ~0.51. */
  def withNoisyTwins(emb: DataFrame, zeroPrefix: Int = 16, dim: Int = 64,
      idOffset: Long = 1000000L): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
    e.unionAll(e.select((col("vec_id") + lit(idOffset)).as("vec_id"),
      concat(array_repeat(lit(0.0), zeroPrefix),
        slice(col("embedding"), zeroPrefix + 1, dim - zeroPrefix)).as("embedding")))
  }

  /** Per-label embedding stats: exact norms via HOF aggregate. */
  def normStats(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        sqrt(aggregate(transform(asDouble(col("embedding")), x => x * x),
          lit(0.0), (acc, x) => acc + x)).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))

  /** Embedding DISTRIBUTION DRIFT between a reference batch and the
    * current batch, per label: the L2 distance between the per-dimension
    * mean vectors plus the worst single-dimension shift — the
    * monitoring statistic that decides when a frozen ANN quantizer
    * needs the offline retrain-and-swap
    * ([[graft.streaming.AnnStreams.maybeRebuild]] gates on grown
    * FRACTION; this is the principled drift signal a production
    * monitor feeds it).
    *
    * Determinism: per-dimension sums are fixed-point longs (exact under
    * any partitioning); each mean is one IEEE division of bit-identical
    * inputs; the cross-dimension Σdd² is fixed-point again (×1e12)
    * because a 64-term double sum is partition-order-dependent; sqrt is
    * IEEE-correctly-rounded in both engines, so no ulp drift exists to
    * absorb beyond the final round-6.
    *
    * Scale shape: ONE shuffle of (label, dim) fixed-point partial sums
    * — map-side combine collapses each partition to |labels|·dim rows
    * regardless of corpus size; everything after operates on that
    * constant-size frame. Labels with an empty side drop (no drift is
    * measurable), mirrored by the oracle. */
  def embeddingDrift(emb: DataFrame, isRef: Column): DataFrame = {
    val e = emb.select(col("label"), isRef.as("is_ref"),
      posexplode(asDouble(col("embedding"))).as(Seq("d", "x")))
    val fp = round(col("x") * lit(1e6)).cast("long")
    val per = e.groupBy(col("label"), col("d"))
      .agg(sum(when(col("is_ref"), fp)).as("sr"),
        sum(when(col("is_ref"), 1L)).as("nr"),
        sum(when(!col("is_ref"), fp)).as("sc"),
        sum(when(!col("is_ref"), 1L)).as("nc"))
      .filter(col("nr").isNotNull && col("nc").isNotNull)
      .withColumn("dd",
        col("sr").cast("double") / (lit(1e6) * col("nr")) -
          col("sc").cast("double") / (lit(1e6) * col("nc")))
    per.groupBy(col("label"))
      .agg(max(col("nr")).cast("bigint").as("n_ref"),
        max(col("nc")).cast("bigint").as("n_cur"),
        round(sqrt(
          sum(round((col("dd") * col("dd")) * lit(1e12)).cast("long"))
            .cast("double") / lit(1e12)), 6).as("mean_shift_l2"),
        round(max(abs(col("dd"))), 6).as("max_dim_shift"))
      .orderBy(col("label"))
  }

  /** [[embeddingDrift]] NORMALIZED into a dimensionless two-sample
    * z-statistic (r15, verdict #2): per dimension,
    * `t_d = (mean_ref − mean_cur) / (σ_ref · sqrt(1/n_ref + 1/n_cur))`
    * — the mean shift in units of its own no-drift standard error —
    * summarized as the RMS over dimensions (`drift_z`) plus the worst
    * single dimension (`max_dim_z`). Under no drift each t_d is
    * approximately standard normal REGARDLESS of batch sizes, so
    * drift_z ≈ 1.0 for any (n_ref, n_cur) and a single finite default
    * threshold finally exists: the raw mean-shift L2 is in embedding
    * units (corpus-dependent — the reason
    * [[graft.streaming.AnnStreams.maybeRebuild]]'s drift gate shipped
    * OFF through r14), while 2.0 here is the universal two-sigma cut.
    * Measured on the gate fixtures: even/odd no-drift split reads
    * 0.98, the −3× drifted-arrivals fixture reads ≈3.2. Batch-size
    * robustness is why the denominator carries the standard error and
    * not σ alone: a 10-vector no-drift batch against a 500-vector
    * reference reads ≈1 here but 0.32 in raw-σ units — above any σ-unit
    * cut tight enough to catch the −3× fixture (0.49).
    *
    * Determinism (the [[graft.ml.Quantize.dimVariance]] device):
    * per-dim sums are ×1e6 fixed-point longs; the reference Σx² rides
    * DECIMAL(38,0); σ²_ref assembles as (n·Σxx − Sx²) exactly in
    * decimal and converts with ONE mirrored IEEE division; t_d is IEEE
    * ops on bit-identical inputs; the cross-dimension Σt² is
    * fixed-point (×1e9) again. Zero-variance reference dimensions are
    * dropped from the RMS by the EXACT integer test n·Σxx − Sx² = 0
    * (`n_dims` exposes the contributing count, so a drop is visible);
    * labels with an empty side drop entirely, which makes the
    * post-rebuild statistic read as no-rows → 0 upstream. The cross-dim
    * Σ round(t²·1e9) rides DECIMAL(38,0), NOT long (r16): t scales as
    * √(batch size), so a Long accumulator is only safe for |t| ≲ 1500
    * over 4096 dims (4096·(1.5e3)²·1e9 ≈ 9.2e18 = Long.MaxValue) — a
    * moderate real drift over million-vector batches blows past that,
    * and under ANSI Spark the sum THROWS (non-ANSI: wraps → NaN → the
    * gate silently never fires) in exactly the most-drifted regime.
    * DECIMAL(38,0) is exact to 10³⁸, mirrored by HUGEINT in the
    * oracle replay; MlSpec pins the |t|≈2000 × 4096-dim face red→green.
    *
    * Scale shape: identical to [[embeddingDrift]] — ONE shuffle of
    * (label, dim) fixed-point partials, map-side combined to
    * |labels|·dim rows; everything downstream is dim-sized. */
  def embeddingDriftZ(emb: DataFrame, isRef: Column): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def dec(c: Column): Column = c.cast(dec38)
    val e = emb.select(col("label"), isRef.as("is_ref"),
      posexplode(asDouble(col("embedding"))).as(Seq("d", "x")))
    val fp = round(col("x") * lit(1e6)).cast("long")
    val per = e.groupBy(col("label"), col("d"))
      .agg(sum(when(col("is_ref"), fp)).as("sr"),
        sum(when(col("is_ref"), 1L)).as("nr"),
        sum(when(col("is_ref"), dec(fp * fp))).as("srr"),
        sum(when(!col("is_ref"), fp)).as("sc"),
        sum(when(!col("is_ref"), 1L)).as("nc"))
      .filter(col("nr").isNotNull && col("nc").isNotNull)
    val num = dec(col("nr")) * col("srr") - dec(col("sr")) * dec(col("sr"))
    val dd = col("sr").cast("double") / (lit(1e6) * col("nr")) -
      col("sc").cast("double") / (lit(1e6) * col("nc"))
    val vr = num.cast("double") /
      (col("nr").cast("double") * col("nr") * lit(1e12))
    val t = when(num === dec(lit(0)), lit(null).cast("double"))
      .otherwise(dd / (sqrt(vr) *
        sqrt(lit(1.0) / col("nr") + lit(1.0) / col("nc"))))
    per.withColumn("t", t)
      .groupBy(col("label"))
      .agg(max(col("nr")).cast("bigint").as("n_ref"),
        max(col("nc")).cast("bigint").as("n_cur"),
        round(sqrt(
          sum(dec(round((col("t") * col("t")) * lit(1e9))))
            .cast("double") / lit(1e9) /
            count(col("t")).cast("double")), 6).as("drift_z"),
        round(max(abs(col("t"))), 6).as("max_dim_z"),
        count(col("t")).cast("int").as("n_dims"))
      .orderBy(col("label"))
  }
}
