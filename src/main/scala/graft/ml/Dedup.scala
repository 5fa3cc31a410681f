package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators — the training-data-pipeline north star.
  *
  * Four tiers, trading exactness for scale:
  *  - exact: md5 grouping — one shuffle on the hash, scales linearly.
  *  - exact n-gram Jaccard: inverted shingle index self-join — the exact
  *    verifier; candidate set is bounded by shingle-collision probability
  *    (see [[Shingles]]) rather than n².
  *  - MinHash + LSH banding: constant-size signature per doc, candidates
  *    from band-bucket self-join, then exact verification. The 100 TB path:
  *    shuffle carries 128 longs per doc, never the text.
  *  - SimHash: 64-bit sketch, banded buckets, Hamming-distance verify.
  *
  * All candidate generation is groupBy/join — no driver-side loops, no
  * cartesian products.
  */
object Dedup {

  val ShingleWidth = 5
  val NumHashes = 128
  val NumBands = 64 // 2 rows per band: P(miss | j=0.5) = (1-0.25)^64 ≈ 1e-8

  /** Default stop-shingle document-frequency cap for the SCORED capped
    * candidate generator ([[jaccardPairsCapped]]) — the knob that makes
    * the exact-Jaccard tier 100-TB-safe. A shingle shared by k docs
    * contributes C(k,2) candidate rows to the inverted-index self-join;
    * capping df at c bounds that at C(c,2) per shingle REGARDLESS of
    * corpus size, which is the property the uncapped form lacks (a
    * boilerplate shingle's contribution grows quadratically with the
    * corpus). 64 → ≤2016 candidate rows per shingle.
    *
    * Recall: a pair at jaccard ≥ t shares ≥ t/(1+t) of its shingle
    * union (≥1/3 at the scored t=0.5 — dozens of shingles for real
    * documents), and a miss requires EVERY shared shingle to be
    * corpus-common (df > 64). Shingle df is Zipf-tailed with its mass
    * at df ≤ 2, so near-dup pairs virtually always share a rare
    * shingle; MlSpec pins exact parity with [[jaccardPairs]] on the
    * fixture corpus and the driver oracle re-proves it at sf0.01. */
  val ScoredDfCap = 64

  /** Exact duplicate groups by content hash. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("representative_id"), count(lit(1)).as("n_docs"))

  /** (doc_id, shingles) with empty-shingle docs dropped.
    *
    * persist() is load-bearing, not a cache nicety: downstream consumers
    * reference `shingles` inside higher-order-function lambdas, and
    * Catalyst's projection collapse would inline the (expensive, per-row)
    * shingle construction into EVERY lambda iteration — observed 100×
    * slowdowns. The barrier materializes shingles exactly once; at
    * cluster scale this is the same "materialize the shingle table"
    * checkpoint a 100 TB pipeline would make explicit.
    */
  def shingled(docs: DataFrame): DataFrame = {
    // WordShingles is a native codegen Expression (single tight loop per
    // row) — no HOF lambdas, so projection collapse is harmless and the
    // token split needs no separate materialization.
    val sh = docs.select(col("doc_id"),
        graft.functions.WordShingles.wordShingles(
          Shingles.tokens(col("text")), ShingleWidth).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .persist()
    // eagerly materialize: downstream plans scan this 2-4 times (index
    // sides + size lookups), and concurrent stages racing a cold cache
    // would each recompute the shingle construction.
    sh.count()
    sh
  }

  /** Exact n-gram Jaccard pairs via inverted shingle index, with an
    * optional stop-shingle cap for the 100 TB path.
    *
    * maxShingleDf = None: candidate pairs are ALL co-shingle pairs —
    * exact, but a shingle shared by k docs contributes k² candidate
    * rows, so corpus-wide common shingles make the join quadratic.
    * maxShingleDf = Some(k): shingles appearing in more than k docs are
    * excluded from CANDIDATE GENERATION only (near-dup pairs share many
    * shingles, so they virtually always share a rare one); the Jaccard
    * itself is then verified exactly on the full shingle sets via
    * array_intersect. This bounds the join at the cost of (provably
    * rare) misses for pairs whose every shared shingle is corpus-common.
    */
  /** Candidate (doc_a, doc_b) pairs from the df-CAPPED inverted index:
    * only shingles with 2 <= df <= maxShingleDf generate candidates, so a
    * corpus-common (boilerplate) shingle contributes NOTHING to the
    * self-join instead of C(df,2) rows — the property ScaleSpec pins with
    * a planted boilerplate shingle.
    *
    * df is a groupBy aggregate, NOT a window over the shingle partition:
    * partial (map-side) aggregation collapses a hot shingle to one row
    * per map partition, so no reducer ever materializes a corpus-common
    * shingle's occurrence list — a `count().over(partitionBy(g))` window
    * would sort AND buffer each hot group wholesale in a single task,
    * which is exactly the hot-key failure this cap exists to remove.
    * Hot shingles are then ABSENT from the filtered df table, so their
    * occurrence rows stream through the semi-join probe and drop without
    * buffering (and AQE can split a skewed probe partition freely);
    * df=1 shingles (the Zipf-tail majority) drop the same way. */
  def cappedCandidates(sh: DataFrame, maxShingleDf: Int): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf && col("df") >= 2)
      .select(col("g"))
    // every surviving shingle bucket holds at most maxShingleDf ids
    graft.ops.Skew.bucketPairs(inv.join(rare, "g"), Seq(col("g")), col("doc_id"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
  }

  def jaccardPairsCapped(docs: DataFrame, threshold: Double,
      maxShingleDf: Int): DataFrame = {
    val sh = shingled(docs)
    cappedCandidates(sh, maxShingleDf)
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Shingle CONTAINMENT pairs: |shingles(a) ∩ shingles(b)| /
    * |shingles(a)| ≥ threshold for ordered pairs a ≠ b — the asymmetric
    * companion to Jaccard that catches quote-inclusion / sub-document
    * duplication (a short doc fully embedded in a long one scores
    * containment 1.0 but arbitrarily low Jaccard, so a Jaccard-only
    * dedup never sees it). Same df-capped inverted index as
    * [[jaccardPairsCapped]] (near-contained docs share rare shingles);
    * candidates expand to both orderings, verification is the exact
    * array_intersect over full shingle sets. */
  def containmentPairs(docs: DataFrame, threshold: Double,
      maxShingleDf: Int): DataFrame = {
    val sh = shingled(docs)
    val cands = cappedCandidates(sh, maxShingleDf)
    // Both orderings from ONE candidate pass (the dupClusters
    // symmetrization rationale): the union form recomputed the
    // candidate pipeline above its last exchange once per branch.
    val ordered = cands.select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
    ordered
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("containment",
        round(size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(col("sa")), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Exact n-gram Jaccard pairs via inverted shingle index.
    * Returns (doc_a, doc_b, jaccard) for jaccard >= threshold, doc_a < doc_b.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = shingled(docs)
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val a = inv.select(col("doc_id").as("doc_a"), col("g"))
    val b = inv.select(col("doc_id").as("doc_b"), col("g"))
    val inter = a.join(b, Seq("g")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signatures: sig[i] = min over shingles of xxhash64(shingle,
    * seed=i) — a native codegen Expression (one tight loop) instead of k
    * interpreted array_min(transform(...)) passes. 128 longs per doc
    * regardless of doc size — the shuffle-friendly sketch.
    */
  def minhashSignatures(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("shingles"), NumHashes).as("sig"))
      // persist (lazy) is load-bearing against PROJECTION COLLAPSE, not
      // against a second reader: bandBuckets references `sig` inside a
      // per-band transform lambda, and without the cache boundary
      // Catalyst would inline the 128-hash kernel into every lambda
      // iteration (the shingled() hazard). lshCandidates scans the frame
      // once; consumers that scan it twice own their own eager barrier
      // (the streaming ledger's per-batch persists).
      .persist()

  /** (doc_id, band, bucket) rows from a signature frame — the banding
    * shared by [[lshCandidates]] and the streaming near-dup ledger
    * ([[graft.streaming.NearDedupStreams]]), so every consumer buckets
    * bit-identically. */
  def bandBuckets(sigs: DataFrame): DataFrame = {
    val rows = NumHashes / NumBands
    sigs.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(NumBands - 1)),
          b => struct(b.as("band"),
            xxhash64(b +: (1 to rows).map(r => element_at(col("sig"), b * rows + r)): _*)
              .as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** LSH band-bucket candidate pairs (doc_a < doc_b, distinct): the
    * within-bucket pairs of every (band, bucket), expanded by
    * [[graft.ops.Skew.bucketPairs]] (`tile` bounds the bucket size that
    * expands as one unit; larger buckets are tiled over tasks). */
  def lshCandidates(sigs: DataFrame,
      tile: Int = graft.ops.Skew.PairTile): DataFrame =
    graft.ops.Skew.bucketPairs(bandBuckets(sigs),
        Seq(col("band"), col("bucket")), col("doc_id"), tile)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))

  /** MinHash+LSH near-dup pairs, exact-Jaccard verified: candidates from
    * the banded signatures ([[lshCandidates]] with `tile`), then verified
    * with true shingle-set Jaccard.
    */
  def minhashDupPairs(docs: DataFrame, threshold: Double,
      tile: Int = graft.ops.Skew.PairTile): DataFrame = {
    val sh = shingled(docs)
    val sigs = minhashSignatures(sh)
    val cands = lshCandidates(sigs, tile)
    val withSets = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
    withSets
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental dedup: near-dup pairs between a NEW batch and the
    * already-ingested corpus only (no batch-batch or corpus-corpus pairs)
    * — the shape a continuously-ingesting pipeline runs per arrival wave.
    *
    * Scale shape: the batch side of the inverted-index join is tiny by
    * construction (one arrival wave vs the corpus), so the shingle join
    * shuffles the batch and streams the corpus index past it; at real
    * scale the corpus side is a PRE-BUILT persisted shingle index (built
    * once, appended per wave), not recomputed — recomputation here is an
    * artifact of the benchmark being self-contained.
    */
  def incrementalDupPairs(docs: DataFrame, isNew: Column,
      threshold: Double): DataFrame = {
    val sh = shingled(docs)
    val flags = docs.select(col("doc_id"), isNew.as("is_new"))
    val shf = sh.join(flags, "doc_id")
    val newInv = shf.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), explode(col("shingles")).as("g"))
    val oldInv = shf.filter(!col("is_new"))
      .select(col("doc_id").as("old_id"), explode(col("shingles")).as("g"))
    val inter = newInv.join(oldInv, "g")
      .groupBy(col("new_id"), col("old_id")).agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("new_id"), col("n").as("nn")), "new_id")
      .join(sizes.select(col("doc_id").as("old_id"), col("n").as("no")), "old_id")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("nn") + col("no") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** Duplicate CLUSTERS from near-dup pairs: connected components over the
    * pair graph, labeling every member with the smallest doc_id in its
    * component (the canonical representative a dedup pipeline keeps).
    *
    * Distributed min-label propagation to fixpoint: each iteration is one
    * join + one min-aggregate, `localCheckpoint` truncates lineage (same
    * pattern as ingest.Frontier). Converges in O(component diameter)
    * iterations — near-dup components are clique-ish (diameter 2-3), so
    * this beats the O(log n)-round large-star/small-star alternative in
    * practice while staying a pure join/agg plan (no driver-side graph).
    *
    * Skew: a boilerplate hub (one doc near-dup to 10⁴+ others) makes the
    * propagation join `edges ⋈ labels` quadratic-hot on the hub's key, so
    * it routes through [[graft.ops.Skew.saltedEnrichJoin]] — the label
    * table is one-row-per-node (replicated saltBuckets ways, cheap: two
    * longs per node), each edge is salted by its OTHER endpoint, and the
    * hub's edges spread over saltBuckets reducers. Exact parity with the
    * unsalted join (ScaleSpec hot-hub test). saltBuckets=1 disables.
    * Like the salted minhash tier, the default-on salting is priced
    * insurance: the replicated table is two longs per node (vocab-sized
    * next to the edge list), and the measured sf0.1 cost sits inside
    * bench noise (ns_dedup_clusters ≤1.2x its pre-salting floor) —
    * while the failure it prevents is one reducer owning a boilerplate
    * hub's entire edge list. Callers that KNOW their pair graph is
    * hub-free can pass 1.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      saltBuckets: Int = 8): DataFrame = {
    // Symmetrize via ONE explode pass, not `pairs UNION pairs.swapped`:
    // the union's two branches are separate plan subtrees that each
    // recompute the ENTIRE pair pipeline (candidate generation + the
    // array_intersect verify) inside the single job that materializes
    // this persist — the r17 edge-seed plan dump showed the full verify
    // chain duplicated under the Union with no exchange reuse. The
    // explode emits both orientations from each pair row in one pass:
    // same row multiset, half the work, and at 100 TB half the verify
    // compute of the most expensive step in the cluster tier.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist()
    // Labels only ever decrease, so Σlabel is strictly monotone until the
    // fixpoint: an unchanged sum proves convergence. The sum rides the
    // checkpoint job itself via observe() — localCheckpoint(eager) is the
    // action that materializes the frame, and the CollectMetrics node it
    // executes through hands Σlabel to the Observation for free, so each
    // round is ONE Spark job (propagate + checkpoint + converge-probe),
    // not a checkpoint job plus a separate sum scan.
    def checkpointWithSum(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df
        .observe(obs, coalesce(sum(col("label")), lit(0L)).as("label_sum"))
        .localCheckpoint()
      (out, obs.get("label_sum").asInstanceOf[Long])
    }
    // Seed one hop ahead: label(u) = min(u, min neighbor) directly from
    // the edge list — same shuffle the plain distinct would cost, one
    // fewer propagation round.
    var (labels, prevSum) = checkpointWithSum(edges.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("label"))
      .select(col("u").as("doc_id"), col("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = graft.ops.Skew.saltedEnrichJoin(
          edges, "v", col("u"),
          labels.select(col("doc_id").as("v"), col("label")), saltBuckets)
        .select(col("u").as("doc_id"), col("label"))
      val (next, s) = checkpointWithSum(labels.union(nbr)
        .groupBy(col("doc_id")).agg(min(col("label")).as("label")))
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    // every loop frame is localCheckpointed, so no surviving plan
    // references the cache — release it (the unreleased-persist class
    // fixed in cosineDupPairsBanded this round; r13 review)
    edges.unpersist()
    // non-convergence must be LOUD (the sequentialAdmission rule): a
    // pair graph with diameter > maxIter would otherwise return
    // non-minimal labels — one duplicate cluster reported as several,
    // and keepCanonical/keepBest silently RETAINING duplicates
    // (r13 review)
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters: min-label propagation did not converge within " +
          s"maxIter=$maxIter rounds — the pair graph has a dependency " +
          "chain (diameter) longer than the budget; raise maxIter " +
          "deliberately or pre-collapse chains with exact dedup")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Duplicate-cluster SIZE histogram — the dedup dashboard's shape
    * statistic (how much of the corpus sits in pairs vs deep
    * syndication chains decides which dedup tier gets budget).
    * Size-1 row = documents untouched by the near-dup graph
    * (corpus count minus graph members — dupClusters only contains
    * docs with at least one pair), omitted when zero.
    *
    * Scale shape: two aggregations over the (already-checkpointed)
    * cluster table — graph-sized, never corpus-sized — plus one
    * corpus count; output is |distinct sizes| rows. */
  def clusterSizeHistogram(docs: DataFrame,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(clusters.agg(count(lit(1)).as("n_in_graph"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_in_graph")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    sizes.unionByName(singles).orderBy(col("cluster_size"))
  }

  /** Dedup RETENTION: the corpus a pipeline actually ships — every document
    * that is either untouched by the near-dup graph or the canonical
    * (min-doc_id) representative of its duplicate cluster. One left-anti
    * join of the full corpus against the non-representative members; the
    * cluster table is tiny relative to the corpus (only docs with a dup),
    * so Spark broadcasts the anti-join side.
    */
  /** Per-source DEDUP IMPACT report (r16) — the number a curation
    * pipeline feeds back into its mixture weights: how many documents
    * (and whitespace tokens, the [[Corpus]] one-spelling count) the
    * near-dup clustering removes from each source under the canonical
    * keep-min rule ([[keepCanonical]]'s complement), next to the
    * source's totals. A duplicate-heavy source signals boilerplate or
    * syndication; down-weighting or re-crawling it is the decision this
    * table feeds — the signal→decision composition discipline of
    * divergence→alloc→manifest, applied to the dedup tier.
    *
    * Scale shape: the removed set is GRAPH-sized (docs with a
    * duplicate, minus one representative per cluster) and broadcasts
    * into ONE left join against the corpus; the report is a single
    * corpus-scan aggregate, S rows out. */
  def dedupImpact(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val removed = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1L).as("rm"))
    docs.select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .join(broadcast(removed), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("tokens_total"),
        coalesce(sum(col("rm")), lit(0L)).as("n_removed"),
        coalesce(sum(when(col("rm") === 1L, col("n"))), lit(0L))
          .as("tokens_removed"))
      .orderBy(col("source"))
  }

  def keepCanonical(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
        clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** Quality-aware canonical selection: per duplicate cluster, keep the
    * member with the most content (max n_chars, ties to the lowest
    * doc_id) — what curation pipelines actually retain, vs the min-id
    * convention of [[keepCanonical]]. One window over cluster members
    * (tiny: only docs with a duplicate) plus a member count.
    */
  def keepBest(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val members = clusters
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val counts = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    members.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_id"),
        col("n_chars").as("kept_n_chars"))
      .join(counts, "cluster_id")
  }

  /** Per-source duplication inflation — the dedup dashboard row: how
    * many raw documents each source contributes vs how many DISTINCT
    * contents (exact md5), the inflation factor (raw/distinct — the
    * multiplier crawl revisits and syndication put on the source), and
    * the duplicate fraction. The number a curation run reads to decide
    * WHERE dedup budget goes before running the expensive near-dup
    * tiers.
    *
    * Scale shape: one shuffle of (source, md5) — text never moves —
    * with count_distinct's partial dedup collapsing repeats map-side;
    * output is |sources| rows.
    */
  def dupInflation(docs: DataFrame): DataFrame =
    docs.select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round(col("n_docs").cast("double") / col("n_distinct"), 6)
          .as("inflation"),
        round((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs"), 6).as("dup_frac"))

  /** Cross-source duplication matrix — syndication detection: NEAR-dup
    * pairs rolled up by the (unordered) source pair they straddle — the
    * "who copies whom" table that decides which source to keep when
    * [[keepBest]] breaks cross-source ties, and where cross-domain
    * near-dup pressure concentrates. Built on any committed pair tier
    * (exact Jaccard, minhash, simhash) rather than exact hashes: near
    * duplication is what actually crosses source boundaries (same
    * article, different boilerplate), where byte-identical content
    * rarely does.
    *
    * Scale shape: the pair table is tiny next to the corpus; the two
    * source lookups are id-keyed joins (broadcast at bench SF,
    * co-partitioned beyond); least/greatest canonicalizes the unordered
    * pair map-side. Cost is dominated by the pair tier itself, which is
    * priced where it is scored.
    */
  def crossSourceDupMatrix(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Soft dedup: instead of DROPPING duplicate-cluster members
    * ([[keepCanonical]]/[[keepBest]]), every document keeps flowing with
    * a training weight of 1/|cluster| — the duplicates of a cluster
    * collectively contribute one document's worth of gradient signal
    * (the down-weighting alternative pipelines use when hard dedup is
    * too aggressive: near-dups often carry real variation worth a
    * fractional weight but not a full epoch each). Docs untouched by the
    * pair graph weigh 1.0.
    *
    * Scale shape: cluster sizes are a partial-aggregating groupBy over
    * the (tiny: only docs with a duplicate) cluster table; the corpus
    * joins it LEFT on doc_id — broadcast at bench SF, co-partitioned
    * hash join beyond the threshold. The weight is one IEEE division of
    * exact inputs, round-6 per the cross-engine convention.
    */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"))
    docs.select(col("doc_id"))
      .join(clusters.join(sizes, "cluster_id")
          .select(col("doc_id"), col("n")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(1L)).as("cluster_n"),
        round(lit(1.0) / coalesce(col("n"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** Per-document shingle novelty: the fraction of a doc's distinct
    * 5-gram shingles whose FIRST corpus occurrence (minimum doc_id over
    * every doc containing the shingle) is this doc — high for original
    * content, low for documents assembled from text seen elsewhere
    * (boilerplate, quotations, templated spam). The doc-level signal
    * that complements [[dupNgramSpans]]'s position-level one: a curation
    * pass ranks by novelty where span removal surgically cuts.
    *
    * Scale shape: shingles are hashed BEFORE any exchange (rows in
    * motion are (doc_id, hash64), never text); the first-owner table is
    * a partial-aggregating min — a corpus-common shingle collapses to
    * one row per map partition, no reducer buffers its occurrence list
    * (the [[cappedCandidates]] lesson) — and the join back is linear in
    * total shingle occurrences, AQE-splittable on skew. A hash collision
    * could only merge two shingles' owners (P ≈ n²/2⁶⁴); the oracle
    * groups raw shingle strings, so green rows prove the collision term
    * absent at test scale.
    */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    val inv = shingled(docs)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val owner = inv.groupBy(col("gh")).agg(min(col("doc_id")).as("owner"))
    inv.join(owner, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Exact duplicated n-gram SPANS — substring-level dedup (the
    * "dedup training data" suffix-array result, re-expressed relationally):
    * an n-gram position is duplicated when its n-gram occurs >= 2 times
    * anywhere in the corpus (other docs or a repeat within the same doc);
    * per document, consecutive duplicated positions coalesce into spans
    * via the islands trick (pos - rank is constant within a run). Output:
    * per-doc gram count, duplicated-gram count, longest run, and its token
    * span (run + n - 1). Unlike doc-level dedup this localizes WHICH part
    * of a document is boilerplate/copied, so a pipeline can cut spans
    * instead of dropping whole docs.
    *
    * Shape at scale: positional grams are one codegen map-side pass; the
    * shuffle key is xxhash64(gram) with the gram string dropped before the
    * exchange — rows in motion are (doc_id, pos, hash64). The duplicated-
    * gram key set is a groupBy aggregate, NOT a window over the gram
    * partition (same reasoning as [[cappedCandidates]]): partial map-side
    * aggregation collapses a corpus-common gram (boilerplate headers,
    * license blocks — the rows this operator exists to find, which by
    * definition CANNOT be df-capped away) to one row per map partition,
    * so no reducer ever buffers a hot gram's occurrence list; occurrence
    * rows then stream through a semi-join probe that AQE can split. A
    * hash collision could only ADD a false dup flag (P ≈ n²/2⁶⁴ corpus-
    * wide); the scored oracle groups raw gram strings, so green rows
    * prove the collision term is absent at test scale. Runs then need one
    * shuffle on doc_id.
    */
  def dupNgramSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(lower(col("text"))), "\\s+")
    val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.PosShingles.posShingles(toks, n))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gh"))
    val dupKeys = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("gh"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = grams.join(dupKeys, Seq("gh"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run_len")).as("n_dup_grams"), max(col("run_len")).as("max_dup_run"))
    grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"),
        when(coalesce(col("max_dup_run"), lit(0L)) > 0,
          coalesce(col("max_dup_run"), lit(0L)) + lit(n - 1))
          .otherwise(lit(0L)).as("max_dup_span_tokens"))
  }

  /** The ACTIONABLE form of [[dupNgramSpans]]: cut the duplicated spans
    * out and return the cleaned text — what a pipeline applying
    * substring-level dedup actually ships (drop the boilerplate spans,
    * keep the document). A token is removed when ANY duplicated n-gram
    * covers it; the cleaned text is the surviving tokens of the
    * normalized (trimmed, lowercased, whitespace-split) stream rejoined
    * with single spaces — normalization is part of the contract, as in
    * every token-level operator here.
    *
    * Scale shape: same as dupNgramSpans (xxhash64 gram keys, no gram
    * strings in the exchange, groupBy-derived dup keys + streaming
    * semi-join probe — never a window over the gram partition, so a hot
    * boilerplate gram collapses map-side instead of buffering in one
    * task); the reassembly is one per-doc collect_list over positions —
    * bounded by document length, the same bound `text` itself already
    * imposes. */
  def removeDupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val t = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("ws"))
    val grams = t.select(col("doc_id"),
        posexplode(graft.functions.PosShingles.posShingles(col("ws"), n))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gh"))
    val dupKeys = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("gh"))
    val dup = grams.join(dupKeys, Seq("gh"), "left_semi")
    val covered = dup.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val tok = t.select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "tok")))
    val kept = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy(col("doc_id")).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("clean_text"),
      count(lit(1)).as("n_kept_tokens"))
    t.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
        (col("n_tokens") - coalesce(col("n_kept_tokens"), lit(0L)))
          .as("n_removed_tokens"))
  }

  /** 64-bit SimHash over whitespace tokens: majority vote per bit of each
    * token's md5-derived 64-bit hash — a native codegen Expression (one pass per row;
    * the earlier HOF formulation needed a persist barrier against
    * projection collapse and was interpreted).
    */
  def simhashed(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Shingles.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(col("toks")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxDist (<= 3 is
    * guaranteed found: 4 16-bit bands, pigeonhole). */
  def simhashDupPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    val sh = simhashed(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
        // shiftright(), not `>>`: Spark 4's parser rejects `>>` inside an
        // aliased struct field (fine elsewhere).
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b as band, shiftright(simhash, cast(b * 16 as int)) & 65535L as bucket))")).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    // members carry their hash, so the Hamming verify needs no lookup
    graft.ops.Skew.bucketPairs(banded, Seq(col("band"), col("bucket")),
        struct(col("doc_id").as("id"), col("simhash")))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Wave-sequential greedy admission — the BATCH TWIN of the streaming
    * near-dedup ingest ledger ([[graft.streaming.NearDedupStreams]]):
    * replay the corpus as `nWaves` ordered waves (wave = doc_id mod
    * nWaves — the deterministic stand-in for arrival batches) and admit
    * each document iff no already-admitted document is a near-duplicate,
    * with within-wave ties resolved by greedy minimum-id — exactly the
    * admission rule the streaming sink applies per micro-batch
    * (lexicographically-first maximal independent set; processing the
    * wave sequentially by doc_id gives the identical set). Output:
    * (doc_id, wave) per admitted document.
    *
    * The near-dup decision is the scored minhash tier's
    * ([[minhashDupPairs]]: banded LSH candidates, exact-Jaccard verify)
    * so the admitted set is DuckDB-replicable — the oracle replays the
    * identical sequential greedy as a recursive single-row fold over the
    * (wave, doc_id) order with a list accumulator. The streaming sink
    * itself decides on the signature ESTIMATE (bounded ledger state, no
    * shingles retained — its contract); the replay/idempotence half of
    * its semantics is spec-pinned (NearDedupSpec), while THIS scored row
    * pins the wave-sequential admission semantics against an
    * independent engine.
    *
    * RECALL ASSUMPTION, amplified: the oracle computes exact Jaccard
    * over ALL pairs while the pair graph here comes from banded LSH, so
    * a banding false negative would not merely drop one pair row — it
    * cascades through every downstream admission decision (a missed
    * edge can admit a doc that then blocks different docs). The
    * assumption is machine-checked, not hoped for: ns_dedup_minhash
    * shares the EXACT-pairs oracle verbatim, so banded == exact is
    * hash-gated at every driver SF before this query's oracle even
    * runs, and the miss probability at the scored τ=0.5 is
    * (1-0.25)^64 ≈ 1e-8 per pair ([[NumBands]]). A recall miss
    * therefore surfaces first as a named ns_dedup_minhash red, never as
    * an opaque replay divergence.
    *
    * Scale shape: the pair graph is built ONCE by the banded generator
    * (never all-pairs; persisted for the loop and unpersisted on exit —
    * every consumer materializes through localCheckpoint, so no live
    * plan references the cache after return) and every loop step is a
    * key join on bare longs: cross-wave blocking is pairs ⋈ admitted
    * (streaming, AQE-splittable), the within-wave frontier is the
    * standard iterative MIS whose round count is the greedy dependency
    * DEPTH of the near-dup graph (shallow in practice — dup clusters
    * are small and clique-like; a clique resolves in ONE round,
    * ScaleSpec-pinned), and localCheckpoint caps lineage exactly as
    * [[dupClusters]] does. Nothing ever buffers a hot group: the admit/
    * reject frontier is computed with anti-joins, not windows.
    *
    * `maxMisRounds` bounds the one shape that CANNOT be parallelized
    * away: a CHAIN of near-dups (1-2, 2-3, …) makes the greedy
    * dependency depth — and hence the round count — linear in chain
    * length (lexicographically-first MIS is P-complete; the sequential
    * fold is the semantics, not a plan choice). Each round costs ~4
    * driver-blocking localCheckpoint actions, so a pathological corpus
    * must degrade as a LOUD error naming the knob, not as a silent
    * driver hang; 256 rounds ≈ a dependency chain of 512 near-identical
    * docs, far past any observed real corpus. */
  def sequentialAdmission(docs: DataFrame, tau: Double,
      nWaves: Int = 3, maxMisRounds: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    val pairs = minhashDupPairs(docs, tau)
      .select(col("doc_a"), col("doc_b")).persist()
    // the try opens BEFORE the materializing count: a failure while
    // building the pair graph (executor loss, OOM, cancellation) must
    // release the cache too, or "released on every exit path" is a lie
    // on exactly the path most likely to fail at scale
    try {
    pairs.count()
    // DRIVER-BLOCKING ACTION BUDGET (r17, guide §1.2/§5 — the wave loop
    // is scheduling-bound at bench SF and the r16 driver regression
    // tracked exactly its job count): every emptiness probe now rides
    // its frame's own localCheckpoint via observe() (the dupClusters
    // device — the CollectMetrics node hands back the count for free),
    // `admitted` is a lazy union of already-checkpointed frontiers
    // (re-checkpointing it copied the whole growing set once per
    // round), the per-wave blocking step is ONE join against a
    // pre-built bidirectional edge view instead of two joins + union,
    // and an empty wave/final round skips its dead edge checkpoint.
    // 8 driver-blocking jobs per 1-round wave -> 4. The admitted SET is
    // untouched — same frontier algebra, same order, oracle re-proven.
    def checkpointWithCount(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df
        .observe(obs, coalesce(count(lit(1)), lit(0L)).as("n"))
        .localCheckpoint()
      (out, obs.get("n").asInstanceOf[Long])
    }
    // (u, v) = "u has near-dup v", both orientations — lazy over the
    // persisted pairs, so it reads the same cache, one join per probe
    val undirected = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val ids = docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(nWaves.toLong)).as("wave"))
    var admitted = spark.range(0)
      .select(col("id").as("doc_id"), lit(0L).as("wave"))
    for (w <- 0 until nWaves) {
      val wave = ids.filter(col("wave") === w).select(col("doc_id"))
      // a wave doc near-dup to ANY admitted doc is rejected (the
      // streaming sink's ledger rejection); rejected docs of EARLIER
      // waves block nothing — only admitted content rejects
      val blockedByAdmitted = undirected
        .join(admitted.select(col("doc_id").as("u")), "u")
        .select(col("v").as("doc_id"))
        .distinct()
      var (remaining, nRem) = checkpointWithCount(
        wave.join(blockedByAdmitted, Seq("doc_id"), "left_anti"))
      // within-wave greedy min-id MIS over the survivors' pair graph —
      // the identical frontier loop the streaming sink runs per batch
      var edges: DataFrame = null
      if (nRem > 0) edges = pairs
        .join(remaining.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(remaining.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .localCheckpoint()
      var rounds = 0
      while (nRem > 0) {
        rounds += 1
        if (rounds > maxMisRounds)
          throw new IllegalStateException(
            s"sequentialAdmission: wave $w exceeded maxMisRounds=" +
              s"$maxMisRounds MIS rounds — the near-dup graph's greedy " +
              "dependency depth (a chain of near-identical docs) is " +
              "pathological for sequential-greedy semantics; raise " +
              "maxMisRounds deliberately or pre-collapse the chain " +
              "(e.g. exact dedup / dupClusters) before admission")
        val blocked = edges.select(col("doc_b").as("doc_id")).distinct()
        val frontier = remaining.join(blocked, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        admitted = admitted.unionByName(
          frontier.withColumn("wave", lit(w.toLong)))
        val rejected = edges
          .join(frontier.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .select(col("doc_b").as("doc_id")).distinct()
        val (nextRemaining, n) = checkpointWithCount(remaining
          .join(frontier, Seq("doc_id"), "left_anti")
          .join(rejected, Seq("doc_id"), "left_anti"))
        remaining = nextRemaining
        nRem = n
        if (nRem > 0) edges = edges
          .join(remaining.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .join(remaining.withColumnRenamed("doc_id", "doc_b"), "doc_b")
          .localCheckpoint()
      }
    }
    admitted
    } finally
      // safe to release (and mandatory on the budget-exceeded throw
      // path): every loop frame materialized via localCheckpoint and
      // `admitted` is a union OVER those checkpointed frontiers (plus
      // an empty literal seed), so no surviving plan references the
      // pair cache
      pairs.unpersist()
  }
}
