package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy string matching (entity resolution / near-identical title-URL
  * dedup): SymSpell-style recall-GUARANTEED candidate generation via
  * deletion neighborhoods, verified with exact Levenshtein distance.
  *
  * The classic result behind the signature scheme: if lev(a, b) ≤ d then
  * the ≤d-deletion neighborhoods of a and b intersect (delete the edited
  * positions of any ≤d-edit alignment from each side and both reach the
  * same string), so joining on deletion variants finds EVERY qualifying
  * pair — banding-free exactness, unlike probabilistic LSH. The verify
  * step makes precision exact, so output equals the brute-force pair set.
  *
  * Scale shape (mirrors [[Similarity.cosineDupPairsBanded]]): the
  * signature self-join runs over DISTINCT strings and shuffles
  * (signature, representative-id) long pairs only — a string of length L
  * yields ~C(L,d) short variants, linear work per distinct string — and
  * strings are re-fetched just for the verified candidates. The
  * quadratic all-pairs comparison never materializes, and duplicate
  * strings (the common case in real corpora) never multiply the
  * candidate join. Candidate
  * signatures come from the codegen [[graft.functions.DeletionSigs]]
  * expression (the interpreted HOF spelling [[deletionVariants]] is kept
  * as its parity reference); verification is the built-in levenshtein.
  */
object Fuzzy {

  /** All strings obtained by deleting exactly one character (as an array
    * column). `substr` with Column args keeps positions dynamic. */
  private def deleteOne(s: Column): Column =
    transform(sequence(lit(0), greatest(length(s) - 1, lit(0))),
      i => concat(substr(s, lit(1), i), substr(s, i + lit(2), length(s))))

  /** Strings from deleting the (0-based) positions i < j in one pass —
    * each index pair exactly once, so no quadratic per-row
    * `array_distinct` is needed (different pairs CAN coincide on strings
    * with repeated chars; the harmless duplicate signatures are absorbed
    * by the candidate `.distinct()`). Guarded for length < 2: Spark's
    * `sequence(0, -1)` counts DOWN, it is not empty. */
  private def deleteTwoOrdered(s: Column): Column =
    when(length(s) >= 2,
      flatten(transform(sequence(lit(0), length(s) - 2),
        i => transform(sequence(i + lit(1), length(s) - 1),
          j => concat(
            substr(s, lit(1), i),
            substr(s, i + lit(2), j - i - lit(1)),
            substr(s, j + lit(2), length(s)))))))
      .otherwise(array().cast("array<string>"))

  /** Deletion neighborhood of `s` up to `maxEd` deletes (includes `s`
    * itself). maxEd ≤ 2 keeps variant counts ~C(L,2). Reference spelling
    * for [[graft.functions.DeletionSigs]] (MlSpec parity): xxhash64 over
    * these variants equals the expression's signature array. */
  def deletionVariants(s: Column, maxEd: Int): Column = {
    require(maxEd >= 1 && maxEd <= 2, s"maxEd must be 1 or 2, got $maxEd")
    val d01 = concat(array(s), deleteOne(s))
    if (maxEd == 1) d01
    else concat(d01, deleteTwoOrdered(s))
  }

  /** All id pairs whose `strCol` values are within Levenshtein `maxEd`,
    * with the exact distance. Output: (id_a, id_b, edit_dist),
    * id_a < id_b.
    *
    * Distinct-string reduction (the standard SymSpell scale shape): the
    * deletion-signature self-join runs over DISTINCT strings only, keyed
    * by each string group's representative id (min id — deterministic,
    * collision-free, fixed-width, so signature exchanges still ship only
    * (long, long) rows). Real corpora are dup-heavy, and a string with k
    * exact copies would otherwise push C(k,2) id pairs through every one
    * of its ~C(L,2) shared signatures before the candidate `.distinct()`
    * — a quadratic hot-bucket at scale. After the reduction, candidate
    * volume is quadratic only in DISTINCT near-neighbors: verified
    * distinct-string pairs re-expand to id pairs by joining group
    * membership, and the lev=0 pairs within each dup group are emitted
    * directly (a self-equi-join on the representative id), never touching
    * the signature join. Recall is unchanged — identical strings
    * trivially qualify, and the deletion-neighborhood theorem applies
    * per distinct string exactly as before. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      maxEd: Int): DataFrame = {
    // (id, s, rid): rid = min id over the string's dup group, computed
    // as a partial-aggregating groupBy("s").agg(min) + a probe join back
    // — NEVER min(id).over(Window.partitionBy(s)): the operator's own
    // premise is that real corpora are dup-heavy, so a boilerplate
    // 24-char prefix shared by 1% of the corpus would buffer its whole
    // dup group in ONE WindowExec task; the groupBy collapses it to one
    // row per map partition and the join back streams
    // (AQE-skew-splittable), carrying only (s, rid) on the small side.
    // Null-safe join key (<=>) keeps the window's null-group semantics:
    // null strings form one dup group, exactly as Window.partitionBy
    // grouped them. CACHE-LIFETIME CONTRACT: memb stays persisted for
    // the lifetime of the returned (lazy) plan — a long-lived session
    // calling this repeatedly should `spark.catalog.clearCache()` after
    // materializing each result, exactly as the streaming sinks document
    // for their per-batch persists. (An eager localCheckpoint would
    // self-release via the ContextCleaner, but costs a measured ~25% on
    // the query: row-serialized checkpoint blocks lose the columnar
    // cache's compressed scans across the five downstream reads.)
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val repTbl = base.groupBy(col("s"))
      .agg(min(col("id")).as("rid"))
      .withColumnRenamed("s", "s_r")
    val memb = base.join(repTbl, col("s") <=> col("s_r"))
      .select(col("id"), col("s"), col("rid"))
      .persist()
    memb.count()
    val reps = memb.filter(col("id") === col("rid"))
      .select(col("rid"), col("s"))
    // NOT persisted: the signature table has exactly one consumer (the
    // candidate groupBy below), so a persist+count barrier would add a
    // full extra materialization pass of the largest intermediate for
    // nothing. (The earlier two-sided self-join spelling needed the
    // barrier; the single-shuffle group expansion removed the second
    // reader.) Signatures shuffle as 8-byte hashes, not variant strings
    // — equal strings hash equal (recall intact); a cross-string
    // collision only adds a candidate the exact verify discards.
    // DeletionSigs is the codegen form of xxhash64 over
    // [[deletionVariants]] (parity-tested); the interpreted HOF spelling
    // dominated this query's runtime.
    val sigs = reps
      .withColumn("sig",
        explode(graft.functions.DeletionSigs.sigs(col("s"), maxEd)))
      .select(col("rid"), col("sig"))
    // Candidate pairs from one grouped exchange of the signature table
    // (singleton signatures, the Zipf-shaped majority, drop before any
    // expansion). Bucket sizes are bounded by distinct near-neighbors per
    // signature, small after the distinct-string reduction; a hot
    // signature is tiled over tasks by bucketPairs. A representative can
    // emit one signature twice (repeated characters); bucketPairs' distinct
    // absorbs the duplicate pairs.
    val cands = graft.ops.Skew.bucketPairs(sigs, Seq(col("sig")), col("rid"))
      .select(col("a").as("rid_a"), col("b").as("rid_b"))
    // verify on distinct strings (edit_dist >= 1 here by construction)
    val strPairs = cands
      .join(reps.select(col("rid").as("rid_a"), col("s").as("s_a")), "rid_a")
      .join(reps.select(col("rid").as("rid_b"), col("s").as("s_b")), "rid_b")
      .select(col("rid_a"), col("rid_b"),
        levenshtein(col("s_a"), col("s_b")).as("edit_dist"))
      .filter(col("edit_dist") <= maxEd)
    // re-expand verified distinct-string pairs to id pairs (an id belongs
    // to exactly one string group, so no pair is emitted twice)
    val cross = strPairs
      .join(memb.select(col("rid").as("rid_a"), col("id").as("ia")), "rid_a")
      .join(memb.select(col("rid").as("rid_b"), col("id").as("ib")), "rid_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("edit_dist"))
    // lev=0 pairs within each dup group, straight from membership
    val zeros = memb.select(col("rid"), col("id").as("id_a"))
      .join(memb.select(col("rid"), col("id").as("id_b")), "rid")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("edit_dist"))
    cross.unionAll(zeros)
  }
}
