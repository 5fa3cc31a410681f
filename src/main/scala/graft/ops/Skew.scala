package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities. AQE handles skewed sort-merge JOINs
  * automatically; these cover the cases it doesn't: hot-key
  * aggregations (the classic two-phase salted aggregate), hot-key
  * enrichment joins (a salted fact-to-dimension join), and hot buckets
  * in the grouped candidate-pair expansion every near-dup and
  * similarity generator shares ([[bucketPairs]], which tiles a hot
  * bucket over tasks instead of serializing it on one reducer).
  */
object Skew {

  /** Two-phase salted count/sum aggregate: partial-aggregate on
    * (key, salt) spreads a hot key over `saltBuckets` reducers, then the
    * final aggregate combines the partials. Semantically identical to a
    * direct groupBy (ScalaTest-verified); worth the extra exchange only
    * when single keys dominate partitions.
    */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
      saltBuckets: Int): DataFrame = {
    // Salt from ROW CONTENT (like saltedEnrichJoin), never from
    // monotonically_increasing_id(): mid ids are assigned per-partition
    // at execution time, so a task retry or an AQE re-coalesce re-salts
    // the same rows differently — the partial aggregate would no longer
    // replay to the same partitions, defeating deterministic re-execution
    // (speculative tasks, stage retries) and making plans
    // non-reproducible. A content hash is stable across retries; rows
    // with identical (k, v) share a salt cell, which skews the spread
    // only when a hot key's VALUES are near-constant — and a
    // constant-value hot key is exactly the case where the partial
    // aggregate collapses to one row per cell anyway.
    val salted = df.select(key.as("k"), value.as("v"),
      pmod(xxhash64(key, value), lit(saltBuckets.toLong)).as("salt"))
    salted
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("partial_sum"), count(lit(1)).as("partial_n"))
      .groupBy(col("k"))
      .agg(sum(col("partial_sum")).as("total"), sum(col("partial_n")).as("n"))
  }

  /** Salted FACT-to-DIMENSION equi-join — the skew escape hatch for
    * joins where the fact side has unbounded rows per key (a hot hub's
    * edges, a boilerplate domain's documents) but the dimension side has
    * EXACTLY ONE row per key (a label table, a per-key aggregate). A
    * plain equi-join lands every fact row for the hot key on one
    * reducer; here each fact row gets a deterministic salt from
    * `saltSource` (any column that varies across the hot key's rows),
    * the one-row-per-key dimension is replicated g ways, and the join
    * key becomes (key, salt) — the hot key's rows spread over g
    * reducers at the cost of a g× shuffle of the (small) dimension.
    * Parity with the direct join is exact because each fact row matches
    * exactly one of the g dimension replicas (ScaleSpec).
    *
    * Caller contract: `dim` must be unique per `key` (else rows
    * duplicate g-fold) and share the key column name with `fact`.
    */
  def saltedEnrichJoin(fact: DataFrame, key: String, saltSource: Column,
      dim: DataFrame, g: Int): DataFrame = {
    require(g >= 1, s"salt buckets must be >= 1, got $g")
    val fs = fact.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(g.toLong)).cast("int"))
    val ds = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(g - 1))))
    fs.join(ds, Seq(key, "__salt")).drop("__salt")
  }

  /** Default [[bucketPairs]] tile: the largest bucket that still expands
    * as one unit. The largest bucket measured for any generator at sf0.1
    * and on the benchmark's curation corpus has 291 members (NOTES.md),
    * so healthy buckets are never tiled. */
  val PairTile = 1024

  /** Distinct unordered member pairs within each bucket — the candidate
    * expansion shared by every near-dup and similarity generator (LSH
    * bands, SimHash bands, sign-LSH bands, deletion signatures, df-capped
    * shingles).
    *
    * `member` is either a bare orderable id or a struct with an `id`
    * field; the id orders a pair and null ids never pair. Output:
    * `(a, b)` member values with `a.id < b.id`, one row per distinct
    * pair — exactly the pair set of a self-equi-join on `keys` filtered
    * to `a.id < b.id`.
    *
    * One grouped aggregate collects each bucket's members and drops
    * singletons (the majority), so the bucket table is exchanged once
    * and never joined against itself. Each remaining bucket becomes
    * expansion units: a bucket of at most `tile` members is one unit; a
    * larger one is sorted by id and cut into `tile`-sized slices, and
    * each slice pair (i ≤ j) is a unit. Sorting makes every id in slice
    * i no larger than any id in slice j > i, so the `a.id < b.id` filter
    * keeps each pair exactly once. The units pass through a round-robin
    * `repartition(n)` over the session's task slots before they expand:
    * AQE does not coalesce a count-fixed repartition, so a hot bucket's
    * C(k,2) pairs spread over n tasks in units of at most tile² pairs
    * instead of serializing on the reducer that collected it. This is
    * the load-balanced partitioning of REPOSE (ICDE 2021).
    *
    * Only non-singleton buckets cross that exchange. Routing just the
    * hot units through it (a union with an in-place branch over the same
    * aggregate) writes the bucket shuffle twice whenever the input is a
    * cached frame: AQE cannot reuse an exchange above a table-cache
    * query stage (NOTES.md). */
  def bucketPairs(df: DataFrame, keys: Seq[Column], member: Column,
      tile: Int = PairTile): DataFrame = {
    require(tile >= 1, s"tile must be >= 1, got $tile")
    val isStruct = df.select(member).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType]
    def id(m: Column): Column = if (isStruct) m.getField("id") else m
    val ms = col("ms")
    val byId = when(size(ms) > tile, array_sort(ms, (x, y) =>
      when(id(x) < id(y), -1).when(id(x) > id(y), 1).otherwise(0))).otherwise(ms)
    val last = col("last")
    val slicePairs = flatten(transform(sequence(lit(0), last),
      i => transform(sequence(i, last), j => struct(i.as("i"), j.as("j")))))
    def slab(i: Column): Column = slice(ms, i * tile + 1, lit(tile))
    df.filter(id(member).isNotNull)
      .groupBy(keys: _*).agg(collect_list(member).as("ms"))
      .filter(size(ms) >= 2)
      .select(byId.as("ms"), floor((size(ms) - 1) / tile).cast("int").as("last"))
      .select(ms, explode(slicePairs).as("t"))
      // r stays null for a diagonal unit, so its slice ships once
      .select(slab(col("t.i")).as("l"),
        when(col("t.i") =!= col("t.j"), slab(col("t.j"))).as("r"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("l")).as("a"), coalesce(col("r"), col("l")).as("r"))
      .select(col("a"), explode(col("r")).as("b"))
      .filter(id(col("a")) < id(col("b")))
      .distinct()
  }
}
