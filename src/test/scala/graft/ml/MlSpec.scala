package graft.ml

import org.apache.spark.sql.functions._
import graft.{SparkSpecBase, Tables}
import graft.functions.PolyFingerprint

class MlSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001).cache()

  test("exact dedup groups duplicated texts under one representative") {
    val df = Seq(
      (1L, "the same text"), (2L, "the same text"), (3L, "different text"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df).collect()
    assert(groups.length == 2)
    val dupGroup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dupGroup.getAs[Long]("representative_id") == 1L)
  }

  test("jaccard pairs finds the planted near-duplicates (28 at sf0.001)") {
    val pairs = Dedup.jaccardPairs(docs, 0.5).collect()
    assert(pairs.length == 28)
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("stop-shingle-capped jaccard still finds every planted near-dup") {
    val exact = Dedup.jaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.jaccardPairsCapped(docs, 0.5, maxShingleDf = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped == exact) // near-dups share rare shingles; verification exact
  }

  test("containment pairs: brute-force parity, asymmetry, and the " +
      "full-containment duplicates Jaccard misses at high tau") {
    // brute force over full shingle sets: ordered pairs a != b
    val sh = Dedup.shingled(docs)
    val brute = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")))
      .filter(col("doc_a") =!= col("doc_b"))
      .withColumn("containment",
        round(size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(col("sa")), 6))
      .filter(col("containment") >= 0.8)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.containmentPairs(docs, 0.8, Dedup.ScoredDfCap)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == brute, "df-capped candidates missed a containment pair")
    assert(brute.nonEmpty)
    // asymmetry: a containment-1.0 pair (a fully inside b) need not
    // hold in reverse unless the docs are identical
    val full = brute.filter(_._3 == 1.0)
    assert(full.nonEmpty, "fixture should contain full-containment pairs")
    // every Jaccard>=0.8 pair is a containment>=0.8 pair in both
    // orders (containment >= jaccard pointwise)
    val jac = Dedup.jaccardPairs(docs, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val contKeys = brute.map(p => (p._1, p._2))
    assert(jac.forall(p => contKeys.contains(p) && contKeys.contains(p.swap)))
    // the converse fails exactly on QUOTE INCLUSION: a short doc
    // verbatim inside a much longer one scores containment 1.0 but
    // Jaccard |short|/|long| — plant that shape and show the Jaccard
    // tier is blind to it at the same threshold
    val words = (0 until 60).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (1L, words.split(" ").take(12).mkString(" ")), // 12 tokens
      (2L, words)) // 60 tokens, contains doc 1 verbatim as a prefix
      .toDF("doc_id", "text")
    val c = Dedup.containmentPairs(planted, 0.8, Dedup.ScoredDfCap)
      .as[(Long, Long, Double)].collect().toSet
    assert(c.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"short-inside-long must score containment 1.0: $c")
    assert(!c.exists(p => p._1 == 2L && p._2 == 1L),
      "reverse direction must stay below threshold")
    assert(Dedup.jaccardPairs(planted, 0.8).collect().isEmpty,
      "Jaccard at 0.8 must be blind to the quote inclusion")
  }

  test("minhash+LSH+verify returns exactly the exact-jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashDupPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // verification makes precision exact; banding (64 bands × 2 rows)
    // makes a miss at j>=0.5 a ~1e-8 event
    assert(lsh == exact)
    // every non-singleton bucket forced through the hot-bucket tiled
    // expansion is output-identical end to end
    val tiled = Dedup.minhashDupPairs(docs, 0.5, tile = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(tiled == exact)
    spark.catalog.clearCache() // both paths persist signature tables
  }

  test("dup clusters: transitive components labeled by min doc_id") {
    // chain 1-2-3 (no direct 1-3 edge) must still form one component
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("simhash: near-identical docs collide, unrelated docs don't") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 59).map(i => s"tok$i") :+ "tokX").mkString(" ")
    val other = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simhashDupPairs(df, 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("brute-force top-k: k rows per query, ranks consecutive, scores sorted") {
    val topk = Similarity.bruteForceTopK(Tables.embeddings(spark, sf0001), 0L to 7L, 5)
      .collect()
    assert(topk.length == 8 * 5)
    val byQuery = topk.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      val sims = sorted.map(_.getAs[Double]("cos_sim")).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("LSH top-k scores agree with brute force where they overlap; sane recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteForceTopK(emb, 0L to 7L, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    val lsh = Similarity.lshTopK(emb, 0L to 7L, 5, nBits = 6).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(b => assert(b == r.getAs[Double]("cos_sim")))
    }
    val recall = lsh.count(r =>
      brute.contains((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))).toDouble /
      brute.size
    assert(recall >= 0.1, s"LSH recall@5 unexpectedly low: $recall")
  }

  test("IVF top-k scores agree with brute force where they overlap; sane recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteForceTopK(emb, 0L to 7L, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    val ivf = Similarity.ivfTopK(emb, 0L to 7L, 5, nlist = 16, nprobe = 4).collect()
    assert(ivf.length == 8 * 5) // probed lists hold >= k candidates per query
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(b => assert(b == r.getAs[Double]("cos_sim")))
    }
    val recall = ivf.count(r =>
      brute.contains((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))).toDouble /
      brute.size
    assert(recall >= 0.1, s"IVF recall@5 unexpectedly low: $recall")
  }

  test("IVF recall@5 curve across nprobe: measured, monotone, exact at full probe") {
    // The accuracy/cost trade the IVF tier sells: each query scans
    // nprobe/nlist of the corpus; recall should climb with nprobe and
    // reach 1.0 when every list is probed (full scan == brute force).
    val emb = Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteForceTopK(emb, 0L to 7L, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .toSet
    val curve = Seq(1, 2, 4, 8, 16).map { nprobe =>
      val ivf = Similarity.ivfTopK(emb, 0L to 7L, 5, nlist = 16,
        nprobe = nprobe).collect()
      val recall = ivf.count(r => brute.contains(
        (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))).toDouble /
        brute.size
      nprobe -> recall
    }
    curve.foreach { case (np, r) =>
      info(f"nprobe=$np%2d  scan=${np / 16.0 * 100}%5.1f%%  recall@5=$r%.3f")
    }
    // monotone non-decreasing in nprobe (more lists scanned, never worse)
    curve.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(hi >= lo, s"recall curve not monotone: $curve")
    }
    assert(curve.last._2 == 1.0,
      s"nprobe=nlist must equal brute force, got ${curve.last._2}")
    assert(curve.head._2 < 1.0 || curve.size == 1,
      "nprobe=1 already exact — curve is vacuous, shrink nlist")
  }

  test("fuzzy pairs: deletion-neighborhood join equals brute-force levenshtein") {
    // fixture spans every relation: exact dup (ed 0), substitution (1),
    // insert+substitute (2), and a 3-edit pair that must be EXCLUDED
    val rows = Seq(
      (1L, "spark streaming"), (2L, "spark streaming"),  // ed 0
      (3L, "spark streeming"),                           // ed 1 vs 1/2
      (4L, "sparc streemingz!"),                         // ed 3 vs 3 — excluded
      (5L, "flink batch"), (6L, "blink match"))          // ed 2 pair; far from others
    val df = rows.toDF("id", "s")
    val got = Fuzzy.fuzzyPairs(df, "id", "s", maxEd = 2)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      d = {
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      }
      if d <= 2
    } yield (a, b, d)).toSet
    assert(got == brute, s"got $got expected $brute")
    assert(got.exists(_._3 == 0) && got.exists(_._3 == 1) && got.exists(_._3 == 2))
    assert(!got.exists(p => p._1 == 3L && p._2 == 4L)) // the 3-edit pair
    // candidate generation is a signature equi-join — no cartesian product
    val plan = Fuzzy.fuzzyPairs(df, "id", "s", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join fell back to all-pairs:\n${plan.take(600)}")
    // and it runs over DISTINCT strings: the dup-group reduction (min id
    // per s) that collapses duplicates must sit below the signature join
    // — as a partial-aggregating groupBy, never a Window over s (r10
    // verdict #2: a hot dup group would buffer whole in one task).
    // The reduction sits inside the persisted membership fragment; the
    // plan STRING prints the InMemoryRelation's cached plan inline, so
    // assert there (AQE hides the cache scan from a plan walk).
    assert(plan.contains("min(id") && !plan.contains("Window"),
      s"dup-group reduction is not a windowless min-per-s aggregate:\n${plan.take(900)}")
    // the reduction really collapsed duplicates: representatives are the
    // distinct strings, so lev=0 pairs (2 dup ids of "spark streaming")
    // came from membership, not the signature join
    assert(got.count(_._3 == 0) == 1)
    spark.catalog.clearCache() // fuzzyPairs' documented caller contract
  }

  test("DeletionSigs codegen expression == xxhash64 over HOF deletion variants") {
    // includes multi-byte chars (code-point deletes, not byte deletes),
    // repeated chars (duplicate variants), and degenerate lengths
    val df = Seq((1L, "spark streaming"), (2L, "héllo wörld ✓"),
      (3L, "aa"), (4L, "a"), (5L, "")).toDF("id", "s")
    val expr = df.select($"id",
        explode(graft.functions.DeletionSigs.sigs($"s", 2)).as("h"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val hof = df.select($"id",
        explode(Fuzzy.deletionVariants($"s", 2)).as("v"))
      .select($"id", xxhash64($"v").as("h"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(expr == hof)
    // count sanity: 1 + n + C(n,2) signatures for an n-char string
    val n15 = df.filter($"id" === 1)
      .select(size(graft.functions.DeletionSigs.sigs($"s", 2)))
      .head().getInt(0)
    assert(n15 == 1 + 15 + 15 * 14 / 2)
  }

  test("CdcChunks expression == the HOF boundary formulation; chunks reconstruct") {
    // the HOF form below IS the committed oracle's formulation
    // (ns_cdc_chunks), so expression==HOF here plus oracle-green at the
    // gate pins all three spellings together. Fixtures: long ASCII,
    // multi-byte (code-point windows, not byte windows), sub-window
    // lengths, empty, exactly window-sized.
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps going " +
        "for a while so several content boundaries can fire"),
      (2L, "héllo wörld ✓ multi byte windows must count code points not " +
        "bytes across every rolling window position"),
      (3L, "short"), (4L, ""), (5L, "exactly8")).toDF("id", "s")
    val hof = {
      val b = when(length($"s") >= 8,
        filter(sequence(lit(8), length($"s")),
          i => substring(md5(substr($"s", i - lit(7), lit(8))), 1, 1)
            === lit("0")))
        .otherwise(array().cast("array<int>"))
      df.select($"id", $"s", b.as("bpos"))
        .select($"id", $"s",
          concat(array(lit(0)), $"bpos").as("starts"),
          concat($"bpos", array(length($"s"))).as("ends"))
        .select($"id", filter(zip_with($"starts", $"ends",
            (st, e) => substr($"s", st + lit(1), e - st)),
          c => length(c) > 0).as("cs"))
    }.as[(Long, Seq[String])].collect().toMap
    val expr = df.select($"id",
        graft.functions.CdcChunks.cdcChunks($"s").as("cs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(expr == hof, "expression diverges from the oracle formulation")
    assert(expr(4L).isEmpty && expr(3L) == Seq("short"))
    assert(expr(1L).size > 1, "long fixture fired no boundary — weak fixture")
    // lossless split: chunks concatenate back to the text, in order
    val broken = df.select($"s", concat_ws("",
        graft.functions.CdcChunks.cdcChunks($"s")).as("r"))
      .filter($"r" =!= $"s").count()
    assert(broken == 0, "chunks do not reconstruct the text")
    // SQL registration smoke
    graft.GraftExtensions.register(spark)
    assert(spark.sql("SELECT size(cdc_chunks('abcdefgh plus more text here'))")
      .head().getInt(0) >= 1)
  }

  test("banded cosine dup pairs equal the brute-force pair set (non-trivially)") {
    val emb = Tables.embeddings(spark, sf0001)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val brute = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(Similarity.cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.45)
      .as[(Long, Long, Double)].collect().toSet
    val banded = Similarity.cosineDupPairs(emb, 0.45)
      .as[(Long, Long, Double)].collect().toSet
    assert(banded.nonEmpty) // threshold chosen so the test is not vacuous
    assert(banded == brute) // recall-guaranteed banding + exact verify
  }

  test("banded path at dedup threshold finds planted near-dups, equals exact") {
    // deterministic LCG vectors: planted near-dup pairs (tiny perturbation,
    // cos > 0.99) among unrelated random vectors (cos ~ N(0, 1/64))
    var seed = 0x5eedL
    def nextGauss(): Double = {
      // sum of 12 uniforms - 6: mean 0, var 1 (Irwin-Hall)
      var acc = 0.0
      (0 until 12).foreach { _ =>
        seed = seed * 6364136223846793005L + 1442695040888963407L
        acc += ((seed >>> 11).toDouble / (1L << 53).toDouble)
      }
      acc - 6.0
    }
    def vec(): Seq[Double] = Seq.fill(64)(nextGauss())
    val bases = (0 until 20).map(_ => vec())
    val rows = bases.zipWithIndex.flatMap { case (v, i) =>
      val dup = v.map(_ + 0.02 * nextGauss()) // near-identical twin
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, dup))
    }
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineDupPairsExact(df, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.size >= 20) // every planted twin qualifies
    val banded = Similarity.cosineDupPairsBanded(df, 0.9, nBands = 128,
      rowsPerBand = 16)
      .as[(Long, Long, Double)].collect().toSet
    assert(banded == exact)
  }

  test("lm perplexity: hand-computed add-one bigram model on a 2-doc corpus") {
    // tokens: doc0 = a b a b, doc1 = a b c → uni a:3 b:3 c:1, V=3
    // bigrams: doc0 (a,b)x2 (b,a); doc1 (a,b) (b,c) → cb (a,b):3 others:1
    // nlp(a,b) = -ln(4/6); nlp(b,a) = nlp(b,c) = -ln(2/6) = ln 3
    val df = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmPerplexity(df).orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val nlpAb = -math.log(4.0 / 6.0)
    val ln3 = math.log(3.0)
    val avg0 = (2 * nlpAb + ln3) / 3
    val avg1 = (nlpAb + ln3) / 2
    assert(out.map(r => (r._1, r._2)) == Seq((0L, 3L), (1L, 2L)))
    assert(math.abs(out(0)._3 - avg0) < 1e-6 && math.abs(out(0)._4 - math.exp(avg0)) < 1e-3)
    assert(math.abs(out(1)._3 - avg1) < 1e-6 && math.abs(out(1)._4 - math.exp(avg1)) < 1e-3)
  }

  test("dup ngram spans: shared run coalesces into one island, unique docs report zero") {
    // doc0/doc1 share the 5-token run "q w e r t" = three consecutive
    // duplicated 3-grams; doc2 shares nothing.
    val df = Seq(
      (0L, "q w e r t y u"),
      (1L, "z x q w e r t c v"),
      (2L, "m n b v c x l")).toDF("doc_id", "text")
    val out = Dedup.dupNgramSpans(df, 3).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 5L, 3L, 3L, 5L), (1L, 7L, 3L, 3L, 5L), (2L, 5L, 0L, 0L, 0L)))
  }

  test("PosShingles codegen == transform HOF, positional and multiplicity-preserving") {
    val base = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("toks")).persist()
    base.count()
    val hof = base.select(col("doc_id"), expr(
      """CASE WHEN size(toks) >= 8
        |  THEN transform(sequence(1, size(toks) - 7), i -> concat_ws(' ', slice(toks, i, 8)))
        |  ELSE cast(array() as array<string>) END""".stripMargin).as("g"))
    val cg = base.select(col("doc_id"),
      graft.functions.PosShingles.posShingles(col("toks"), 8).as("g"))
    assert(cg.exceptAll(hof).isEmpty && hof.exceptAll(cg).isEmpty)
    // duplicated grams must be preserved (WordShingles would collapse them)
    val rep = Seq((0L, Seq.fill(3)("x y").mkString(" "))).toDF("doc_id", "text")
      .select(split(col("text"), " ").as("toks"))
      .select(graft.functions.PosShingles.posShingles(col("toks"), 2).as("g"))
      .as[Seq[String]].head
    assert(rep == Seq("x y", "y x", "x y", "y x", "x y"))
  }

  test("contamination flags the doc sharing an eval 8-gram, skips clean docs") {
    val run = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 tokens
    val df = Seq(
      (0L, s"eval doc starts $run and continues onward"), // eval (0 % 10 == 0)
      (13L, s"training doc quoting $run verbatim here"),  // contaminated
      (25L, "completely unrelated training text with no overlap at all"))
      .toDF("doc_id", "text")
    val out = Corpus.contamination(df, col("doc_id") % 10 === 0, 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((13L, 1L, 1L))) // one shared 8-gram, one eval doc
  }

  test("sequence packing: hand-computed offsets across bucket boundaries") {
    // token counts 4, 3, 5, 2, 6 → starts 0, 4, 7, 12, 14; budget 5 →
    // seq ids 0, 0, 1, 2, 2; offsets 0, 4, 2, 2, 4. bucketSize=2 forces
    // the cross-bucket prefix-sum path (3 buckets).
    val df = Seq(
      (0L, "a b c d"), (1L, "a b c"), (2L, "a b c d e"),
      (3L, "a b"), (4L, "a b c d e f")).toDF("doc_id", "text")
    val out = Corpus.packSequences(df, 5, bucketSize = 2L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 4L, 0L, 0L), (1L, 3L, 0L, 4L), (2L, 5L, 1L, 2L),
      (3L, 2L, 2L, 2L), (4L, 6L, 2L, 4L)))
  }

  test("heavy hitters: frequency order, token tie-break, document frequency") {
    val df = Seq(
      (1L, "the cat and the dog"), (2L, "the dog"), (3L, "and and zebra"))
      .toDF("doc_id", "text")
    val out = Corpus.heavyHitters(df, 3)
      .as[(Int, String, Long, Long)].collect().toSeq
    // freq: the=3, and=3, dog=2 — 'and' before 'the' on the tie
    assert(out == Seq((1, "and", 3L, 2L), (2, "the", 3L, 2L), (3, "dog", 2L, 2L)))
  }

  test("cosine of identical and orthogonal vectors") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0, -1.0))
  }

  test("poly fingerprint: golden value, expression/pure parity, sensitivity") {
    assert(PolyFingerprint.hash("abc") == 96354L)
    assert(PolyFingerprint.hash("") == 0L)
    val rows = docs.limit(50)
      .select(col("text"), PolyFingerprint.fingerprint(col("text")).as("fp"))
      .collect()
    rows.foreach(r => assert(r.getAs[Long]("fp") == PolyFingerprint.hash(r.getAs[String]("text"))))
    assert(rows.map(_.getAs[Long]("fp")).distinct.length > 45) // distinct texts → distinct fps
  }

  test("lang id: stopword-rich fixtures classify correctly; 'und' fallback") {
    val df = Seq(
      (1L, "xx", "the cat is in the house and it is warm"),
      (2L, "xx", "der hund ist ein tier und die katze"),
      (3L, "xx", "el gato es un animal y la casa es grande"),
      (4L, "xx", "qqq www eee"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.langId(df)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "es" && got(4L) == "und")
  }

  test("quality features: hand-computed ratios") {
    val df = Seq((1L, "The cat, the hat!")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityFeatures(df).collect().head
    assert(r.getAs[Int]("n_chars") == 17)
    assert(r.getAs[Int]("n_tokens") == 4)
    assert(r.getAs[Double]("punct_ratio") == math.rint(2.0 / 17 * 1e6) / 1e6 ||
      math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 17) < 1e-6)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.25) < 1e-9) // "the" once (lowercase)
  }

  test("multimodal: frame sampling covers payload, features are distributions") {
    val assets = Multimodal.assets(docs.limit(10))
    val frames = Multimodal.frameSample(assets, frameLen = 64, nFrames = 4).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.getAs[Long]("asset_id")).values.foreach { fs =>
      val idx = fs.map(_.getAs[Int]("frame_idx")).sorted
      assert(idx.head == 0 && idx.toSeq == (0 until fs.length))
      fs.foreach(f => assert(f.getAs[Int]("frame_len") <= 64 && f.getAs[Int]("frame_len") > 0))
    }
    val feats = Multimodal.featureExtract(assets).collect()
    feats.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("features")
      assert(v.length == 16)
      assert(math.abs(v.sum - 1.0f) < 1e-3) // normalized histogram
    }
    val meta = Multimodal.fakeDecodeMeta(assets).collect()
    meta.foreach { r =>
      assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("width") <= 1920)
      assert(r.getAs[String]("content_md5").length == 32)
    }
  }

  test("image decode: real PNG/BMP pixels from committed fixtures, exact stats") {
    // the committed 16x12 RGB gradient: pixel(x,y) = (16x, 16y, 8(x+y))
    // mod 256 — expected stats derive from the FORMULA, independent of
    // ImageIO, so a corrupt fixture or decoder both fail the diff
    // (PNG and BMP are lossless, so formula == decoded pixels exactly)
    val (w, h) = (16, 12)
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      sr += (x * 16) % 256; sg += (y * 16) % 256; sb += ((x + y) * 8) % 256
    }
    val n = w.toLong * h
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      assert(in != null, s"missing committed fixture $name")
      try in.readAllBytes() finally in.close()
    }
    // 4L: a payload that makes the JDK reader THROW (valid PNG signature
    // + garbage body → IIOException) rather than return null — pins that
    // decodeImage absorbs reader throws as a null row, not a task
    // failure. (The catch is NonFatal, wider than this payload
    // exercises: JDK readers surface RuntimeExceptions — CMMException,
    // AIOOBE — only on JDK-version-dependent payloads, so the breadth
    // is contract-by-comment at the catch site, probed here at the
    // portable IIOException level.)
    val truncated = fixture("gradient.png").take(20) ++
      Array.fill[Byte](40)(0x7F)
    val df = Seq(
      (1L, "image", fixture("gradient.png")),
      (2L, "image", fixture("gradient.bmp")),
      (3L, "image", "not an image".getBytes("UTF-8")),
      (4L, "image", truncated)
    ).toDF("asset_id", "modality", "bytes")
    val got = Multimodal.decodeImageMeta(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    Seq(1L, 2L).foreach { id =>
      val r = got(id)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h,
        s"asset $id decoded wrong dims")
      assert(r.getAs[Int]("channels") == 3)
      assert(r.getAs[Double]("mean_r") == sr.toDouble / n, s"asset $id mean_r")
      assert(r.getAs[Double]("mean_g") == sg.toDouble / n, s"asset $id mean_g")
      assert(r.getAs[Double]("mean_b") == sb.toDouble / n, s"asset $id mean_b")
    }
    // undecodable payloads → null metadata, rows survive: both the
    // reader-returns-null shape (3) and the reader-throws shape (4)
    assert(got(3L).isNullAt(got(3L).fieldIndex("width")))
    assert(got(4L).isNullAt(got(4L).fieldIndex("width")))
  }

  test("audio decode: real WAV/AIFF PCM from committed fixtures, exact stats") {
    // the committed ramp fixtures: sample s(i) = ((i * 2731) % 20001) -
    // 10000 over 1600 frames at 8000 Hz — expected stats derive from the
    // FORMULA, independent of javax.sound.sampled, so a corrupt fixture
    // or decoder both fail the diff (PCM is lossless). ramp.wav is mono
    // 16-bit little-endian; ramp.aiff is stereo 16-bit big-endian with
    // ch1 = -ch0, so |amplitude| stats match the mono formula exactly
    // while exercising the other endianness and a multi-channel layout.
    val n = 1600
    def s(i: Int): Int = ((i * 2731) % 20001) - 10000
    val absVals = (0 until n).map(i => math.abs(s(i)))
    val peak = absVals.max
    val meanAbs = absVals.map(_.toLong).sum.toDouble / n
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      assert(in != null, s"missing committed fixture $name")
      try in.readAllBytes() finally in.close()
    }
    // 4L: healthy RIFF header, frame data cut mid-way — the decoder must
    // return the contracted null row, never silently-partial stats
    val truncated = fixture("ramp.wav").take(60)
    val df = Seq(
      (1L, "audio", fixture("ramp.wav")),
      (2L, "audio", fixture("ramp.aiff")),
      (3L, "audio", "not audio at all".getBytes("UTF-8")),
      (4L, "audio", truncated)
    ).toDF("asset_id", "modality", "bytes")
    val got = Multimodal.decodeAudioMeta(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    Seq(1L -> 1, 2L -> 2).foreach { case (id, channels) =>
      val r = got(id)
      assert(r.getAs[Int]("sample_rate") == 8000, s"asset $id rate")
      assert(r.getAs[Int]("channels") == channels, s"asset $id channels")
      assert(r.getAs[Int]("bits_per_sample") == 16)
      assert(r.getAs[Long]("n_frames") == n, s"asset $id frames")
      assert(r.getAs[Double]("duration_sec") == n / 8000.0)
      assert(r.getAs[Int]("peak_amp") == peak, s"asset $id peak")
      assert(r.getAs[Double]("mean_abs") == meanAbs, s"asset $id mean_abs")
    }
    // undecodable payloads → null metadata, rows survive: the
    // reader-rejects shape (3) and the truncated-frame-data shape (4)
    assert(got(3L).isNullAt(got(3L).fieldIndex("sample_rate")))
    assert(got(4L).isNullAt(got(4L).fieldIndex("sample_rate")))
  }

  test("video decode: real ISO-BMFF container parse, hand-assembled fixtures") {
    // fixtures are assembled HERE from the ISO 14496-12 box layout —
    // an independent encoder in miniature, so expected values derive
    // from the spec'd byte positions, never from the parser under test
    import java.nio.ByteBuffer
    def u16(v: Int) = ByteBuffer.allocate(2).putShort(v.toShort).array()
    def u32(v: Long) = ByteBuffer.allocate(4).putInt(v.toInt).array()
    def u64(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
    def fx(d: Double) = u32((d * 65536).toLong) // 16.16 fixed point
    def cc(s: String) = s.getBytes("ISO-8859-1")
    def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val content = parts.flatten.toArray
      u32(8L + content.length) ++ cc(typ) ++ content
    }
    // same box in the 64-bit largesize form (size32=1, 8-byte size)
    def bigBox(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val content = parts.flatten.toArray
      u32(1L) ++ cc(typ) ++ u64(16L + content.length) ++ content
    }
    val matrix = Array.fill(36)(0.toByte)
    def hdlr(handler: String) =
      box("hdlr", u32(0), u32(0), cc(handler), Array.fill(12)(0.toByte))
    // v0 headers: mvhd timescale@12/duration@16, tkhd width@76/height@80
    def mvhdV0(timescale: Long, duration: Long) =
      box("mvhd", u32(0), u32(0), u32(0), u32(timescale), u32(duration),
        u32(0x00010000L), u16(0x0100), Array.fill(10)(0.toByte), matrix,
        Array.fill(24)(0.toByte), u32(2))
    def tkhdV0(w: Double, h: Double) =
      box("tkhd", u32(7), u32(0), u32(0), u32(1), u32(0), u32(0),
        u64(0), u16(0), u16(0), u16(0), u16(0), matrix, fx(w), fx(h))
    // v1 headers: 64-bit times/duration shift the field block
    def mvhdV1(timescale: Long, duration: Long) =
      box("mvhd", Array[Byte](1, 0, 0, 0), u64(0), u64(0), u32(timescale),
        u64(duration), u32(0x00010000L), u16(0x0100),
        Array.fill(10)(0.toByte), matrix, Array.fill(24)(0.toByte), u32(2))
    def tkhdV1(w: Double, h: Double) =
      box("tkhd", Array[Byte](1, 0, 0, 7), u64(0), u64(0), u32(1), u32(0),
        u64(0), u64(0), u16(0), u16(0), u16(0), u16(0), matrix, fx(w), fx(h))
    val ftyp = box("ftyp", cc("isom"), u32(0), cc("mp42"))
    // 7.5 s movie, one 640x360 video track + one audio track; moov in
    // the largesize form to exercise that header path
    val good = ftyp ++ bigBox("moov",
      mvhdV0(1000, 7500),
      box("trak", tkhdV0(640, 360), box("mdia", hdlr("vide"))),
      box("trak", tkhdV0(0, 0), box("mdia", hdlr("soun")))) ++
      box("mdat", cc("fake"))
    // the v1 (64-bit) header variant, QuickTime brand, video-only
    val goodV1 = box("ftyp", cc("qt  "), u32(0), cc("qt  ")) ++ box("moov",
      mvhdV1(90000, 450000),
      box("trak", tkhdV1(1920, 1080), box("mdia", hdlr("vide"))))
    val df = Seq(
      (1L, "video", good),
      (2L, "video", goodV1),
      (3L, "video", "not a movie at all".getBytes("UTF-8")),
      (4L, "video", good.dropRight(10)),         // truncated box tree
      (5L, "video", ftyp ++ box("moov", box("trak", tkhdV0(1, 1)))), // no mvhd
      // a vide track whose tkhd is too short to hold width/height must
      // null the whole row — partial metadata (another track's dims
      // posing as the first video track's) is worse than none
      (6L, "video", ftyp ++ box("moov", mvhdV0(1000, 1000),
        box("trak", box("tkhd", u32(0), u32(0)), box("mdia", hdlr("vide")))))
    ).toDF("asset_id", "modality", "bytes")
    val got = Multimodal.decodeVideoMeta(df).collect()
      .map(r => r.getAs[Long]("asset_id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[String]("major_brand") == "isom")
    assert(r1.getAs[Long]("timescale") == 1000L)
    assert(r1.getAs[Long]("duration_units") == 7500L)
    assert(r1.getAs[Double]("duration_sec") == 7.5)
    assert(r1.getAs[Double]("width") == 640.0 &&
      r1.getAs[Double]("height") == 360.0)
    assert(r1.getAs[Int]("n_tracks") == 2 &&
      r1.getAs[Int]("n_video_tracks") == 1 &&
      r1.getAs[Int]("n_audio_tracks") == 1)
    val r2 = got(2L)
    assert(r2.getAs[String]("major_brand") == "qt  ")
    assert(r2.getAs[Long]("timescale") == 90000L)
    assert(r2.getAs[Double]("duration_sec") == 5.0)
    assert(r2.getAs[Double]("width") == 1920.0 &&
      r2.getAs[Double]("height") == 1080.0)
    assert(r2.getAs[Int]("n_tracks") == 1 &&
      r2.getAs[Int]("n_audio_tracks") == 0)
    // corrupt shapes → null rows that keep flowing: not-a-movie (3),
    // truncated box tree (4), moov without mvhd (5), short vide tkhd (6)
    Seq(3L, 4L, 5L, 6L).foreach { id =>
      assert(got(id).isNullAt(got(id).fieldIndex("timescale")),
        s"asset $id should have null metadata") }
  }

  test("binaryFile asset read: real media directory through the decode pipeline") {
    // the production entry point: a directory tree of media files read
    // via Spark's binaryFile source into the SAME (asset_id, modality,
    // bytes) schema the synthesized assets() table uses — proven by
    // running the real image decode unchanged over the read frame
    def res(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(name)
      assert(in != null, s"missing resource $name")
      try in.readAllBytes() finally in.close()
    }
    val root = java.nio.file.Files.createTempDirectory("graft_blob")
    val sub = java.nio.file.Files.createDirectory(root.resolve("shard0"))
    java.nio.file.Files.write(sub.resolve("gradient.png"),
      res("/graft/fixtures/gradient.png"))
    java.nio.file.Files.write(sub.resolve("photo.jpg"),
      res("/graft/fixtures/photo.jpg"))
    java.nio.file.Files.write(root.resolve("ramp.wav"),
      res("/graft/fixtures/ramp.wav"))
    java.nio.file.Files.write(root.resolve("readme.txt"),
      "not media".getBytes("UTF-8"))
    val assets = Multimodal.binaryAssets(spark, root.toString)
    val rows = assets.collect().map(r =>
      r.getAs[String]("source_path").split('/').last -> r).toMap
    assert(rows.keySet ==
      Set("gradient.png", "photo.jpg", "ramp.wav", "readme.txt"))
    // modality from extension; recursive lookup found the shard subdir
    assert(rows("gradient.png").getAs[String]("modality") == "image")
    assert(rows("photo.jpg").getAs[String]("modality") == "image")
    assert(rows("ramp.wav").getAs[String]("modality") == "audio")
    assert(rows("readme.txt").getAs[String]("modality") == "binary")
    // bytes round-trip exactly (content column IS the file)
    assert(java.util.Arrays.equals(
      rows("photo.jpg").getAs[Array[Byte]]("bytes"),
      res("/graft/fixtures/photo.jpg")))
    // asset_id: stable across re-listings, distinct per file
    val again = Multimodal.binaryAssets(spark, root.toString).collect()
      .map(r => r.getAs[String]("source_path") -> r.getAs[Long]("asset_id"))
      .toMap
    rows.values.foreach(r => assert(
      again(r.getAs[String]("source_path")) == r.getAs[Long]("asset_id")))
    assert(rows.values.map(_.getAs[Long]("asset_id")).toSet.size == 4)
    // the REAL decode runs unchanged over the real read: both images
    // decode (16x12 fixtures), the non-images null-quarantine
    val meta = Multimodal.decodeImageMeta(assets)
      .collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    val imgIds = Seq("gradient.png", "photo.jpg")
      .map(f => rows(f).getAs[Long]("asset_id"))
    imgIds.foreach { id =>
      assert(meta(id).getAs[Int]("width") == 16 &&
        meta(id).getAs[Int]("height") == 12, s"asset $id wrong dims")
    }
    val wavId = rows("ramp.wav").getAs[Long]("asset_id")
    assert(meta(wavId).isNullAt(meta(wavId).fieldIndex("width")))
    // pathGlobFilter pushes the modality filter into the LISTING —
    // the other files are never read, not just dropped post-scan
    val onlyPng = Multimodal.binaryAssets(spark, root.toString,
      glob = Some("*.png")).collect()
    assert(onlyPng.length == 1 &&
      onlyPng.head.getAs[String]("modality") == "image")
  }

  test("resize: bounded length, deterministic, identity under target") {
    val assets = Multimodal.assets(docs.limit(20))
    val r1 = Multimodal.resizeAssets(assets, 32).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Int]("resized_len"), r.getAs[String]("resized_md5"))).toMap
    r1.values.foreach { case (len, _) => assert(len <= 32 && len > 0) }
    val r2 = Multimodal.resizeAssets(assets, 32).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Int]("resized_len"), r.getAs[String]("resized_md5"))).toMap
    assert(r1 == r2) // deterministic
    // target larger than any payload → identity
    val id = Multimodal.resizeAssets(assets, 1 << 20).collect()
    id.foreach(r => assert(r.getAs[Int]("resized_len") == r.getAs[Int]("orig_len")))
  }

  test("sequential admission: wave order, ledger rejection, greedy min-id MIS") {
    // ids land in waves by doc_id mod 3. Planted relations:
    //  - wave-0 verbatim TRIPLE (6, 9, 12): greedy admits 6 only;
    //  - doc 4 (wave 1) copies the triple's text: rejected by ADMITTED 6
    //    (cross-wave ledger rejection);
    //  - docs 1 (wave 1) and 2 (wave 2) share text B: 1 admitted first,
    //    2 rejected a wave later;
    //  - 3, 5, 7, 8 unique: admitted unconditionally.
    val A = "alpha beta gamma delta epsilon zeta"
    val B = "one two three four five six seven"
    val rows = Seq(
      (6L, A), (9L, A), (12L, A), (4L, A),
      (1L, B), (2L, B),
      (3L, "u3a u3b u3c u3d u3e u3f"), (5L, "u5a u5b u5c u5d u5e u5f"),
      (7L, "u7a u7b u7c u7d u7e u7f"), (8L, "u8a u8b u8c u8d u8e u8f"))
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.sequentialAdmission(df, 0.5, 3)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((6L, 0L), (3L, 0L), (1L, 1L), (7L, 1L),
      (5L, 2L), (8L, 2L)), s"admitted $got")
    // parity with a plain sequential fold over the same pair graph —
    // the oracle's definition, computed in-JVM
    val pairs = Dedup.minhashDupPairs(df, 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val nbr = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val order = rows.map(_._1).sortBy(id => (id % 3, id))
    val admitted = order.foldLeft(Set.empty[Long]) { (adm, id) =>
      if (nbr.getOrElse(id, Set.empty).exists(adm)) adm else adm + id
    }
    assert(got.map(_._1) == admitted, s"fold parity: $admitted")
    spark.catalog.clearCache() // sequentialAdmission persists its pair graph
  }

  test("incremental dedup reports only cross-set (batch x corpus) pairs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base),                      // corpus
      (2L, base + " extra"),           // corpus near-dup of 1 — NOT reported
      (10L, base + " tail"),           // batch near-dup of 1 and 2
      (11L, base + " tail also"),      // batch near-dup — batch-batch NOT reported
      (12L, (100 to 140).map(i => s"z$i").mkString(" "))) // batch, unrelated
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDupPairs(df, col("doc_id") >= 10L, 0.5)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(got.forall { case (n, o) => n >= 10L && o < 10L })
    assert(got.contains((10L, 1L)) && got.contains((10L, 2L)))
    assert(!got.exists { case (n, o) => n == 12L || o == 12L })
  }

  test("paragraph dedup: shared 20-token chunk counted, unique chunks not") {
    val chunk = (1 to 20).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, chunk + " " + (1 to 20).map(i => s"a$i").mkString(" ")),
      (2L, chunk + " " + (1 to 20).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.paragraphDedup(df, 20).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"))).toMap
    assert(got(1L) == (2L, 1L) && got(2L) == (2L, 1L) && got(3L) == (2L, 0L))
  }

  test("sliding chunker: coverage, overlap identity, tail size, count formula") {
    // 37 tokens, window 10, stride 6 -> starts 0,6,12,18,24,30 (6 chunks);
    // last chunk holds tokens 31..37 (7 tokens — the partial tail)
    val toks = (1 to 37).map(i => s"w$i")
    val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val rows = Corpus.chunkSliding(df, 10, 6)
      .orderBy(col("chunk_idx")).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Long]("chunk_idx")).toSeq == (0L to 5L))
    assert(rows.map(_.getAs[Long]("n_tokens")).toSeq ==
      Seq(10L, 10L, 10L, 10L, 10L, 7L))
    // fingerprints replay from the token slices exactly
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { r =>
      val i = r.getAs[Long]("chunk_idx").toInt
      val expect = toks.slice(i * 6, i * 6 + 10).mkString(" ")
      assert(r.getAs[String]("chunk_hash") == h(expect))
    }
    // stride == window degenerates to disjoint chunks: same chunk count
    // as paragraphDedup's index for the same corpus
    assert(Corpus.chunkSliding(df, 10, 10).count() == 4)
    // every token is covered: union of [start, start+len) == [0, n)
    val covered = rows.flatMap { r =>
      val i = r.getAs[Long]("chunk_idx").toInt
      i * 6 until (i * 6 + r.getAs[Long]("n_tokens").toInt)
    }.toSet
    assert(covered == (0 until 37).toSet)
  }

  test("soft dedup: cluster members weigh 1/n, untouched docs weigh 1.0") {
    // 1 and 2 are near-identical (one 6-token sentence apart over a
    // shared 20-token body); 3 shares nothing
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base + " tail a b c d e"),
      (3L, (100 to 130).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cl = Dedup.dupClusters(Dedup.jaccardPairsCapped(df, 0.5, 64))
    val w = Dedup.softDedupWeights(df, cl).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_n"), r.getAs[Double]("weight"))).toMap
    assert(w(1L) == (2L, 0.5) && w(2L) == (2L, 0.5) && w(3L) == (1L, 1.0))
    // weights sum to the effective (cluster-deduped) corpus size
    assert(w.values.map(_._2).sum == 2.0)
  }

  test("shingle novelty: owner doc scores 1.0, full copies score 0.0") {
    val a = (1 to 12).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, a),               // owns all its shingles (min doc_id)
      (2L, a),               // exact copy: every shingle first seen in 1
      (3L, a + " x y z"))    // superset: novel only in the tail shingles
      .toDF("doc_id", "text")
    val nv = Dedup.shingleNovelty(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Double]("novelty"))).toMap
    assert(nv(1L) == (8L, 1.0))
    assert(nv(2L) == (8L, 0.0))
    // doc 3 has 11 shingles: 8 owned by doc 1, 3 novel tail shingles
    assert(nv(3L)._1 == 11L)
    assert(math.abs(nv(3L)._2 - 3.0 / 11.0) < 1e-6)
  }

  test("token histogram: bit-length buckets, exact bounds, cum share hits 1") {
    // token counts 3, 4, 7, 8 -> buckets 2 (lo 2, hi 3), 3 (4..7) x2, 4 (8..15)
    val df = Seq(
      (1L, "a b c"), (2L, "a b c d"), (3L, "a b c d e f g"),
      (4L, "a b c d e f g h")).toDF("doc_id", "text")
    val h = Corpus.tokenHistogram(df).orderBy(col("bucket")).collect()
    assert(h.map(_.getAs[Int]("bucket")).toSeq == Seq(2, 3, 4))
    assert(h.map(r => (r.getAs[Long]("lo_tokens"), r.getAs[Long]("hi_tokens")))
      .toSeq == Seq((2L, 3L), (4L, 7L), (8L, 15L)))
    assert(h.map(_.getAs[Long]("n_docs")).toSeq == Seq(1L, 2L, 1L))
    assert(h.map(_.getAs[Long]("n_tokens")).toSeq == Seq(3L, 11L, 8L))
    assert(h.last.getAs[Double]("cum_token_share") == 1.0)
    // shares are monotone cumulative
    val cums = h.map(_.getAs[Double]("cum_token_share")).toSeq
    assert(cums == cums.sorted)
  }

  test("epochs per source: budget conservation and repeat direction") {
    val rows = Corpus.epochsPerSource(docs, alpha = 0.3, budgetMultiple = 3)
      .collect()
    val totalAvail = rows.map(_.getAs[Long]("n_tokens")).sum
    val totalTarget = rows.map(_.getAs[Long]("tokens_target")).sum
    // targets sum to the budget up to per-source half-token rounding
    // plus the round-6 drift of the weight sum (|Σw − 1| ≤ n·5e-7,
    // scaled by the budget)
    val budget = 3L * totalAvail
    val bound = rows.length / 2 + 1 + (budget * rows.length * 5e-7).toLong
    assert(math.abs(totalTarget - budget) <= bound)
    rows.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      assert(epochs > 0.0)
      // epochs replays target/available exactly (round-6)
      val expect = math.rint(r.getAs[Long]("tokens_target").toDouble /
        r.getAs[Long]("n_tokens") * 1e6) / 1e6
      assert(math.abs(epochs - expect) < 1e-9)
    }
    // temperature smoothing means SOME source repeats (>1 epoch) and
    // some is subsampled (<1) unless all sources are identical
    assert(rows.exists(_.getAs[Double]("epochs") > 1.0))
    assert(rows.exists(_.getAs[Double]("epochs") < 3.0))
  }

  test("sliding chunker invariants across random lengths and strides") {
    // invariant-based sweep of the REAL Column arithmetic (not a Scala
    // re-derivation of the ceil formula): 200 random token counts x 4
    // (window, stride) shapes, asserting coverage, contiguous indices,
    // full-before-last, and the no-suffix-duplicate property
    val rnd = new scala.util.Random(42)
    val docsIn = (1 to 200).map { i =>
      (i.toLong, (1 to (1 + rnd.nextInt(60))).map(t => s"t$t").mkString(" "))
    }
    val df = docsIn.toDF("doc_id", "text")
    val lens = docsIn.map { case (id, s) => id -> s.split(" ").length }.toMap
    for ((w, st) <- Seq((8, 3), (8, 8), (5, 1), (12, 7))) {
      val byDoc = Corpus.chunkSliding(df, w, st).collect()
        .groupBy(_.getAs[Long]("doc_id"))
      assert(byDoc.keySet == lens.keySet) // every doc emits >= 1 chunk
      byDoc.foreach { case (id, ch) =>
        val n = lens(id)
        val idxs = ch.map(_.getAs[Long]("chunk_idx")).sorted.toSeq
        assert(idxs == (0L until idxs.length.toLong), s"gap in $id")
        val covered = ch.flatMap { r =>
          val i = r.getAs[Long]("chunk_idx").toInt
          i * st until (i * st + r.getAs[Long]("n_tokens").toInt)
        }.toSet
        assert(covered == (0 until n).toSet, s"coverage hole in $id")
        val last = idxs.max
        ch.foreach { r =>
          val i = r.getAs[Long]("chunk_idx")
          val len = r.getAs[Long]("n_tokens")
          if (i < last) assert(len == w, s"non-full interior chunk in $id")
          else assert(len >= 1 && len <= w)
        }
        // no suffix-duplicate tail: the penultimate chunk must not
        // already reach the doc's end (else the last chunk would be a
        // pure suffix of it — duplicate content in a retrieval index)
        if (idxs.length > 1)
          assert((idxs.length - 2) * st + w < n, s"suffix-dup tail in $id")
      }
    }
  }

  test("dup inflation: raw/distinct multiplier per source") {
    val df = Seq(
      (1L, "same text", "a"), (2L, "same text", "a"), (3L, "other", "a"),
      (4L, "unique", "b")).toDF("doc_id", "text", "source")
    val r = Dedup.dupInflation(df).collect()
      .map(x => x.getAs[String]("source") ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("n_distinct"),
         x.getAs[Double]("inflation"), x.getAs[Double]("dup_frac"))).toMap
    assert(r("a") == (3L, 2L, 1.5, math.rint(1.0 / 3 * 1e6) / 1e6))
    assert(r("b") == (1L, 1L, 1.0, 0.0))
  }

  test("cross-source matrix: pairs land on unordered source cells") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val df = Seq((1L, "x", "s2"), (2L, "y", "s1"), (3L, "z", "s1"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.crossSourceDupMatrix(df, pairs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_pairs")).toMap
    // (1,2) and (1,3) cross s2/s1 -> canonicalized (s1, s2); (2,3) within s1
    assert(m == Map(("s1", "s2") -> 2L, ("s1", "s1") -> 1L))
  }

  test("per-source quality gate: strictly-above-own-median per source") {
    val rows = TextAnalysis.perSourceQualityGate(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("stopword_ratio") >
        r.getAs[Double]("source_median"))
    }
    // the threshold is per source: at least two sources appear with
    // DIFFERENT medians (a global gate would show one value)
    val medians = rows.map(r => r.getAs[String]("source") ->
      r.getAs[Double]("source_median")).distinct
    assert(medians.map(_._2).distinct.length > 1)
    // each source keeps strictly fewer than all its docs (median gate)
    val keptPerSource = rows.groupBy(_.getAs[String]("source"))
      .map { case (s, rs) => s -> rs.length }
    val totalPerSource = docs.groupBy(col("source")).count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    keptPerSource.foreach { case (s, k) => assert(k < totalPerSource(s)) }
  }

  test("dsir score: target-typical docs outrank off-target docs") {
    val scores = Corpus.dsirScore(docs, col("lang") === "en", 1024)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg(col("dsir_score")).as("s"))
      .collect().map(r => r.getBoolean(0) -> r.getAs[Double]("s")).toMap
    assert(scores(true) > scores(false))
  }

  test("PQ-ADC: seed vectors score exactly; recall@5 is real") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = 0L to 7L
    val all = Similarity.pqTopK(emb, qids, k = 1000000)
    // a codebook seed vector (the 16 lowest corpus ids) encodes to itself
    // in every subspace (distance 0), so its PQ reconstruction is itself
    // and the ADC score must equal the exact fixed-point inner product —
    // the sharpest checkable point of the ADC identity
    val seedIds = (8L to 23L)
    val exact = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .crossJoin(emb.filter(col("vec_id").isin(seedIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .select(col("query_id"), col("vec_id"),
        (aggregate(zip_with(col("qv"), col("v"), (x, y) => x * y),
          lit(0.0), (a, x) => a + x)).as("dot"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val adc = all.filter(col("vec_id").isin(seedIds: _*))
      .collect().map(r =>
        (r.getLong(0), r.getAs[Long]("vec_id")) -> r.getAs[Double]("adc_dot")).toMap
    assert(adc.keySet == exact.keySet)
    adc.foreach { case (k2, a) =>
      // ADC sums m per-subspace fixed-point dots; each rounds to 1e-6, so
      // the total may differ from the exact dot by at most m ulps of 1e-6
      assert(math.abs(a - exact(k2)) <= 8.5e-6,
        s"seed $k2: adc $a != exact ${exact(k2)}")
    }
    // recall@5 vs brute force: sample codebooks are crude, but PQ must
    // beat noise by a wide margin (random recall ≈ 5/492 ≈ 1%)
    val brute = Similarity.bruteForceTopK(emb, qids, 5)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top5 = Similarity.pqTopK(emb, qids, 5)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & top5).size.toDouble / brute.size
    info(f"PQ recall@5 = $recall%.3f")
    // measured 0.175 with the 16-centroid sample codebook — an order of
    // magnitude above noise; Lloyd-trained codebooks are the quality
    // lever, the floor here only guards against a broken ADC
    assert(recall >= 0.1, f"PQ recall@5 $recall%.3f is indistinguishable from noise")
    // Lloyd refinement: the guaranteed invariant is DISTORTION descent
    // (k-means monotonically reduces within-cluster SSE); recall on a
    // 40-pair sample is too noisy to order two codebooks, so it stays
    // informational with a one-pair tolerance
    val sampleCb = Similarity.pqSampleCodebook(emb, qids, 8, 16, 64)
    val trainedCb = Similarity.pqTrainCodebook(emb, qids, 8, 16, 64, 5)
    val d0 = Similarity.pqDistortion(emb, qids, 8, 64, sampleCb)
    val d5 = Similarity.pqDistortion(emb, qids, 8, 64, trainedCb)
    info(f"PQ distortion: sample $d0%.3f -> trained $d5%.3f")
    assert(d5 < d0, f"Lloyd did not reduce distortion: $d5%.3f >= $d0%.3f")
    val trained = Similarity.pqTopKTrained(emb, qids, 5)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSet
    val recallT = (brute & trained).size.toDouble / brute.size
    info(f"PQ recall@5 trained = $recallT%.3f (sample codebook: $recall%.3f)")
    assert(recallT >= recall - 1.0 / brute.size,
      f"trained codebook lost more than one pair of recall: $recallT%.3f vs $recall%.3f")
  }

  test("pqDistortion over an all-query (empty) corpus is 0.0, not an " +
      "NPE (degenerate-input class, r16 audit)") {
    // every vector held out as a query leaves the distortion corpus
    // empty: sum(d) is NULL and head.getDouble(0) threw — the eager
    // twin of the indexDriftZ null-guard ADVICE fix. Zero vectors have
    // zero total distortion by the sum-of-nothing semantics.
    val emb2 = Seq(
      (0L, Array.fill(4)(0.5)),
      (1L, Array.fill(4)(0.25))).toDF("vec_id", "embedding")
    val cb = Seq(
      (0, 0L, Array(0.0, 0.0)),
      (1, 0L, Array(0.0, 0.0))).toDF("sub", "cid", "cv")
    assert(Similarity.pqDistortion(emb2, Seq(0L, 1L), 2, 4, cb) == 0.0)
  }

  test("distributed BPE training reproduces the committed merge table") {
    // the corpus-scale trainer run on the same fixture corpus with the
    // same tie-break must rediscover BpeTable.merges rank for rank —
    // training, the committed table, and the independent Python goldens
    // all agree or something is wrong with one of them. Full 128-merge
    // run so the safe-batching rule is exercised deep into the merge
    // sequence (where created symbols dominate the counts), not just on
    // the raw-byte opening rounds.
    val n = graft.functions.BpeTable.merges.length
    val (learned, rounds) = graft.functions.Bpe.trainBatched(docs, "text", n)
    val committed = graft.functions.BpeTable.merges.toSeq
    assert(learned == committed,
      s"learned $learned\ncommitted $committed")
    // the point of conditional batching: measurably fewer corpus scans
    // than one per merge, with zero rank drift (asserted above)
    info(f"$n merges in $rounds corpus scans (batch avg ${n.toDouble / rounds}%.2f)")
    assert(rounds < n, s"batching never exceeded one merge per scan ($rounds rounds)")
  }

  test("IVF-ADC at full probe equals plain PQ; restricted probe loses only recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = 0L to 7L
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("vec_id"), col("adc_dot"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("vec_id"),
          r.getAs[Double]("adc_dot"))).toSet
    // probing every list degenerates to scoring every code: exact identity
    val full = key(Similarity.ivfpqTopK(emb, qids, 5, nlist = 16, nprobe = 16))
    val pq = key(Similarity.pqTopK(emb, qids, 5))
    assert(full == pq, s"full-probe IVF-ADC diverged from PQ: ${(full -- pq).size}")
    // restricted probe: scores of returned items are still true ADC dots
    // (subset of the full scoring), only coverage shrinks
    val part = Similarity.ivfpqTopK(emb, qids, 5, nlist = 16, nprobe = 4)
      .select(col("query_id"), col("vec_id"), col("adc_dot"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("adc_dot")).toMap
    val allAdc = Similarity.pqTopK(emb, qids, 1000000)
      .select(col("query_id"), col("vec_id"), col("adc_dot"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("adc_dot")).toMap
    part.foreach { case (k2, v) =>
      assert(allAdc(k2) == v, s"probed ADC diverged for $k2: $v vs ${allAdc(k2)}")
    }
  }

  test("ADC + exact rerank: scores exact, recall never below ADC-only") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = 0L to 7L
    val brute = Similarity.bruteForceTopK(emb, qids, 5)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    val rr = Similarity.ivfpqTopKReranked(emb, qids, 5, rerankK = 20)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // the rerank's whole point: reported scores are EXACT cosines —
    // any returned (query, vec) the brute force also scored must agree
    // bit-for-bit (both sides are the same codegen cosine, rounded 6)
    rr.foreach { case (k, v) =>
      brute.get(k).foreach(b =>
        assert(b == v, s"reranked score not exact for $k: $v vs $b"))
    }
    def recallAt5(hits: Iterable[(Long, Long)]): Double = {
      val byQ = hits.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val trueByQ = brute.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      qids.map(q => (byQ.getOrElse(q, Set.empty) &
        trueByQ.getOrElse(q, Set.empty)).size.toDouble / 5).sum / qids.size
    }
    val adcOnly = Similarity.ivfpqTopK(emb, qids, 5)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id")))
    val rAdc = recallAt5(adcOnly)
    val rRr = recallAt5(rr.keys)
    info(f"recall@5: adc-only $rAdc%.3f, reranked $rRr%.3f")
    // rerank re-orders WITHIN the probed candidate set by exact score:
    // a true neighbor the ADC ranking dropped inside rerankK is
    // recovered, so recall can only improve (and must stay real)
    assert(rRr >= rAdc, s"rerank lost recall: $rRr < $rAdc")
    // absolute floor is modest: sample codebook + nprobe=4 on the tiny
    // fixture corpus is the low-recall regime (measured 0.15 ADC-only);
    // the rerank win and exactness above are the properties under test
    assert(rRr > 0.1, s"reranked recall implausibly low: $rRr")
    // degenerate identity: probe every list and rerank every candidate
    // → the two-phase stack IS brute force, bit-for-bit
    val full = Similarity.ivfpqTopKReranked(emb, qids, 5,
      rerankK = 1000000, nlist = 16, nprobe = 16)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos_sim"))).toSet
    val bruteFull = Similarity.bruteForceTopK(emb, qids, 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos_sim"))).toSet
    assert(full == bruteFull,
      s"full-probe rerank diverged from brute force: ${(bruteFull -- full).size}")
  }

  test("residual IVF-ADC: residual encoding reconstructs tighter; output sane") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = 0L to 7L
    // the point of residual encoding: under the SAME codebook budget,
    // residuals (small ball around each list centroid) quantize tighter
    // than raw vectors — reconstruction SSE must drop
    val plain = Similarity.pqDistortion(emb, qids, 8, 64,
      Similarity.pqSampleCodebook(emb, qids, 8, 16, 64))
    val residual = Similarity.residualPqDistortion(emb, qids,
      nlist = 16, m = 8, ksub = 16, dim = 64)
    info(f"reconstruction SSE: plain $plain%.3f vs residual $residual%.3f")
    assert(residual < plain,
      f"residual encoding did not reduce distortion: $residual%.3f >= $plain%.3f")
    // output shape + determinism of the scorer itself
    val out = Similarity.ivfpqTopKResidual(emb, qids, 5).collect()
    assert(out.length == qids.size * 5)
    val again = Similarity.ivfpqTopKResidual(emb, qids, 5).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    spark.catalog.clearCache() // residual operators persist assignments
  }

  test("residual freeze: retraining on the fixture reproduces ResidualTable") {
    // the BpeTable trainer-parity contract for the ANN tier: the
    // committed quantizer must be exactly what ResidualFreeze produces
    // from its documented provenance (sf0.001, query ids 0-7 excluded),
    // so the artifact cannot drift from the code that claims to have
    // made it
    val (cent, cw) = ResidualFreeze.train(spark, sf0001)
    // tolerance of ±1 fixed-point unit per coordinate: Spark does not
    // fix float-sum association, so retraining under the test session's
    // parallelism can move a Lloyd mean by ulps — a coordinate whose
    // true mean sits within reassociation noise of a 0.5/1e6 rounding
    // boundary may legitimately round one unit differently than the
    // committed run. Keys/shapes must match exactly; anything beyond
    // one unit is real drift, not noise.
    def diffFix(got: Seq[(Any, Seq[Long])], want: Seq[(Any, Seq[Long])],
        what: String): Unit = {
      assert(got.map(_._1) == want.map(_._1), s"$what keys diverge")
      got.zip(want).foreach { case ((k, gv), (_, wv)) =>
        assert(gv.length == wv.length, s"$what $k length diverges")
        gv.zip(wv).foreach { case (g, x) =>
          assert(math.abs(g - x) <= 1L,
            s"$what $k coordinate off by ${math.abs(g - x)} fix units")
        }
      }
    }
    diffFix(cent.map { case (k, v) => (k: Any, v) },
      ResidualTable.centroidsFix.map { case (k, v) => (k: Any, v) },
      "centroids")
    diffFix(cw.map { case (k, v) => (k: Any, v) },
      ResidualTable.codebookFix.map { case (k, v) => (k: Any, v) },
      "codebook")
    spark.catalog.clearCache()
  }

  test("frozen residual tier: deterministic, full shape, frozen-table scoring") {
    val emb = Tables.embeddings(spark, sf0001)
    val qids = 0L to 7L
    val out = Similarity.ivfpqTopKResidualFrozen(emb, qids, 5).collect()
    assert(out.length == qids.size * 5)
    // byte-for-byte stable across runs — the property the DuckDB oracle
    // depends on (no float-mean nondeterminism anywhere in the path)
    val again = Similarity.ivfpqTopKResidualFrozen(emb, qids, 5).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("BPE: goldens from an independent min-rank encoder; expression parity") {
    import graft.functions.Bpe
    // Goldens computed by a SEPARATE Python implementation of the
    // GPT-2-style encoder (repeatedly merge the lowest-rank adjacent
    // pair) over the same committed BpeTable — agreement here validates
    // both the table transcription and the rank-order-pass equivalence
    // the Scala encoder and the SQL oracle rely on.
    val goldens = Seq(
      ("the fast key order sort table scan merge part window small hash ",
        12, Seq(349, 347, 342, 366, 337, 376, 338, 339, 344, 362, 356, 348)),
      ("the table scan", 3, Seq(349, 376, 369)),
      ("spark", 2, Seq(115, 315)),
      // multi-byte chars tokenize per UTF-8 BYTE (é = 2 bytes), never
      // merged by this ASCII-trained table
      ("héllo wörld", 13,
        Seq(104, 195, 169, 108, 108, 111, 32, 119, 195, 182, 114, 108, 100)),
      ("", 0, Seq()),
      ("a", 1, Seq(97)),
      ("zzzzqqqq", 8, Seq(122, 122, 122, 122, 113, 113, 113, 113)))
    goldens.foreach { case (s, n, toks) =>
      val enc = Bpe.encode(s.getBytes("UTF-8")).toSeq
      assert(enc == toks, s"encode('$s') = $enc, want $toks")
      assert(enc.length == n)
    }
    // expression output == the shared encoder, over real corpus text
    val got = docs.select(col("doc_id"), col("text"),
        Bpe.tokenCount(col("text")).as("n"))
      .collect()
    got.foreach { r =>
      val want = Bpe.encode(r.getAs[String]("text").getBytes("UTF-8")).length
      assert(r.getAs[Int]("n") == want,
        s"doc ${r.getLong(0)}: expression ${r.getAs[Int]("n")} != encoder $want")
    }
    // BPE compresses real text well below the byte count (the point of
    // budgeting by tokens, not bytes)
    val ratio = got.map(r =>
      r.getAs[String]("text").length.toDouble / math.max(1, r.getAs[Int]("n"))).min
    assert(ratio > 2.0, s"suspiciously weak compression: min ratio $ratio")
    // callable from SQL after extension registration
    graft.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT bpe_token_count('the table scan') AS n").head().getInt(0)
    assert(viaSql == 3)
  }

  test("codegen expressions are total on null-bearing / ragged arrays (r13 review)") {
    import graft.functions.{CosineSim, SimHash64, MinHashSig, Bpe}
    // CosineSim: null element or length mismatch -> NULL, exactly what
    // the aggregate(zip_with(...)) HOF chain it claims bit-parity with
    // returns there (pre-r13: NPE or a silently truncated dot).
    val df = Seq((1L)).toDF("id")
    val nullElem = df.select(CosineSim.cosine(
      array(lit(1.0), lit(null).cast("double")),
      array(lit(1.0), lit(2.0))).as("c"))
    assert(nullElem.head().isNullAt(0), "null element must yield NULL")
    val ragged = df.select(CosineSim.cosine(
      array(lit(1.0), lit(2.0), lit(3.0)),
      array(lit(1.0), lit(2.0))).as("c"))
    assert(ragged.head().isNullAt(0), "length mismatch must yield NULL")
    // parity with the HOF form where both are defined
    val hof = df.select((aggregate(zip_with(
        array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0)),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x) /
      sqrt(aggregate(transform(array(lit(1.0), lit(2.0)), x => x * x),
          lit(0.0), (acc, x) => acc + x) *
        aggregate(transform(array(lit(3.0), lit(4.0)), x => x * x),
          lit(0.0), (acc, x) => acc + x))).as("c")).head().getDouble(0)
    val got = df.select(CosineSim.cosine(
      array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("c"))
      .head().getDouble(0)
    assert(got == hof, s"bit parity broke: $got vs $hof")
    // SimHash64 / MinHashSig: null slots contribute nothing — equal to
    // the same array with nulls removed (pre-r13: executor NPE).
    val sh = df.select(
      SimHash64.simhash64(array(lit("a"), lit(null).cast("string"),
        lit("b"))).as("h1"),
      SimHash64.simhash64(array(lit("a"), lit("b"))).as("h2")).head()
    assert(sh.getLong(0) == sh.getLong(1))
    val mh = df.select(
      MinHashSig.minhashSig(array(lit("a"), lit(null).cast("string"),
        lit("b")), 16).as("s1"),
      MinHashSig.minhashSig(array(lit("a"), lit("b")), 16).as("s2")).head()
    assert(mh.getSeq[Long](0) == mh.getSeq[Long](1))
    // BpeMergePass: a null token id fails LOUDLY instead of blind-
    // reading garbage 0 that could silently match a merge symbol
    import org.apache.spark.sql.GraftBridge
    val mergeCol = GraftBridge.column(graft.functions.BpeMergePass(
      GraftBridge.expression(array(lit(1), lit(null).cast("int"), lit(2))),
      1, 2, 300))
    val e = intercept[Exception] { df.select(mergeCol).head() }
    assert(e.getMessage.contains("null token id") ||
      Option(e.getCause).exists(_.getMessage.contains("null token id")),
      s"expected the loud null-token error, got: $e")
  }

  test("embeddingDriftZ survives extreme drift: the cross-dim sum of " +
      "round(t^2*1e9) must not wrap Long (r16 ADVICE)") {
    // Fixture engineered so each per-dim |t| ~ 2000 (inside the old
    // comment's claimed ~1e4 envelope!) yet Σ round(t²·1e9) over 4096
    // dims ≈ 1.64e19 > Long.MaxValue (9.22e18). A Long accumulator
    // wraps negative → sqrt(negative) = NaN → `NaN > driftThreshold`
    // is false → maybeRebuild's shipped-ON gate silently never fires in
    // exactly the most-drifted regime. Per dim: ref x ∈ {0, 2e-6}
    // (fp 0, 2) gives num = 2·4 − 4 = 4, σ_ref = 1e-6; cur x = 2.45e-3
    // gives dd ≈ −2.449e-3, t = dd / (1e-6·√(1/2+1)) ≈ −2000.
    val dims = 4096
    val rows = Seq(
      (0L, "x", Array.fill(dims)(0.0)),
      (2L, "x", Array.fill(dims)(2e-6)),
      (1L, "x", Array.fill(dims)(2.45e-3)))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val r = Similarity.embeddingDriftZ(emb, $"vec_id" % 2 === 0).head()
    val z = r.getDouble(r.fieldIndex("drift_z"))
    assert(!z.isNaN && z > 1900 && z < 2100,
      s"drift_z wrapped/corrupted under extreme drift: $z")
    assert(r.getInt(r.fieldIndex("n_dims")) == dims)
  }

  test("dedupImpact is keepCanonical's exact complement, per source (r16)") {
    val clusters = Dedup.dupClusters(
      Dedup.jaccardPairsCapped(docs, 0.5, Dedup.ScoredDfCap))
      .localCheckpoint()
    val impact = Dedup.dedupImpact(docs, clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // complement: per source, docs kept by keepCanonical == n_docs − n_removed
    val kept = Dedup.keepCanonical(docs, clusters)
      .groupBy(col("source")).agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(impact.nonEmpty)
    impact.foreach { case (src, (nDocs, tokTotal, nRem, tokRem)) =>
      assert(kept.getOrElse(src, 0L) == nDocs - nRem,
        s"$src: keepCanonical keeps ${kept.get(src)}, impact says " +
          s"$nDocs - $nRem")
      assert(nRem <= nDocs && tokRem <= tokTotal, s"$src: impossible removal")
    }
    // totals reconcile with the cluster table: removed across sources ==
    // graph members minus one representative per cluster
    val members = clusters.count()
    val nClusters = clusters.select(col("cluster_id")).distinct().count()
    assert(impact.values.map(_._3).sum == members - nClusters,
      "sum of removals != graph members minus representatives")
    // the planted near-dups make the report non-trivial
    assert(impact.values.map(_._3).sum > 0, "no removals — fixture too weak")
  }

  test("REFUTATION pin (r16 verdict #1): length-banding the deletion-" +
      "signature join prunes ZERO candidates — the band is already " +
      "implied by variant equality") {
    // The proposed lever: add a |len(a)−len(b)| ≤ 2 band to the
    // signature join key, claimed to "cut cross-length candidate volume
    // at zero recall cost". Refutation by the same pigeonhole the
    // recall theorem uses: a SHARED variant v means len(a) − da =
    // len(v) = len(b) − db with da, db ∈ [0, 2], hence
    // |len(a) − len(b)| = |da − db| ≤ 2 for EVERY candidate the join
    // can produce (hash collisions aside — discarded by exact verify
    // either way). The band is a tautology over the candidate set, not
    // a filter. Pinned BY VALUE on the fixture that maximally stresses
    // cross-length variant sharing: runs of a repeated char, where a
    // length-k string's 2-deletion neighborhood ALWAYS intersects the
    // length-(k±2) run's neighborhood, plus mixed natural prefixes.
    val runs = (3 to 30).map(k => (k.toLong, "a" * k))
    val mixed = Seq((100L, "the quick brown fox"), (101L, "the quick brown fo"),
      (102L, "the quick brown"), (103L, "quick brown fox jumps"),
      (104L, "xyzzy"), (105L, "xyzz"), (106L, "xy"))
    val strs = (runs ++ mixed).toDF("rid", "s")
    // replicate fuzzyPairs' candidate chain (pre-verify!) verbatim
    val sigs = strs.withColumn("sig",
      explode(graft.functions.DeletionSigs.sigs(col("s"), 2)))
      .select(col("rid"), col("sig"))
    val grp = sigs.groupBy(col("sig"))
      .agg(collect_list(col("rid")).as("rids")).filter(size(col("rids")) >= 2)
    val cands = grp.select(explode(col("rids")).as("rid_a"), col("rids"))
      .select(col("rid_a"), explode(col("rids")).as("rid_b"))
      .filter(col("rid_a") < col("rid_b")).distinct()
    val withLens = cands
      .join(strs.select(col("rid").as("rid_a"), length(col("s")).as("la")), "rid_a")
      .join(strs.select(col("rid").as("rid_b"), length(col("s")).as("lb")), "rid_b")
    val n = withLens.count()
    assert(n > 20, s"fixture too weak to refute anything: $n candidates")
    // the pin: the proposed band keeps every single candidate
    val banded = withLens.filter(abs(col("la") - col("lb")) <= 2).count()
    assert(banded == n,
      s"length band pruned ${n - banded} of $n candidates — refutation wrong!")
    // and the run family DID generate cross-length candidates (ΔL = 1, 2),
    // so the invariant is exercised, not vacuous
    val crossLen = withLens.filter(col("la") =!= col("lb")).count()
    assert(crossLen > 10, s"no cross-length candidates generated: $crossLen")
    info(s"candidates: $n, cross-length: $crossLen, band keeps all $banded")
  }

  test("pqTrainCodebook: an empty cluster keeps its previous centroid " +
      "(driver-side merge, r17)") {
    // v0 == v1: every subvector ties between cid 0 and cid 1 at distance
    // 0 and the (d, cid) tie-break sends ALL of them to cid 0 — cid 1 is
    // assigned nothing and must survive the round with its seed centroid
    // verbatim. This pins the empty-cluster merge branch under the r17
    // collected-rows form (the old left_anti/unionByName subplan became
    // driver-side set algebra; the kept set must be identical).
    val emb2 = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.9, 0.0, 0.0, 0.0)),
      (3L, Array(0.8, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainCodebook(emb2, Seq.empty, 1, 2, 4, iters = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2))
      .toMap
    assert(cb.keySet == Set((0, 0), (0, 1)),
      s"codebook lost a cid: ${cb.keySet}")
    // cid 1 never won an assignment: its seed centroid (= v1) survives
    assert(cb((0, 1)) == Seq(1.0, 0.0, 0.0, 0.0),
      s"empty cluster's centroid moved: ${cb((0, 1))}")
    // cid 0 absorbed all four vectors: its centroid is their mean
    // (tolerance: avg's partition summation order is not fixed)
    assert(math.abs(cb((0, 0)).head - 0.925) < 1e-12 &&
        cb((0, 0)).tail == Seq(0.0, 0.0, 0.0),
      s"trained centroid wrong: ${cb((0, 0))}")
  }
}
