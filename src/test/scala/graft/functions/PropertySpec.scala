package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

/** Property-based tests over the pure function surfaces — the invariants
  * example-based specs can't sweep: idempotence, bounds, algebraic
  * identities, and the SymSpell recall theorem on randomized edits. All
  * pure JVM (no SparkSession), so hundreds of cases run in milliseconds.
  */
class PropertySpec extends AnyFunSuite {

  /** Run a scalacheck property (200 cases) and fail the test with the
    * shrunk counterexample on violation. */
  private def check(p: Prop): Unit = {
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(200)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), p)
    assert(r.passed, r.status.toString)
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
      2 -> Gen.oneOf('-', '_', '.', ',', '/', '(', ')'))).map(_.mkString)

  test("to_key is idempotent and emits only [a-z0-9_]") {
    check(forAll(asciiText) { s =>
      val k = Normalize.toKey(s)
      Normalize.toKey(k) == k && k.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
    })
  }

  test("mergeSpecs is last-wins: the winning value is the final occurrence") {
    val pairGen = Gen.listOf(Gen.zip(
      Gen.oneOf("a", "b", "c", "d"), Gen.alphaNumStr))
    check(forAll(pairGen) { pairs =>
      val m = Normalize.mergeSpecs(pairs)
      // every key's value equals its LAST occurrence after key trimming
      pairs.groupBy(p => Normalize.trimTrailingUnderscores(
          Normalize.toKey(p._1)))
        .forall { case (k, ps) => m.get(k).contains(ps.last._2) }
    })
  }

  test("chunkKeys: lossless, ordered, all chunks full except the last") {
    val gen = Gen.zip(Gen.listOf(Gen.posNum[Int]), Gen.choose(1, 7))
    check(forAll(gen) { case (keys, width) =>
      val chunks = Normalize.chunkKeys(keys, width)
      chunks.flatten == keys &&
        chunks.dropRight(1).forall(_.size == width) &&
        chunks.lastOption.forall(c => c.nonEmpty && c.size <= width)
    })
  }

  test("zorder2 bit interleave is injective and monotone in each key at 0") {
    val coord = Gen.choose(0L, (1L << 21) - 1)
    check(forAll(Gen.zip(coord, coord, coord, coord)) { case (a, b, c, d) =>
      // injectivity on distinct inputs (the file-pruning property:
      // distinct (a,b) cells never collapse to one z-value)
      (a, b) == (c, d) ||
        ZOrder2.compute(a, b, 21) != ZOrder2.compute(c, d, 21)
    })
    check(forAll(coord) { a =>
      // a z-value with one key zeroed only sets that key's bit lanes,
      // so ORing the two single-key codes reconstructs the pair code
      val za = ZOrder2.compute(a, 0L, 21)
      val zb = ZOrder2.compute(0L, a, 21)
      (za | zb) == ZOrder2.compute(a, a, 21) && (za & zb) == 0L
    })
  }

  test("BPE: countTokens == encode().length; merges never grow a sequence") {
    check(forAll(asciiText) { s =>
      import org.apache.spark.unsafe.types.UTF8String
      val bytes = s.getBytes("UTF-8")
      val enc = Bpe.encode(bytes)
      Bpe.countTokens(UTF8String.fromString(s)) == enc.length &&
        enc.length <= bytes.length &&
        (bytes.isEmpty || enc.length >= 1) &&
        // every emitted symbol is a byte or a minted merge symbol
        enc.forall(t => (t >= 0 && t < 256) ||
          (t >= 256 && t < 256 + BpeTable.merges.length))
    })
  }

  test("SymSpell recall theorem: lev(a,b) <= 2 implies shared deletion variant") {
    // pure-Scala deletion neighborhood (≤2 deletes, on code points)
    def dels(s: String): Set[String] = {
      val cps = s.toSeq.map(_.toString) // ASCII gen → 1 char = 1 cp
      def del1(t: Seq[String]): Seq[Seq[String]] =
        t.indices.map(i => t.patch(i, Nil, 1))
      val d1 = del1(cps)
      (Seq(cps) ++ d1 ++ d1.flatMap(del1)).map(_.mkString).toSet
    }
    val editGen: Gen[(String, String)] = for {
      base <- asciiText.suchThat(_.length >= 2)
      nEdits <- Gen.choose(0, 2)
      edited <- (1 to nEdits).foldLeft(Gen.const(base)) { (g, _) =>
        g.flatMap { s =>
          for {
            i <- Gen.choose(0, math.max(0, s.length - 1))
            c <- Gen.alphaNumChar
            op <- Gen.oneOf("sub", "del", "ins")
          } yield op match {
            case "sub" if s.nonEmpty => s.updated(i, c)
            case "del" if s.nonEmpty => s.patch(i, Nil, 1)
            case _ => s.patch(i, c.toString, 0)
          }
        }
      }
    } yield (base, edited)
    check(forAll(editGen) { case (a, b) =>
      // ≤2 random edits keep lev ≤ 2, so the neighborhoods MUST intersect
      // (this is the recall guarantee Fuzzy.fuzzyPairs is built on)
      dels(a).intersect(dels(b)).nonEmpty
    })
  }

  test("valuesWithUnit and zipSpecs: length-mismatch backfills empty strings") {
    val gen = Gen.zip(Gen.listOf(Gen.alphaNumStr), Gen.listOf(Gen.alphaNumStr))
    check(forAll(gen) { case (ks, vs) =>
      val zipped = Normalize.zipSpecs(ks, vs)
      zipped.size == ks.size &&
        zipped.zipWithIndex.forall { case ((k, v), i) =>
          k == ks(i) && v == (if (i < vs.size) vs(i) else "")
        }
    })
  }

  test("bloom: zero false negatives, and SQL-equal values hash identically") {
    import graft.ingest.GenBlooms
    // per-kind blooms (a column has ONE storage kind); the membership
    // property — every inserted value answers "maybe" — is what keeps
    // bloom pruning from ever dropping real rows
    val longs: Gen[List[Any]] = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.long.map(identity[Any]),
      Gen.choose(Int.MinValue, Int.MaxValue).map(identity[Any])))
    check(forAll(longs) { vs =>
      val b = new GenBlooms.Bloom(4096, 7, "l")
      vs.foreach(b.add)
      vs.forall(b.mightContain)
    })
    val doubles: Gen[List[Any]] = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.double.map(identity[Any]),
      Gen.oneOf[Any](0.0d, -0.0d, 0.0f, -0.0f)))
    check(forAll(doubles) { vs =>
      val b = new GenBlooms.Bloom(4096, 7, "d")
      vs.foreach(b.add)
      vs.forall(b.mightContain)
    })
    check(forAll(Gen.nonEmptyListOf(asciiText)) { vs =>
      val b = new GenBlooms.Bloom(4096, 7, "s")
      vs.foreach(b.add)
      vs.forall(b.mightContain)
    })
    // SQL-equality classes hash to the same indices: widths fold and
    // the zeros fold, on BOTH paths (add and probe)
    check(forAll(Gen.choose(Int.MinValue, Int.MaxValue)) { i =>
      val b = new GenBlooms.Bloom(4096, 7, "l")
      b.add(i)
      b.mightContain(i.toLong)
    })
    check(forAll(Gen.double) { d =>
      val b = new GenBlooms.Bloom(4096, 7, "d")
      b.add(d)
      b.mightContain(d) && (d != 0.0 || b.mightContain(-0.0d))
    })
    // cross-kind probes answer "maybe" — never a definite miss
    check(forAll(Gen.long) { l =>
      val b = new GenBlooms.Bloom(4096, 7, "l")
      b.mightContain(l.toDouble) && b.mightContain(l.toString)
    })
  }

  test("bloom: a fold to a smaller power of two is the bloom built at that size") {
    import graft.ingest.GenBlooms
    // (log2 m, log2 m2) with 2^10 <= m2 <= m <= 2^16
    val shapes = for {
      lm <- Gen.choose(10, 16)
      lm2 <- Gen.choose(10, lm)
    } yield (1 << lm, 1 << lm2)
    val values: Gen[List[Any]] = Gen.listOf(Gen.oneOf(
      Gen.long.map(identity[Any]),
      Gen.choose(Int.MinValue, Int.MaxValue).map(identity[Any])))
    check(forAll(shapes, values, Gen.listOfN(20, Gen.long)) { case ((m, m2), vs, probes) =>
      val big = new GenBlooms.Bloom(m, 7, "l")
      val direct = new GenBlooms.Bloom(m2, 7, "l")
      vs.foreach { v => big.add(v); direct.add(v) }
      val folded = big.fold(m2)
      folded.m == m2 && java.util.Arrays.equals(folded.bits, direct.bits) &&
        (vs ++ probes).forall(p => folded.mightContain(p) == direct.mightContain(p))
    })
    // strings too: the fold sees only bit positions, whatever the kind
    check(forAll(Gen.listOf(asciiText)) { vs =>
      val big = new GenBlooms.Bloom(1 << 14, 7, "s")
      val direct = new GenBlooms.Bloom(1 << 10, 7, "s")
      vs.foreach { v => big.add(v); direct.add(v) }
      java.util.Arrays.equals(big.fold(1 << 10).bits, direct.bits)
    })
  }
}
