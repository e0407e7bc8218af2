package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.functions.Sketches

/** ScalaCheck cross-check of the cross-engine sketch arithmetic: the
  * native Long-wraparound implementations must equal an independent
  * BigInt mod-2^64 reference — the SAME arithmetic the DuckDB oracles
  * restate in HUGEINT, so these properties guard both sides of that
  * cross-engine contract — on random Unicode inputs, including the
  * non-ASCII and astral-plane code points the fixture corpus never
  * exercises (the corpus-level equivalence specs in LlmSpec are
  * ASCII-bound through ascii()). Pure driver-side: no Spark session,
  * hundreds of cases per run. */
object SketchProps extends Properties("Sketches") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(SparkSpec.fuzzN(200))

  private val M = BigInt(1) << 64
  private val Golden = BigInt("9E3779B97F4A7C15", 16)

  private def refSplitmix(x: BigInt): BigInt = {
    def mul(a: BigInt, b: BigInt) = (a * b).mod(M)
    var z = (x + Golden).mod(M)
    z = mul(z ^ (z >> 30), BigInt("BF58476D1CE4E5B9", 16))
    z = mul(z ^ (z >> 27), BigInt("94D049BB133111EB", 16))
    z ^ (z >> 31)
  }
  private def signed(v: BigInt): Long =
    (if (v >= (BigInt(1) << 63)) v - M else v).toLong
  private def unsigned(v: Long): BigInt =
    if (v < 0) BigInt(v) + M else BigInt(v)

  private def refPoly(s: String): BigInt = {
    var h = BigInt(0)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp).mod(M)
      i += Character.charCount(cp)
    }
    h
  }
  private def refTokenHash(s: String): Long = signed(refSplitmix(refPoly(s)))

  private def refSimhash(text: String): Long = {
    val sums = new Array[Long](64)
    for (t <- text.toLowerCase.split("\\s+", -1)) {
      val h = refTokenHash(t)
      for (k <- 0 until 64)
        sums(k) += (if (((h >>> k) & 1L) == 1L) 1L else -1L)
    }
    (0 until 64).foldLeft(0L)((fp, k) =>
      if (sums(k) >= 0) fp | (1L << k) else fp)
  }

  private def refMinhash(text: String): (Long, Seq[Long], Seq[Long]) = {
    val toks = text.toLowerCase.split("\\s+", -1)
    val shingles =
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    val sig = Array.fill(16)(Long.MaxValue)
    for (s <- shingles; hu = refSplitmix(refPoly(s)); i <- 0 until 16) {
      val v = signed(refSplitmix((hu + i * Golden).mod(M)))
      if (v < sig(i)) sig(i) = v
    }
    val bands = (0 until 4).map { j =>
      val acc = (0 until 4).foldLeft((BigInt(j) * Golden).mod(M)) { (a, q) =>
        (a + refSplitmix((unsigned(sig(j * 4 + q)) + (q + 1) * Golden).mod(M)))
          .mod(M)
      }
      signed(refSplitmix(acc))
    }
    (shingles.size.toLong, sig.toSeq, bands)
  }

  // tokens over a deliberately Unicode-heavy alphabet (accents, Cyrillic,
  // CJK, an astral-plane glyph); varied whitespace exercises the
  // keep-empty-tokens split semantics, leading/trailing included
  private val genToken: Gen[String] = Gen.frequency(
    5 -> Gen.stringOfN(4, Gen.alphaNumChar),
    2 -> Gen.oneOf("héllo", "straße", "Жук", "中文分词", "a𝄞b", ""),
    1 -> Gen.stringOfN(2, Gen.oneOf('é', 'Ж', '中', 'x')))
  private val genText: Gen[String] = for {
    n <- Gen.choose(0, 8)
    toks <- Gen.listOfN(n, genToken)
    sep <- Gen.oneOf(" ", "\t", "  ", "\n")
    lead <- Gen.oneOf("", " ")
    trail <- Gen.oneOf("", "\t")
  } yield lead + toks.mkString(sep) + trail

  property("tokenHash equals the BigInt mod-2^64 reference") =
    Prop.forAll(genText) { s =>
      Sketches.tokenHash(s) == refTokenHash(s)
    }

  property("simhash equals the BigInt reference on random Unicode text") =
    Prop.forAll(genText) { s =>
      Sketches.simhash(UTF8String.fromString(s)) == refSimhash(s)
    }

  property("minhash (n_shingles, sig, bands) equals the BigInt reference") =
    Prop.forAll(genText) { s =>
      val row = Sketches.minhash(UTF8String.fromString(s), 16, 4)
      val got = (row.getLong(0),
        row.getArray(1).toLongArray().toSeq,
        row.getArray(2).toLongArray().toSeq)
      got == refMinhash(s)
    }

  // ------------------------- BloomFilter V2 bit-placement restatement
  // The decontaminate_bloom oracle re-derives Spark's BloomFilter
  // membership in DuckDB SQL. This reference mirrors that SQL's
  // unsigned/BigInt arithmetic (two chained Murmur3_x86_32 rounds over
  // the key's 32-bit halves, then k probes of h1·(2³¹−1) + i·h2 with a
  // complement-flip and mod bitSize); the property checks it against
  // the REAL org.apache.spark.util.sketch.BloomFilter — members AND
  // non-members, so false-positive agreement is pinned too.

  private val M32 = BigInt(1) << 32
  private def mmMul32(a: BigInt, b: BigInt): BigInt = (a * b).mod(M32)
  private def mmRotl32(a: BigInt, r: Int): BigInt =
    (a.mod(BigInt(1) << (32 - r)) << r) + (a >> (32 - r))
  private def refMurmurLong(input: BigInt, seed: BigInt): BigInt = {
    def mixK1(k: BigInt) = mmMul32(
      mmRotl32(mmMul32(k, BigInt("cc9e2d51", 16)), 15), BigInt("1b873593", 16))
    def mixH1(h: BigInt, k: BigInt) =
      (mmMul32(mmRotl32(h ^ k, 13), 5) + BigInt("e6546b64", 16)).mod(M32)
    var h1 = mixH1(seed, mixK1(input.mod(M32)))
    h1 = mixH1(h1, mixK1(input >> 32))
    h1 ^= 8
    h1 ^= h1 >> 16; h1 = mmMul32(h1, BigInt("85ebca6b", 16))
    h1 ^= h1 >> 13; h1 = mmMul32(h1, BigInt("c2b2ae35", 16))
    h1 ^ (h1 >> 16)
  }
  private def signed32(v: BigInt): Long =
    (if (v >= (BigInt(1) << 31)) v - M32 else v).toLong
  /** The k probed bit positions for a 64-bit key (seed 0). */
  private def refBloomPositions(item: Long, k: Int, bitSize: Long): Seq[Long] = {
    val u = unsigned(item)
    val h1 = signed32(refMurmurLong(u, 0))
    val h2 = signed32(refMurmurLong(u, BigInt(h1) & (M32 - 1)))
    var acc = h1 * Int.MaxValue.toLong
    (1 to k).map { _ =>
      acc += h2
      val bit = if (acc < 0) ~acc else acc
      bit % bitSize
    }
  }

  property("BloomFilter V2 membership equals the restated bit positions, fp agreement included") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.long),
      Gen.listOfN(64, Gen.long),
      // (32, 256) sits near 50% bit density for typical item-list sizes
      // — the regime where false positives are COMMON, so fp agreement
      // is exercised for real, not vacuously; (65536, 524288) is the
      // production geometry the decontaminate_bloom oracle restates
      Gen.oneOf((32L, 256L), (256L, 2048L), (100L, 800L), (65536L, 524288L))) {
      (items, probes, geom) =>
        val (n, numBits) = geom
        val k = math.max(1, math.round(numBits.toDouble / n * math.log(2)).toInt)
        val bf = org.apache.spark.util.sketch.BloomFilter.create(n, numBits)
        items.foreach(bf.putLong)
        // BitArray rounds bitSize up to a multiple of 64
        val bitSize = ((numBits + 63) / 64) * 64
        val setBits = items.flatMap(refBloomPositions(_, k, bitSize)).toSet
        (items ++ probes).forall { p =>
          bf.mightContainLong(p) ==
            refBloomPositions(p, k, bitSize).forall(setBits)
        }
    }

  property("decontaminate_bloom geometry: the PRODUCTION aggregate buffer matches the oracle's (524288, k=6) restatement") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.long), Gen.listOfN(64, Gen.long)) {
      (items, probes) =>
        // Build the buffer through the exact production path
        // (Llm.decontaminateBloomFrom's 3-arg constructor), not through
        // BloomFilter.create directly — this is what guards the oracle's
        // hardcoded geometry against a constructor/conf change.
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        val n = 65536L
        val bf = new BloomFilterAggregate(
          Literal(0L), Literal(n), Literal(8L * n)).createAggregationBuffer()
        items.foreach(bf.putLong)
        val oracleBits = 524288L // what the DuckDB oracle hardcodes
        val oracleK = 6 // range(1, 7) probes in the oracle
        val setBits = items.flatMap(refBloomPositions(_, oracleK, oracleBits)).toSet
        (bf.bitSize() == oracleBits) :| s"bitSize ${bf.bitSize()} != $oracleBits" &&
        // k is pinned behaviorally: membership must equal the k=6 probe
        // restatement on every item AND every random probe (a different
        // k would change which false positives fire)
        Prop.all((items ++ probes).map { p =>
          (bf.mightContainLong(p) ==
            refBloomPositions(p, oracleK, oracleBits).forall(setBits)) :| s"probe $p"
        }: _*) &&
        // and the DEFAULT 2-arg geometry is genuinely different — the
        // explicit pin is load-bearing, not decorative
        (org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(
          n, 4000000L, 67108864L) != oracleBits) :| "default geometry unexpectedly equals the pin"
    }
}
