package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{JaccardKernel, MinHashKernel, SimHashKernel,
  TextCodec, VarintCodec}

/** Property-based pins for the codegen'd kernels: these run inside
  * whole-stage codegen on every row of a 100 TB pass, so their
  * algebraic properties (order-independence, distributivity over
  * union, roundtrips) are what make distributed results equal
  * single-node results.
  */
class KernelPropertySpec extends AnyFunSuite {

  /** scalatestplus isn't on the offline classpath; run scalacheck
    * directly and surface any counterexample through the result. */
  private def forAll[A](g: Gen[A])(f: A => Boolean): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(g)(f))
    assert(res.passed, res.status.toString)
  }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])
      (f: (A, B) => Boolean): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(ga, gb)(f))
    assert(res.passed, res.status.toString)
  }

  private val longArray = Gen.listOf(Gen.long).map(_.distinct)

  test("varint roundtrips hold across the wire-format range") {
    // signed varints are sign-magnitude with a 55-bit magnitude cap
    // (8 wire bytes max, matching the mapsforge format)
    val sRange = Gen.choose(-(1L << 55) + 1, (1L << 55) - 1)
    val uRange = Gen.choose(0L, (1L << 56) - 1)
    forAll2(uRange, sRange) { (u, s) =>
      VarintCodec.decodeU(VarintCodec.encodeU(u)) == u &&
      VarintCodec.decodeS(VarintCodec.encodeS(s)) == s
    }
  }

  test("simhash is independent of hash order (a set function)") {
    forAll(longArray) { hs =>
      SimHashKernel.signature(new GenericArrayData(hs.toArray)) ==
        SimHashKernel.signature(new GenericArrayData(hs.reverse.toArray))
    }
  }

  test("minhash distributes over union: sig(A+B) = min(sig(A), sig(B))") {
    forAll2(longArray, longArray) { (xs, ys) =>
      xs.isEmpty || ys.isEmpty || {
        val k = 16
        def sig(s: Seq[Long]) = MinHashKernel
          .signature(new GenericArrayData(s.toArray), k)
          .toLongArray()
        val u = sig((xs ++ ys).distinct)
        val m = sig(xs).zip(sig(ys)).map { case (a, b) => math.min(a, b) }
        u.sameElements(m)
      }
    }
  }

  test("sorted-jaccard equals the set-definition jaccard") {
    forAll2(longArray, longArray) { (xs, ys) =>
      val a = xs.sorted; val b = ys.sorted
      val got = JaccardKernel.jaccard(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      val inter = (a.toSet & b.toSet).size
      val union = (a.toSet | b.toSet).size
      val expected = if (union == 0) 1.0 else inter.toDouble / union
      got == expected
    }
  }

  test("byte resample: fixed output size, identity at equal size") {
    val bytes = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    forAll2(bytes, Gen.choose(1, 64)) { (payload, k) =>
      val out = graft.functions.MultimediaKernel.resample(payload, k)
      val sized = payload.isEmpty || out.length == k
      val identity = payload.isEmpty ||
        graft.functions.MultimediaKernel
          .resample(payload, payload.length).sameElements(payload)
      sized && identity
    }
  }

  test("wordStats matches the split-array HOF formulation") {
    import org.apache.spark.unsafe.types.UTF8String
    // words including stopwords, multi-space runs (empty words), and
    // non-ASCII chars (code-point vs byte length)
    val word = Gen.oneOf(
      Gen.oneOf("the", "a", "of", "and", "to", "in", "is", "on", "for",
        "with"),
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('é'),
        Gen.const('ß'))).map(_.mkString))
    val text = Gen.listOf(Gen.zip(word,
      Gen.choose(1, 3).map(" " * _))).map(
      _.map { case (w, sp) => w + sp }.mkString.stripSuffix(" "))
    forAll(text.map(_.trim)) { t =>
      val row = TextCodec.wordStats(UTF8String.fromString(t))
      val ws = t.split(" ", -1).toSeq
      val stop = Set("the", "a", "of", "and", "to", "in", "is", "on",
        "for", "with")
      row.getLong(0) == ws.length &&
        row.getLong(1) == ws.count(stop) &&
        row.getLong(2) ==
          ws.map(w => w.codePointCount(0, w.length).toLong).sum &&
        row.getLong(3) == ws.map(w =>
          (w.codePointCount(0, w.length) + 3L) / 4L).sum
    }
  }

  test("zero-copy shingle hashes equal hashes of the built strings") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.ShingleKernel
    // the kernel hashes [wordStart(i), wordEnd(i+2)] byte ranges
    // in-place; d02/d04's oracles (and d03's portable form) build the
    // 3-gram STRINGS instead — this pins that both views of "shingle"
    // are the same function, multiset and dedup'd alike
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val text = Gen.listOf(word).map(_.mkString(" ").trim)
    forAll(text) { t =>
      def model(s: String): Long = {
        val u = UTF8String.fromString(s)
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.numBytes, ShingleKernel.Seed)
      }
      val ws = t.split(" ", -1).toSeq
      val expectedAll: Seq[Long] =
        if (t.isEmpty) Seq.empty
        else if (ws.length < 3) Seq(model(t))
        else ws.sliding(3).map(w => model(w.mkString(" "))).toSeq
      val gotAll = ShingleKernel
        .shingleHashesAll(UTF8String.fromString(t), 3)
        .toLongArray().toSeq
      val gotSet = ShingleKernel
        .shingleHashes(UTF8String.fromString(t), 3)
        .toLongArray().toSeq
      gotAll == expectedAll &&
        gotSet == expectedAll.distinct.sorted
    }
  }

  test("bigrams kernel equals concat_ws over adjacent split words") {
    import org.apache.spark.unsafe.types.UTF8String
    val word = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    val text = Gen.listOf(word).map(_.mkString(" ").trim)
    forAll(text) { t =>
      val got = TextCodec.bigrams(UTF8String.fromString(t))
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val ws = t.split(" ", -1).toSeq
      val expected =
        if (ws.length < 2) Seq.empty
        else ws.sliding(2).map(_.mkString(" ")).toSeq
      got == expected
    }
  }

  test("wordNgrams kernel equals sliding-window join; bigrams = n2") {
    import org.apache.spark.unsafe.types.UTF8String
    val word = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    val text = Gen.listOf(word).map(_.mkString(" ").trim)
    forAll2(text, Gen.choose(1, 6)) { (t, n) =>
      def arr(a: org.apache.spark.sql.catalyst.util.ArrayData) =
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
      val got = arr(TextCodec.wordNgrams(UTF8String.fromString(t), n))
      val ws = t.split(" ", -1).toSeq
      val expected =
        if (ws.length < n) Seq.empty
        else ws.sliding(n).map(_.mkString(" ")).toSeq
      got == expected &&
        arr(TextCodec.bigrams(UTF8String.fromString(t))) ==
          arr(TextCodec.wordNgrams(UTF8String.fromString(t), 2))
    }
  }

  test("Misra-Gries sketch: exact under capacity, bounded over it") {
    import graft.functions.HeavyHitters
    val spark = SparkTestSession.spark
    import spark.implicits._
    // adversarial corpus: 200 distinct words >> capacity 16; ten
    // planted heavy hitters at 300 occurrences over n = 4140 total
    // (tail: 190 words x 6): n/(c+1) = 243 < 300, so the MG guarantee
    // REQUIRES every planted word to survive the truncations.
    val heavy = (0 until 10).map(i => s"hh$i")
    val tail = (0 until 190).map(i => s"t$i")
    val rows = heavy.flatMap(w => Seq.fill(300)(w)) ++
      tail.flatMap(w => Seq.fill(6)(w))
    val n = rows.size.toLong
    val cap = 16
    val got = rows.toDF("w").repartition(8)
      .agg(HeavyHitters.heavyHitters(cap)($"w").as("hits"))
      .select(org.apache.spark.sql.functions.explode($"hits").as("h"))
      .select($"h.word", $"h.cnt").as[(String, Long)].collect().toMap
    val bound = n / (cap + 1) // 4140/17 = 243 < the planted 300
    assert(300L > bound, s"test corpus no longer exercises survival")
    // every word with true freq > n/(c+1) must be reported
    heavy.foreach { w =>
      assert(got.contains(w), s"heavy hitter $w lost (bound $bound)")
    }
    // reported counts never OVERcount and undercount by <= n/(c+1)
    got.foreach { case (w, c) =>
      val truth = if (w.startsWith("hh")) 300L else 6L
      assert(c <= truth, s"$w overcounted: $c > $truth")
      assert(truth - c <= bound, s"$w undercount ${truth - c} > $bound")
    }
    // under-capacity: the sketch is exact regardless of partitioning
    val small = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(3)("c")
    (1 to 4).foreach { parts =>
      val m = small.toDF("w").repartition(parts)
        .agg(HeavyHitters.heavyHitters(cap)($"w").as("hits"))
        .select(org.apache.spark.sql.functions.explode($"hits").as("h"))
        .select($"h.word", $"h.cnt").as[(String, Long)].collect().toMap
      assert(m == Map("a" -> 40L, "b" -> 25L, "c" -> 3L), s"parts=$parts: $m")
    }
  }

  test("rolling fingerprint composes: fp(a++b) from fp(a), fp(b)") {
    val ascii = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    forAll2(ascii, ascii) { (a, b) =>
      import org.apache.spark.unsafe.types.UTF8String
      def fp(s: String) = TextCodec.fingerprint(UTF8String.fromString(s))
      val p = TextCodec.Mod
      // fp(a++b) = (fp(a) * 131^|b| + fp(b)) mod p
      val pow = b.getBytes("UTF-8").indices.foldLeft(1L)((acc, _) =>
        acc * TextCodec.Mult % p)
      fp(a + b) == (fp(a) * pow % p + fp(b)) % p
    }
  }

  test("normStats equals the regex normalize formulation") {
    import org.apache.spark.unsafe.types.UTF8String
    // mixed case, digits, punctuation runs, multi-space, non-ASCII
    // (é/ß/€ lowercase to non-ASCII, so both paths map them to
    // separators), leading/trailing junk
    val ch = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ' ', ',', '.',
      '!', '-', '_', '\t', 'é', 'ß', '€', 'Z', 'A', '0', '9'))
    forAll(Gen.listOf(ch).map(_.mkString)) { t =>
      val norm = t.toLowerCase
        .replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim
      val row = TextCodec.normStats(UTF8String.fromString(t))
      row.getLong(0) == norm.length.toLong &&
        row.getLong(1) ==
          TextCodec.fingerprint(UTF8String.fromString(norm))
    }
  }

  test("quantizedSubL2 equals the scalar formulation; d(a,a)=0") {
    import graft.functions.VectorKernel
    val subDim = 16
    val vecGen = Gen.listOfN(4 * subDim,
      Gen.choose(-1.0f, 1.0f)).map(_.toArray)
    forAll(Gen.zip(vecGen, vecGen, Gen.choose(0, 3))) {
      case (a, b, s) =>
        def qz(x: Float): Long = math.floor(x.toDouble * 1e6).toLong
        val expect = (s * subDim until (s + 1) * subDim).map { j =>
          val d = qz(a(j)) - qz(b(j)); d * d
        }.sum
        val ga = new GenericArrayData(a)
        val gb = new GenericArrayData(b)
        VectorKernel.quantizedSubL2(ga, gb, s, subDim) == expect &&
          VectorKernel.quantizedSubL2(ga, ga, s, subDim) == 0L
    }
  }

  /** Text as Spark can hold it, NOT only valid UTF-8: well-formed 1-4
    * byte chars, lead bytes Spark steps over as 1-byte chars
    * (0x80–0xC1, 0xF5–0xFF), multi-byte sequences cut short (mid-text
    * and at the end), well-formed-looking but invalid sequences, NULs
    * and runs of spaces. A binary→string cast
    * carries the bytes into a row unvalidated, exactly as a parquet
    * or crawl reader would. */
  private val rawText: Gen[List[Byte]] = {
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val piece = Gen.frequency(
      8 -> Gen.alphaLowerChar.map(c => Array(c.toByte)),
      3 -> Gen.const(Array(' '.toByte)),
      2 -> Gen.oneOf("é", "ß", "—", "日", "本", "😀").map(utf8),
      2 -> Gen.choose(0x80, 0xC1).map(b => Array(b.toByte)),
      2 -> Gen.choose(0xF5, 0xFF).map(b => Array(b.toByte)),
      2 -> Gen.oneOf("é", "—", "日", "😀").flatMap(c =>
        Gen.choose(1, utf8(c).length - 1).map(utf8(c).take)),
      // an encoded surrogate, an overlong NUL, a code point > U+10FFFF
      1 -> Gen.oneOf(Seq(0xED, 0xA0, 0x80), Seq(0xE0, 0x80, 0x80),
        Seq(0xF4, 0x90, 0x80, 0x80)).map(_.map(_.toByte).toArray),
      1 -> Gen.const(Array(0.toByte)))
    Gen.choose(0, 40).flatMap(Gen.listOfN(_, piece))
      .map(_.flatMap(_.toList))
  }

  /** A kernel/reference property over batches of [[rawText]] docs:
    * each case is one Spark job over 48 (doc_id, text) rows, so the
    * case count is kept small and shrinking is off. */
  private def forAllDocs(same: org.apache.spark.sql.DataFrame => Boolean)
      : Unit = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(Gen.listOfN(48, rawText)) { texts =>
        same(texts.zipWithIndex.map { case (b, i) => (i.toLong, b.toArray) }
          .toDF("doc_id", "raw")
          .select($"doc_id", $"raw".cast("string").as("text")))
      })
    assert(res.passed, res.status.toString)
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("entropy kernel equals the explode chain on malformed UTF-8") {
    forAllDocs(docs => sameRows(EntropyKernelSpec.reference(docs),
      EntropyKernelSpec.kernel(docs)))
  }

  test("winnow kernel equals the md5 chain on malformed UTF-8") {
    forAllDocs { docs =>
      val base = WinnowKernelSpec.baseOf(docs)
      sameRows(WinnowKernelSpec.referenceFp(base),
        WinnowKernelSpec.kernelFp(base))
    }
  }

  test("crawl plant kernel equals the wrap expressions on malformed UTF-8") {
    forAllDocs(docs => CrawlPlantKernelSpec.mismatches(docs) == 0)
  }
}
