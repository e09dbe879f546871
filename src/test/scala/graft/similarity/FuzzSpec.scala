package graft.similarity

import graft.SparkSpec
import org.scalacheck.{Gen, Prop}
import scala.io.Source

/** Scorer parity tests.
  *
  * Golden vectors in `fuzz_golden.csv` were produced by an independent
  * O(nm) LCS dynamic program (indel/token ratios) and DuckDB's
  * `jaro_winkler_similarity` (the oracle the driver uses) — see
  * `tools/gen_fuzz_golden.py`. Hand-checked anchors match published
  * rapidfuzz values (`fuzz.ratio("this is a test","this is a test!")` =
  * 96.5517…, `fuzz.ratio("hello","world")` = 20, token_set fast-path =
  * 100, mariners/angels token_set = 90.909…).
  */
class FuzzSpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def goldens: Seq[Array[String]] = {
    val src = Source.fromResource("fuzz_golden.tsv")(scala.io.Codec.UTF8)
    try {
      val lines = src.getLines().toList.drop(1)
      // simple CSV: our generator only quotes nothing; fields never
      // contain commas except none — split on first 2 commas from the
      // right for the 4 numeric fields
      lines.map { l =>
        val parts = l.split("\t", -1)
        val nums = parts.takeRight(4)
        val ab = parts.dropRight(4)
        // a and b themselves contain no commas (generator vocab has none)
        require(ab.length == 2, s"unparseable golden line: $l")
        Array(ab(0), ab(1), nums(0), nums(1), nums(2), nums(3))
      }
    } finally src.close()
  }

  test("golden vectors: ratio / token_set / token_sort / jaro_winkler") {
    val gs = goldens
    assert(gs.nonEmpty)
    gs.foreach { g =>
      val (a, b) = (g(0), g(1))
      assert(math.abs(Fuzz.ratio(a, b) - g(2).toDouble) < 1e-9, s"ratio($a,$b)")
      assert(math.abs(Fuzz.tokenSetRatio(a, b) - g(3).toDouble) < 1e-9, s"token_set($a,$b)")
      assert(math.abs(Fuzz.tokenSortRatio(a, b) - g(4).toDouble) < 1e-9, s"token_sort($a,$b)")
      assert(math.abs(Fuzz.jaroWinkler(a, b) - g(5).toDouble) < 1e-9, s"jw($a,$b)")
    }
  }

  private def lcsNaive(a: String, b: String): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.length)(b.length)
  }

  test("property: bit-parallel LCS equals naive DP (incl. >64-char strings)") {
    val chars = Gen.oneOf("abcçğıiİIoöuü 0123456789./".toSeq)
    val str = Gen.chooseNum(0, 200).flatMap(n => Gen.stringOfN(n, chars))
    check(Prop.forAll(str, str) { (a: String, b: String) =>
      Fuzz.lcsLength(a, b) == lcsNaive(a, b)
    })
  }

  test("property: score symmetry and bounds") {
    val str = Gen.chooseNum(0, 60).flatMap(n => Gen.stringOfN(n, Gen.oneOf("ab c".toSeq)))
    check(Prop.forAll(str, str) { (a: String, b: String) =>
      val r = Fuzz.ratio(a, b)
      val ts = Fuzz.tokenSetRatio(a, b)
      r >= 0 && r <= 100 && ts >= 0 && ts <= 100 &&
        math.abs(r - Fuzz.ratio(b, a)) < 1e-12 &&
        math.abs(ts - Fuzz.tokenSetRatio(b, a)) < 1e-12 &&
        Fuzz.ratio(a, a) == 100.0
    })
  }

  test("partial_ratio: containment scores 100; window semantics") {
    assert(Fuzz.partialRatio("abc", "xxabcxx") == 100.0)
    assert(Fuzz.partialRatio("xxabcxx", "abc") == 100.0)
    assert(Fuzz.partialRatio("", "") == 100.0)
    assert(Fuzz.partialRatio("", "abc") == 0.0)
    // shorter-vs-window max: "ab" vs "ba" windows of len 2: {"ba","a"} →
    // ratio("ab","ba")=50, ratio("ab","a")=66.67
    assert(math.abs(Fuzz.partialRatio("ab", "ba") - 100.0 * 2 / 3) < 1e-9)
  }

  test("catalyst expressions agree with Fuzz and survive codegen") {
    import spark.implicits._
    import graft.similarity.FuzzFunctions._
    val df = Seq(
      ("örnek mahalle atatürk cadde no 12", "atatürk cad no 12 örnek mah"),
      ("this is a test", "this is a test!"),
      ("", "abc"),
      (null.asInstanceOf[String], "x")
    ).toDF("a", "b")
    val out = df.select(
      token_set_ratio($"a", $"b"), indel_ratio($"a", $"b"),
      token_sort_ratio($"a", $"b"), partial_ratio($"a", $"b"),
      jaro_winkler($"a", $"b")).collect()
    assert(math.abs(out(0).getDouble(0) - 90.0) < 1e-9)
    assert(math.abs(out(1).getDouble(1) - Fuzz.ratio("this is a test", "this is a test!")) < 1e-9)
    assert(out(2).getDouble(0) == 0.0)
    assert(out(3).isNullAt(0)) // null propagates
  }

  test("property: pre-tokenized token_set_ratio equals scalar (ASCII + Turkish)") {
    // Turkish chars exercise the non-ASCII scalar fallback inside
    // tokenSetRatioSorted; spaces make multi-token strings.
    val chars = Gen.oneOf("abcçğıö 019./".toSeq)
    val str = Gen.chooseNum(0, 80).flatMap(n => Gen.stringOfN(n, chars))
    check(Prop.forAll(str, str) { (a: String, b: String) =>
      def sortedSet(s: String) = {
        val t = s.split("\\s+").filter(_.nonEmpty).distinct.sorted
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          t.map(org.apache.spark.unsafe.types.UTF8String.fromString(_)).toArray[Any])
      }
      val fast = Fuzz.tokenSetRatioSorted(sortedSet(a), sortedSet(b))
      math.abs(fast - Fuzz.tokenSetRatio(a, b)) < 1e-12
    })
  }

  test("pretok expression in-plan agrees with scalar scorer") {
    import spark.implicits._
    import graft.similarity.FuzzFunctions._
    val df = Seq(
      ("fuzzy was a bear", "fuzzy fuzzy was a bear"),
      ("örnek mahalle atatürk cadde no 12", "atatürk cad no 12 örnek mah"),
      ("a b c", ""),
      ("", "")
    ).toDF("a", "b")
    val out = df.select(
      token_set_ratio_pretok(sortedTokenSet($"a"), sortedTokenSet($"b")).as("fast"),
      token_set_ratio($"a", $"b").as("slow")).collect()
    out.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, r.toString))
  }

  test("SQL registration works") {
    FuzzFunctions.register(spark)
    val r = spark.sql(
      "select token_set_ratio('fuzzy was a bear','fuzzy fuzzy was a bear') s").collect()
    assert(r(0).getDouble(0) == 100.0)
  }

  test("damerau_levenshtein: true-DL vectors (DuckDB-cross-checked) + codegen") {
    // Distinguishers and byte-level values verified against DuckDB
    // damerau_levenshtein (byte-oriented: 'ş' is 2 UTF-8 bytes):
    //   CA→ABC = 2 (true DL; OSA would say 3), ab→ba = 1 (transposition),
    //   kitten→sitting = 3, şehir→sehir = 2, çş→şç = 4, İstanbul→istanbul = 2.
    val vectors = Seq(
      ("CA", "ABC", 2), ("ab", "ba", 1), ("abc", "ca", 2),
      ("kitten", "sitting", 3), ("şehir", "sehir", 2), ("çş", "şç", 4),
      ("İstanbul", "istanbul", 2), ("", "abc", 3), ("abc", "", 3), ("", "", 0),
      ("istanbul kadikoy moda cad no 12", "istanbul kadikoy moda cad no 21", 1))
    vectors.foreach { case (a, b, d) =>
      assert(Fuzz.damerauLevenshtein(a, b) == d, s"dl($a,$b)")
      assert(Fuzz.damerauLevenshtein(b, a) == d, s"dl($b,$a) symmetry")
    }
    import spark.implicits._
    val out = vectors.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(FuzzFunctions.damerau_levenshtein($"a", $"b").as("d")).collect()
    vectors.zip(out).foreach { case ((a, b, d), r) =>
      assert(r.getInt(0) == d, s"in-plan dl($a,$b)")
    }
    FuzzFunctions.register(spark)
    assert(spark.sql("select damerau_levenshtein('CA','ABC') d").collect()(0).getInt(0) == 2)
  }

  test("monge_elkan: DuckDB-cross-checked vectors + codegen + properties") {
    // Values computed by the oracle's own DuckDB comprehension
    // (list_avg/list_max over jaro_winkler_similarity, byte-oriented).
    val vectors = Seq(
      ("ankara cad 15 b blok", "ankara caddesi no 15", 0.7762500000000001),
      ("istanbul kadikoy", "istanbul kadikoy", 1.0),
      ("moda cad istanbul", "istanbul moda cad", 1.0), // reorder-invariant
      ("abc", "abc xyz", 0.75),
      ("kadikoy moda caddesi no 12 d 3", "kadiköy moda cd no:12 daire 3",
        0.821343537414966),
      ("", "abc", 0.0), ("", "", 0.0))
    vectors.foreach { case (a, b, e) =>
      assert(math.abs(Fuzz.mongeElkan(a, b) - e) < 1e-12, s"me($a,$b)")
      assert(Fuzz.mongeElkan(a, b) == Fuzz.mongeElkan(b, a), s"me($b,$a) symmetry")
    }
    import spark.implicits._
    val out = vectors.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(FuzzFunctions.monge_elkan($"a", $"b").as("s")).collect()
    vectors.zip(out).foreach { case ((a, b, e), r) =>
      assert(math.abs(r.getDouble(0) - e) < 1e-12, s"in-plan me($a,$b)")
    }
    FuzzFunctions.register(spark)
    assert(spark.sql("select monge_elkan('a b','a b') s").collect()(0).getDouble(0) == 1.0)
    // Bounds + symmetry everywhere; on single-token inputs ME
    // degenerates to plain Jaro-Winkler (alphaNumStr has no whitespace).
    check(Prop.forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a: String, b: String) =>
      val s = Fuzz.mongeElkan(a, b)
      s >= 0.0 && s <= 1.0 && s == Fuzz.mongeElkan(b, a) &&
        (if (a.isEmpty || b.isEmpty) s == 0.0 else s == Fuzz.jaroWinkler(a, b))
    })
  }

  test("property: DL <= Levenshtein-with-transpositions bounds") {
    val chars = Gen.oneOf("abc 01".toSeq) // small alphabet → many transpositions
    val str = Gen.chooseNum(0, 24).flatMap(n => Gen.stringOfN(n, chars))
    check(Prop.forAll(str, str) { (a: String, b: String) =>
      val dl = Fuzz.damerauLevenshtein(a, b)
      val lev = // classic two-row Levenshtein as the reference bound
        if (a.isEmpty) b.length
        else if (b.isEmpty) a.length
        else {
          var prev = Array.tabulate(b.length + 1)(identity)
          var cur = new Array[Int](b.length + 1)
          for (i <- 1 to a.length) {
            cur(0) = i
            for (j <- 1 to b.length) {
              val c = if (a(i - 1) == b(j - 1)) 0 else 1
              cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + c)
            }
            val t = prev; prev = cur; cur = t
          }
          prev(b.length)
        }
      dl >= 0 && dl <= lev && dl >= math.abs(a.length - b.length) &&
        dl == Fuzz.damerauLevenshtein(b, a) &&
        (dl == 0) == (a == b)
    })
  }

  private def levNaive(a: String, b: String): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) dp(i)(0) = i
    for (j <- 0 to b.length) dp(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(
        math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  test("property: banded levenshteinWithin is exact within bound, clamped above") {
    val chars = Gen.oneOf("abcd 0123şİ".toSeq) // incl. non-ASCII fallback path
    val str = Gen.chooseNum(0, 90).flatMap(n => Gen.stringOfN(n, chars))
    check(Prop.forAll(str, str, Gen.chooseNum(0, 100)) { (a, b, bound) =>
      val ref = levNaive(a, b)
      val got = Fuzz.levenshteinWithin(utf8(a), utf8(b), bound)
      if (ref <= bound) got == ref else got == bound + 1
    })
  }

  test("levenshteinWithin clamps to exactly bound + 1 on both sides of 64 chars") {
    // within-bound length gap, so neither call takes the length
    // early-exit: the 60-char pattern runs Myers, the 70-char one the
    // banded DP, and both must report the same clamped value
    for ((m, n) <- Seq((60, 62), (70, 72))) {
      val a = "a" * m
      val b = "b" * n
      assert(levNaive(a, b) == n)
      assert(Fuzz.levenshteinWithin(utf8(a), utf8(b), 10) == 11, s"m=$m n=$n")
    }
  }

  test("property: levRatioBounded exact at/above minText, safely below otherwise") {
    val chars = Gen.oneOf("abcd 0123".toSeq)
    val str = Gen.chooseNum(0, 90).flatMap(n => Gen.stringOfN(n, chars))
    val minTexts = Gen.oneOf(0.0, 25.0, 52.5, 68.74, 70.3, 99.0)
    check(Prop.forAll(str, str, minTexts) { (a, b, minText) =>
      val mx = math.max(a.length, b.length)
      val truth =
        if (mx == 0) 100.0
        else 100.0 * (1.0 - levNaive(a, b).toDouble / mx)
      val got = Fuzz.levRatioBounded(utf8(a), utf8(b), minText)
      // exact whenever the true score could pass; otherwise an
      // overestimate of the true score that still fails the gate
      if (truth >= minText) got == truth
      else got < minText && got >= truth - 1e-9
    })
  }

  test("property: Myers bit-parallel path exact at the 64-char boundary (r06)") {
    // lengths clustered around 64 so both the single-word Myers path
    // (m <= 64) and the banded DP (m > 64) run, against BOTH the naive
    // DP and Spark's own levenshteinDistance
    val chars = Gen.oneOf("ab1 ".toSeq) // tiny alphabet → dense matches
    val len = Gen.frequency((3, Gen.chooseNum(55, 70)), (1, Gen.chooseNum(0, 120)))
    val str = len.flatMap(n => Gen.stringOfN(n, chars))
    check(Prop.forAll(str, str) { (a, b) =>
      val ref = levNaive(a, b)
      ref == Fuzz.levenshteinWithin(utf8(a), utf8(b), 200) &&
        ref == utf8(a).levenshteinDistance(utf8(b))
    })
  }

  test("lev_ratio_bounded expression survives codegen and matches scalar") {
    import spark.implicits._
    val rows = Seq(
      ("istanbul kadikoy moda cadde no 12", "istanbul kadikoy moda cadde no 21"),
      ("yildiz mahalle 850 sokak", "esentepe bulvar 99 apartman"),
      ("", ""), ("abc", ""), ("", "xyz"), ("şehir", "sehir"))
    val out = rows.toDF("a", "b")
      .select(FuzzFunctions.lev_ratio_bounded($"a", $"b", 68.74).as("s")).collect()
    rows.zip(out).foreach { case ((a, b), r) =>
      assert(r.getDouble(0) == Fuzz.levRatioBounded(utf8(a), utf8(b), 68.74),
        s"in-plan lev_ratio_bounded($a,$b)")
    }
  }
}
