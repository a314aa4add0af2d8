package graft.functions

import graft.SparkTestBase
import graft.operators.WordCount
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def evalTokens(s: String): Seq[String] =
    Seq(s).toDF("t").select(TextFunctions.tokens(col("t"))).as[Seq[String]].head()

  test("tokens: lower-cases, splits on whitespace runs, drops empties") {
    assert(evalTokens("  Hello   WORLD\tfoo\nbar ") == Seq("hello", "world", "foo", "bar"))
    assert(evalTokens("") == Seq.empty)
    assert(evalTokens("   ") == Seq.empty)
  }

  /** Spark-builtin reference for `clean_tokens`: lower, split on
    * whitespace runs, drop empties, stop-words and tokens of at most
    * `minLength` characters.
    */
  private def builtinCleanTokens(t: Column, minLength: Int): Column = {
    val sw = typedlit(TextFunctions.stopWords("english"))
    filter(split(lower(t), "\\s+"), w => length(w) > minLength && !array_contains(sw, w))
  }

  test("clean_tokens keeps multiplicity and order") {
    val df = Seq("the cat the cat sat", "The\tCAT  sat the").toDF("t")
    val got = df.select(WordCount.cleanTokens(col("t"), "english"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("cat", "cat", "sat"), Seq("cat", "sat")))
    assert(got == df.select(builtinCleanTokens(col("t"), 0)).as[Seq[String]].collect().toSeq)
  }

  test("shingles: n-grams, and short docs shingle to the full join") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3).as("sh"))
      .as[Seq[String]]
      .collect()
    assert(df(0) == Seq("a b c", "b c d"))
    assert(df(1) == Seq("a b"))
  }

  test("md5Hash60 is deterministic, 60-bit positive") {
    val vals = Seq("x", "x", "y").toDF("s")
      .select(TextFunctions.md5Hash60(col("s"))).as[Long].collect()
    assert(vals(0) == vals(1))
    assert(vals(0) != vals(2))
    assert(vals.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("minHashSignature: k values, equal for equal docs, mostly equal for near-dups") {
    val df = Seq("a b c d e f g h", "a b c d e f g h", "totally different words here now")
      .toDF("t")
      .select(
        TextFunctions
          .minHashSignature(TextFunctions.shingles(TextFunctions.tokens(col("t")), 2), 8)
          .as("sig"))
      .as[Seq[Long]]
      .collect()
    assert(df(0).size == 8)
    assert(df(0) == df(1))
    assert(df(0) != df(2))
  }

  test("simHash60: deterministic, in range, identical docs collide, hamming works") {
    val df = Seq("spark makes big data simple", "spark makes big data simple", "unrelated text entirely")
      .toDF("t")
      .select(TextFunctions.simHash60(TextFunctions.tokens(col("t"))).as("h"))
      .as[Long]
      .collect()
    assert(df(0) == df(1))
    assert(df.forall(h => h >= 0 && h < (1L << 60)))
    val d = Seq((df(0), df(1)), (df(0), df(2))).toDF("a", "b")
      .select(TextFunctions.hammingDistance(col("a"), col("b"))).as[Int].collect()
    assert(d(0) == 0)
    assert(d(1) > 0)
  }

  test("langId picks the language with most stop-word overlap") {
    val got = Seq(
      "the quick brown fox jumps over the lazy dog and then it was done",
      "le chat est sur la table et il y a des choses que nous avons",
      "der hund und die katze sind nicht auf dem tisch aber sie waren")
      .toDF("t")
      .select(TextFunctions.langId(col("t")))
      .as[String]
      .collect()
    assert(got(0) == "en")
    assert(got(1) == "fr")
    assert(got(2) == "de")
  }

  test("quality metrics: punctRatio, stopwordRatio, meanTokenLength, counts") {
    val row = Seq("The cat, the hat!!")
      .toDF("t")
      .select(
        TextFunctions.punctRatio(col("t")).as("p"),
        TextFunctions.stopwordRatio(col("t"), "english").as("s"),
        TextFunctions.meanTokenLength(col("t")).as("m"),
        TextFunctions.tokenCount(col("t")).as("n"),
        TextFunctions.regexTokenCount(col("t")).as("rn"))
      .collect()
      .head
    // punct: ',' '!' '!' = 3 of 18 chars
    assert(math.abs(row.getDouble(0) - 3.0 / 18.0) < 1e-12)
    // tokens: the cat, the hat!! → stopwords: the, the = 2/4
    assert(math.abs(row.getDouble(1) - 0.5) < 1e-12)
    assert(row.getInt(3) == 4)
    // regex tokens of "the cat the hat" → 4
    assert(row.getInt(4) == 4)
  }

  test("tight-loop twins agree with the columnar originals") {
    val texts = Seq(
      "The quick  Brown fox\tjumps over the lazy dog",
      "short",
      "a b",
      "  leading and trailing  ",
      "punct! and, symbols: everywhere; really?")
    texts.foreach { t =>
      val colToks = Seq(t).toDF("t")
        .select(TextFunctions.tokens(col("t"))).as[Seq[String]].head()
      assert(TextFunctions.tokensLocal(t).toSeq == colToks, s"tokens: $t")

      val colSh = Seq(t).toDF("t")
        .select(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3))
        .as[Seq[String]].head()
      assert(
        TextFunctions.shinglesLocal(TextFunctions.tokensLocal(t), 3).toSeq == colSh,
        s"shingles: $t")

      val colHs = Seq(t).toDF("t")
        .select(TextFunctions.shingleHashes(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3)))
        .as[Seq[Long]].head()
      val localHs = Seq(t).toDF("t")
        .select(TextFunctions.shingleHashesUdf(3)(col("t"))).as[Seq[Long]].head()
      assert(localHs == colHs, s"shingleHashes: $t")
    }
    // md5Hash60: native codegen expression == composed conv(substring(md5))
    // form == JVM twin
    val vals = Seq("abc", "", "hello world", "ünïcödé")
    val native = vals.toDF("s")
      .select(TextFunctions.md5Hash60(col("s"))).as[Long].collect().toSeq
    val composed = vals.toDF("s")
      .select(TextFunctions.md5Hash60Composed(col("s"))).as[Long].collect().toSeq
    assert(native == composed)
    assert(vals.map(TextFunctions.md5Hash60Local) == native)
    // null propagates (UnaryExpression null-intolerant semantics)
    val withNull = Seq(Some("x"), None).toDF("s")
      .select(TextFunctions.md5Hash60(col("s"))).collect()
    assert(!withNull(0).isNullAt(0) && withNull(1).isNullAt(0))
  }

  test("contentFingerprint: normalization-invariant md5") {
    val fps = Seq("Hello   World", "hello world", "hello worlds")
      .toDF("t")
      .select(TextFunctions.contentFingerprint(col("t")))
      .as[String]
      .collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("corpusStatsUdf: one-pass twin matches the columnar forms") {
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog and then some",
      "le chat est sur la table et il dort bien",
      "der Hund ist im Haus und die Katze auch",
      "el perro está en la casa y el gato también",
      "x", "  ", "MIXED case WITH   runs\tof\nwhitespace")
    val df = texts.toDF("t")
    val columnar = df.select(
      TextFunctions.tokenCount(col("t")).cast("long"),
      TextFunctions.langId(col("t")),
      TextFunctions.contentFingerprint(col("t"))
    ).as[(Long, String, String)].collect().toSeq
    val onePass = df.select(TextFunctions.corpusStatsUdf(col("t")).as("s"))
      .select(col("s._1"), col("s._2"), col("s._3"))
      .as[(Long, String, String)].collect().toSeq
    assert(onePass == columnar)
    // md5HexLocal twins Spark md5()
    val sparkMd5 = df.select(md5(col("t"))).as[String].collect().toSeq
    assert(texts.map(TextFunctions.md5HexLocal) == sparkMd5)
  }

  test("simHash / langId / quality / cleanText twins match their columnar forms") {
    val texts = Seq(
      "The quick brown fox, jumps over the lazy dog!",
      "le chat est sur   la table et il dort",
      "a [b] \"c\" 'd'   e\t\nf", "  leading and trailing  ",
      "punct!!! ??? ###", "x", "", "ünïcödé tökens mit Ümlauten")
    val df = texts.toDF("t")

    val colSim = df.select(TextFunctions.simHash60(TextFunctions.tokens(col("t"))))
      .as[Long].collect().toSeq
    val udfSim = df.select(TextFunctions.simHashUdf(col("t"))).as[Long].collect().toSeq
    assert(udfSim == colSim)

    val colLang = df.select(TextFunctions.langId(col("t"))).as[String].collect().toSeq
    val udfLang = df.select(TextFunctions.langIdUdf(col("t"))).as[String].collect().toSeq
    assert(udfLang == colLang)

    val colQ = df.select(
      TextFunctions.tokenCount(col("t")).cast("long"),
      TextFunctions.regexTokenCount(col("t")).cast("long"),
      TextFunctions.punctRatio(col("t")),
      TextFunctions.stopwordRatio(col("t"), "english"),
      TextFunctions.meanTokenLength(col("t"))
    ).as[(Long, Long, Double, Double, Double)].collect().toSeq
    val udfQ = df.select(TextFunctions.qualityStatsUdf("english")(col("t")).as("q"))
      .select(col("q._1"), col("q._2"), col("q._3"), col("q._4"), col("q._5"))
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(udfQ == colQ)

    val colClean = df.select(
      trim(regexp_replace(translate(col("t"), "[]\"'", ""), "\\s+", " ")))
      .as[String].collect().toSeq
    val udfCleanT = df.select(TextFunctions.cleanTextUdf(col("t"))).as[String].collect().toSeq
    assert(udfCleanT == colClean)
  }

  test("winnowFingerprintsUdf: shared long runs share fingerprints; short docs yield none") {
    def fps(t: String): Set[Long] =
      Seq(t).toDF("t").select(TextFunctions.winnowFingerprintsUdf()(col("t")))
        .as[Seq[Long]].head().toSet
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "PREFIX alpha beta gamma delta epsilon zeta eta theta iota kappa SUFFIX"
    // winnowing guarantee: any shared run of >= w+k-1 = 6 tokens shares a fingerprint
    assert(fps(a).intersect(fps(b)).nonEmpty)
    assert(fps(a) == fps(a.toUpperCase)) // tokenization lower-cases
    assert(fps("one two").isEmpty)       // shorter than k tokens
    assert(fps("x y z").size == 1)       // exactly one gram, one window
    // disjoint vocab -> disjoint fingerprints
    assert(fps(a).intersect(fps("uno dos tres cuatro cinco seis siete ocho")).isEmpty)
  }

  test("clean_tokens / distinctTokensUdf match their columnar forms") {
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog again and again",
      "a the an of short toks only", "  ", "Repeat repeat REPEAT word word")
    val df = texts.toDF("t")
    val colClean = df.select(builtinCleanTokens(col("t"), 3)).as[Seq[String]].collect().toSeq
    val nativeClean = df.select(WordCount.cleanTokens(col("t"), "english", 3))
      .as[Seq[String]].collect().toSeq
    assert(nativeClean == colClean)

    val outliers = Seq("the", "word")
    val colDistinct = df.select(
      array_except(array_distinct(TextFunctions.tokens(col("t"))), typedlit(outliers)))
      .as[Seq[String]].collect().toSeq
    val udfDistinct = df.select(TextFunctions.distinctTokensUdf(outliers)(col("t")))
      .as[Seq[String]].collect().toSeq
    assert(udfDistinct == colDistinct)
  }

  test("repetitionStatsUdf: top bigram with lexicographic tie-break, duplicate-token fraction, degenerate guards") {
    val df = Seq(
      (1L, "a b a b c"), //          "a b"×2 of 4 bigrams; 3 distinct of 5 tokens
      (2L, "x y z"), //              all bigrams tie → smallest "x y"
      (3L, "solo"), //               no bigrams
      (4L, "") //                    no tokens
    ).toDF("id", "t")
    val got = df
      .select(col("id"), TextFunctions.repetitionStatsUdf(col("t")).alias("r"))
      .select(col("id"), col("r._1"), col("r._2"), col("r._3"), col("r._4"), col("r._5"))
      .as[(Long, Option[String], Long, Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

    assert(got(1L) == ((Some("a b"), 2L, 4L, 0.5, 0.4)))
    assert(got(2L) == ((Some("x y"), 1L, 2L, 0.5, 0.0)))
    assert(got(3L) == ((None, 0L, 0L, 0.0, 0.0)))
    assert(got(4L) == ((None, 0L, 0L, 0.0, 0.0)))
  }

  test("repetitionStats tie-break uses code-point (UTF-8 byte) order for supplementary-plane tokens") {
    // tokens: q, U+FFFD, q, U+1F600 → three bigrams, all count 1.
    // Code-point order: "q �" < "q 😀"  (0xFFFD < 0x1F600).
    // UTF-16 code-unit order would flip them (surrogate 0xD83D < 0xFFFD),
    // which is what DuckDB's byte-order tie-break must NOT see.
    val (top, n, total, _, _) = TextFunctions.repetitionStatsLocal("q � q 😀")
    assert(top == "q �", s"got $top")
    assert(n == 1L && total == 3L)
  }
}
