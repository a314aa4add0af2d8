package graft.functions

import graft.{GraftFunctions, SparkTestBase}
import graft.functions.expressions.{CorpusStatsExpr, LangIdExpr, QualityStatsExpr, TermCountsExpr}
import org.apache.spark.sql.functions._

/** Parity of the native text-stats expressions with the closure-UDF
  * twins they replaced on q24/q25/q35/q52's hot paths, plus the
  * codegen/no-UDF plan assertions.
  */
class TextStatsExprsSpec extends SparkTestBase {
  import spark.implicits._

  private val rows = Seq(
    (1L, "The quick brown fox jumps over the lazy dog and the cat"),
    (2L, "le chat est sur la table et il dort bien là"),
    (3L, "der Hund ist im Garten und die Katze schläft"),
    (4L, "el perro está en el jardín y la casa es grande"),
    (5L, ""),
    (6L, "x"),
    (7L, "Üñíçødé 文本 🙂 mixed: 42 tokens!  spaced\t\tout"),
    (8L, null.asInstanceOf[String]),
    (9L, "dup dup dup words words one")
  ).toDF("id", "text")

  test("LangIdExpr matches langIdUdf on every row incl. null/empty/unicode") {
    val native = rows.select(col("id"), LangIdExpr.langId(col("text")).as("l"))
      .as[(Long, Option[String])].collect().toMap
    val viaUdf = rows.select(col("id"), TextFunctions.langIdUdf(col("text")).as("l"))
      .as[(Long, Option[String])].collect().toMap
    assert(native == viaUdf)
    assert(native(8L).isEmpty) // null text → null
  }

  test("QualityStatsExpr matches qualityStatsUdf field-for-field") {
    val native = rows
      .select(col("id"), QualityStatsExpr.qualityStats(col("text"), "english").as("q"))
      .select(col("id"), col("q.n_tokens"), col("q.n_subtokens"), col("q.punct_ratio"),
        col("q.stopword_ratio"), col("q.mean_token_len"))
      .as[(Long, Option[Long], Option[Long], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    val viaUdf = rows
      .select(col("id"), TextFunctions.qualityStatsUdf("english")(col("text")).as("q"))
      .select(col("id"), col("q._1"), col("q._2"), col("q._3"), col("q._4"), col("q._5"))
      .as[(Long, Option[Long], Option[Long], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    assert(native == viaUdf)
  }

  test("CorpusStatsExpr matches corpusStatsUdf (n_tokens, lang_pred, fp)") {
    val nonNull = rows.filter(col("text").isNotNull) // the UDF twin NPEs on null text
    val native = nonNull
      .select(col("id"), CorpusStatsExpr.corpusStats(col("text")).as("st"))
      .select(col("id"), col("st.n_tokens"), col("st.lang_pred"), col("st.fp"))
      .as[(Long, Long, String, String)].collect().toSet
    val viaUdf = nonNull
      .select(col("id"), TextFunctions.corpusStatsUdf(col("text")).as("st"))
      .select(col("id"), col("st._1"), col("st._2"), col("st._3"))
      .as[(Long, Long, String, String)].collect().toSet
    assert(native == viaUdf)
    // null text → null struct (safer than the UDF twin)
    val nullRow = rows.filter(col("id") === 8L)
      .select(CorpusStatsExpr.corpusStats(col("text"))).collect().head
    assert(nullRow.isNullAt(0))
  }

  test("TermCountsExpr matches termCountsUdf as an exploded multiset") {
    def exploded(c: org.apache.spark.sql.Column) = rows
      .select(col("id"), explode(c).as(Seq("term", "tf")))
      .as[(Long, String, Long)].collect().toSet
    assert(
      exploded(TermCountsExpr.termCounts(col("text"))) ==
        exploded(TextFunctions.termCountsUdf(col("text"))))
  }

  test("RepetitionStatsExpr matches repetitionStatsUdf field-for-field incl. null text") {
    import graft.functions.expressions.RepetitionStatsExpr
    val native = rows
      .select(col("id"), RepetitionStatsExpr.repetitionStats(col("text")).as("r"))
      .select(col("id"), col("r.top_bigram"), col("r.top_bigram_n"), col("r.n_bigrams"),
        col("r.top_bigram_frac"), col("r.dup_token_frac"))
      .as[(Long, Option[String], Long, Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val viaUdf = rows
      .select(col("id"), TextFunctions.repetitionStatsUdf(col("text")).as("r"))
      .select(col("id"), col("r._1"), col("r._2"), col("r._3"), col("r._4"), col("r._5"))
      .as[(Long, Option[String], Long, Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(native == viaUdf)
    // the UDF twin returned the zeros struct for null text (reference
    // args pass through); the native twin must match, not emit SQL NULL
    assert(native(8L) == ((None, 0L, 0L, 0.0, 0.0)), native(8L))
    // repeated bigrams: "dup dup" ×2 beats everything on row 9
    assert(native(9L)._1.contains("dup dup"), native(9L))
  }

  test("round-9 scan exprs match their UDF twins: clean/distinct-tokens/winnow/sentiment") {
    import graft.functions.expressions.{CleanTextExpr, DistinctTokensExpr, SentimentScoreExpr, WinnowFingerprintsExpr}
    val extra = rows.union(Seq(
      (10L, "[quoted] \"stuff\"  with\t'junk'   runs and the good bad bad day"),
      (11L, "a b c a b c a b c d e f g h i j k l m n o p")
    ).toDF("id", "text"))

    val nativeSide = extra.select(
      col("id"),
      CleanTextExpr.cleanText(col("text")).as("ct"),
      DistinctTokensExpr.distinctTokens(col("text"), Seq("the", "a")).as("dt"),
      WinnowFingerprintsExpr.winnowFingerprints(col("text"), 3, 4).as("fp"),
      SentimentScoreExpr.sentimentScore(col("text")).as("sc"))
      .as[(Long, Option[String], Seq[String], Seq[Long], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val udfSide = extra.select(
      col("id"),
      TextFunctions.cleanTextUdf(col("text")).as("ct"),
      TextFunctions.distinctTokensUdf(Seq("the", "a"))(col("text")).as("dt"),
      TextFunctions.winnowFingerprintsUdf(3, 4)(col("text")).as("fp"),
      graft.functions.Sentiment.scoreUdf(col("text")).as("sc"))
      .as[(Long, Option[String], Seq[String], Seq[Long], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(nativeSide == udfSide)
    // null text: clean_text → null (UDF's explicit branch); the others
    // → empty-document results, never SQL NULL
    assert(nativeSide(8L) == ((None, Seq.empty[String], Seq.empty[Long], 0.0)), nativeSide(8L))
  }

  test("round-9 exprs match twins: clean-tokens/simhash/label-clean") {
    import graft.functions.expressions.{CleanTextFastExpr, CleanTokensExpr, SimHash60Expr}
    val extra = rows.union(Seq(
      (10L, "[bracketed] content < br / > next 'line' and  the    spaced   words here"),
      (11L, "supercalifragilistic words beyond length three and the a an of")
    ).toDF("id", "text"))

    val nativeSide = extra.select(
      col("id"),
      CleanTokensExpr.cleanTokens(col("text"), "english", 3).as("ct"),
      SimHash60Expr.simHash60(col("text")).as("sh"),
      CleanTextFastExpr.cleanTextFast(col("text")).as("lc"))
      .as[(Long, Seq[String], Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // clean_tokens against Spark builtins (null text → empty array, as
    // coalesced here); simhash / label-clean against their UDF twins
    val sw = typedlit(TextFunctions.stopWords("english"))
    val builtinClean = coalesce(
      filter(split(lower(col("text")), "\\s+"),
        w => length(w) > 3 && !array_contains(sw, w)),
      typedlit(Seq.empty[String]))
    val udfSide = extra.select(
      col("id"),
      builtinClean.as("ct"),
      TextFunctions.simHashUdf(col("text")).as("sh"),
      graft.operators.LabelPrep.cleanTextFastUdf(col("text")).as("lc"))
      .as[(Long, Seq[String], Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(nativeSide == udfSide)
    // null text: empty tokens / simhash 0 / null string
    assert(nativeSide(8L) == ((Seq.empty[String], 0L, None)), nativeSide(8L))

    // TokensExpr equals the columnar HOF tokenizer row-for-row (null →
    // empty array vs the HOF's null — the callers' coalesce semantics)
    import graft.functions.expressions.TokensExpr
    val nT = extra.select(col("id"), TokensExpr.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val cT = extra
      .select(col("id"),
        coalesce(TextFunctions.tokens(col("text")), typedlit(Seq.empty[String])).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(nT == cT)
  }

  test("native text stats are SQL-registered, codegen'd, and UDF-free over parquet") {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("docs_ts")
    val q = spark.sql(
      """SELECT doc_id, lang_id(text) AS l, quality_stats(text, 'english') AS q,
                corpus_stats(text) AS st, term_counts(text) AS tc,
                repetition_stats(text) AS rep, clean_text(text) AS ct,
                winnow_fingerprints(text, 3, 4) AS fp, sentiment_score(text) AS sc,
                keyword_classify(text) AS kc
         FROM docs_ts""")
    withStrictCodegen(q.collect())
    val plan = q.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[.*lang_id".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("keyword_classify"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), plan)

    // wrong arity fails analysis with the signature
    val m = intercept[Exception](spark.sql("SELECT quality_stats('x')").collect()).getMessage
    assert(m.contains("quality_stats(text, language)"), m)
    val m2 = intercept[Exception](
      spark.sql("SELECT quality_stats('x', lower('english'))").collect()).getMessage
    assert(m2.contains("STRING literal"), m2)
  }

  test("char_entropy: per-term micro rounding matches a local reference; edge cases pinned") {
    import graft.functions.expressions.CharEntropyExpr

    def reference(s: String): Long = {
      if (s.isEmpty) return 0L
      val cps = s.codePoints().toArray
      val n = cps.length.toDouble
      cps.groupBy(identity).values.map { g =>
        val c = g.length.toDouble
        Math.round(1e6 * (c / n) * Math.log(n / c))
      }.sum
    }

    // edge pins: empty = 0; single repeated char = 0; uniform k-ary
    // alphabet = ln(k) in micro-nats
    assert(CharEntropyExpr.run(org.apache.spark.unsafe.types.UTF8String.fromString("")) === 0L)
    assert(CharEntropyExpr.run(
      org.apache.spark.unsafe.types.UTF8String.fromString("aaaaaa")) === 0L)
    val quad = CharEntropyExpr.run(
      org.apache.spark.unsafe.types.UTF8String.fromString("abcdabcdabcd"))
    assert(math.abs(quad - Math.round(1e6 * Math.log(4.0))) <= 2L, quad.toString)

    val rnd = new scala.util.Random(11)
    val samples = (0 until 50).map { _ =>
      val len = rnd.nextInt(200)
      (0 until len).map(_ => ('a' + rnd.nextInt(30)).toChar).mkString
    } :+ "Üñíçødé 文本 🙂 mixed" // multi-byte code points count once each
    for (s0 <- samples)
      assert(CharEntropyExpr.run(
        org.apache.spark.unsafe.types.UTF8String.fromString(s0)) === reference(s0), s0)

    // null propagates; fuses under strict codegen; SQL-registered
    withStrictCodegen {
      val df = Seq(Some("abab"), None).toDF("t")
        .select(CharEntropyExpr.charEntropy(org.apache.spark.sql.functions.col("t")).as("e"))
      val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      assert(got(0).contains(reference("abab")) && got(1).isEmpty)
    }
    graft.GraftFunctions.register(spark)
    assert(spark.sql("SELECT char_entropy('abab') AS e").as[Long].head() === reference("abab"))
  }
}
