package graft.classify

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Multi-label text classification surface — the reference calls a
  * TensorFlow Serving endpoint per row and decodes index→label
  * (`/root/reference/src/main/scala/TwitchStream/TFInterface.scala:18-92`).
  * We keep the same UDF contract (`text → Array[String]` of labels whose
  * score clears a threshold) behind a pluggable trait with a local,
  * deterministic default — no RPC in the hot path, no per-call resource
  * reloads (SURVEY.md §2.11.6).
  */
trait TextClassifier extends Serializable {

  /** One score per label index, aligned with `labels`. */
  def scores(text: String): Seq[Double]

  def labels: IndexedSeq[String]

  def threshold: Double = 0.5

  /** Labels whose score clears the threshold. */
  def classify(text: String): Seq[String] =
    Predictions.decode(scores(text), labels, threshold)

  /** Batched hook — RPC-backed implementations override this to ship ONE
    * request per batch (the reference made one HTTP call per row,
    * `TFInterface.scala:81-92`). Default: per-item on the local model.
    */
  def classifyBatch(texts: Seq[String]): Seq[Seq[String]] = texts.map(classify)
}

object Predictions {

  /** Threshold-filter + index→label decode as one pure function.
    * `zipWithIndex`, not the reference's `scores.indexOf(score)`
    * (`TFInterface.scala:63-66`) which returns the first index for
    * duplicate scores (SURVEY.md §2.11.5).
    */
  def decode(scores: Seq[Double], labels: Int => String, threshold: Double): Seq[String] =
    scores.zipWithIndex.collect { case (s, i) if s > threshold => labels(i) }
}

/** Deterministic keyword-overlap classifier: score(label) = fraction of
  * that label's keywords present in the lower-cased token set.
  */
final case class KeywordClassifier(
    labelKeywords: Seq[(String, Seq[String])],
    override val threshold: Double = 0.5)
    extends TextClassifier {

  override val labels: IndexedSeq[String] = labelKeywords.map(_._1).toIndexedSeq

  override def scores(text: String): Seq[Double] = {
    val toks = TextClassifier.Whitespace.split(text.toLowerCase).filter(_.nonEmpty).toSet
    labelKeywords.map { case (_, kws) =>
      if (kws.isEmpty) 0.0 else kws.count(toks.contains).toDouble / kws.size
    }
  }
}

object TextClassifier {

  /** Compiled once: `String.split("\\s+")` compiles the regex per call. */
  private[classify] val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** The classifier as a column function (scalar UDF — the classifier is
    * arbitrary Scala by design; everything around it stays native).
    */
  def asUdf(clf: TextClassifier): Column => Column = {
    val f = udf((text: String) => if (text == null) Seq.empty[String] else clf.classify(text))
    (c: Column) => f(c)
  }

  /** The classifier as a column, picking the strongest plan shape the
    * implementation supports: the deterministic [[KeywordClassifier]]
    * runs as the native codegen `keyword_classify` expression (UDF-free
    * plan, fused into the surrounding stage — byte-identical labels,
    * same `classify` kernel); anything else — i.e. an RPC/model-backed
    * implementation — falls back to the scalar UDF (and should prefer
    * [[classifyPartitioned]], the batched shape a remote model needs).
    */
  def asColumn(clf: TextClassifier): Column => Column = clf match {
    case kw: KeywordClassifier =>
      (c: Column) => graft.functions.expressions.KeywordClassifyExpr.keywordClassify(c, kw)
    case other => asUdf(other)
  }

  /** Partition-batched classification: the classifier's batch hook runs
    * once per `batchSize` rows instead of per row — the shape an
    * RPC/accelerator-backed model needs (amortized connection + request
    * batching), with only `(id, labels)` leaving the stage.
    */
  def classifyPartitioned(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      clf: TextClassifier,
      batchSize: Int = 256): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val outSchema = new StructType()
      .add("id", LongType)
      .add("labels", ArrayType(StringType, containsNull = false))
    val rdd = df.select(col(idCol).cast("long"), col(textCol)).rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val labels = clf.classifyBatch(batch.map(r => r.getString(1)))
        batch.iterator.zip(labels.iterator).map { case (r, ls) => Row(r.getLong(0), ls) }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Default classifier from the bundled class map — loaded ONCE from the
    * classpath (the reference re-read its `encoder_classes.json` resource
    * on every UDF call, `TFInterface.scala:44-47` — SURVEY.md §2.11.6).
    * Typed as the concrete [[KeywordClassifier]] so the SQL surface
    * (`keyword_classify(text)`, `GraftFunctions`) can build the native
    * expression without a cast.
    */
  lazy val default: KeywordClassifier =
    KeywordClassifier(loadLabelKeywords("/graft/classifier_classes.json"))

  /** Parse a `{label: [keyword, …]}` JSON classpath resource (jackson
    * ships with Spark).
    */
  def loadLabelKeywords(resource: String): Seq[(String, Seq[String])] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"classifier resource not found: $resource")
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(in)
      import scala.jdk.CollectionConverters._
      root.properties().asScala.toSeq.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }
    } finally in.close()
  }
}
