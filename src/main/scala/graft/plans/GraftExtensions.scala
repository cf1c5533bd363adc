package graft.plans

import org.apache.spark.sql.{GraftShim, SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions installer: `graft.GraftSession.build` passes it
  * to `withExtensions` — or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Injects the graft native functions so they are usable from SQL text as
  * well as the DataFrame API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((
      FunctionIdentifier("strip_diacritics"),
      new ExpressionInfo(classOf[NormalizeDiacritics].getName, "strip_diacritics"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NormalizeDiacritics(children.head)))
    ext.injectFunction((
      FunctionIdentifier("fuzzy_ratio"),
      new ExpressionInfo(classOf[FuzzyRatio].getName, "fuzzy_ratio"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FuzzyRatio(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NfcNormalize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("pct_normalize"),
      new ExpressionInfo(classOf[PctNormalize].getName, "pct_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PctNormalize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("html_entity_decode"),
      new ExpressionInfo(classOf[HtmlEntityDecode].getName, "html_entity_decode"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HtmlEntityDecode(children.head)))
    ext.injectFunction((
      FunctionIdentifier("utf8_bytes"),
      new ExpressionInfo(classOf[Utf8Bytes].getName, "utf8_bytes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Utf8Bytes(children.head)))
    ext.injectOptimizerRule(NormalizeSimplification)
  }
}

/** Session-local registration for sessions not built with the extensions
  * (e.g. a driver-provided session). Idempotent.
  */
object GraftFunctions {
  def ensure(spark: SparkSession): Unit = {
    GraftShim.registerNative(spark, "strip_diacritics", es => NormalizeDiacritics(es.head))
    GraftShim.registerNative(spark, "fuzzy_ratio", es => FuzzyRatio(es(0), es(1)))
    GraftShim.registerNative(spark, "dot_product", es => DotProduct(es(0), es(1)))
    GraftShim.registerNative(spark, "nfc_normalize", es => NfcNormalize(es.head))
    GraftShim.registerNative(spark, "pct_normalize", es => PctNormalize(es.head))
    GraftShim.registerNative(spark, "html_entity_decode", es => HtmlEntityDecode(es.head))
    GraftShim.registerNative(spark, "utf8_bytes", es => Utf8Bytes(es.head))
  }

  /** Column-API access to the UTF-8 byte sequence (array<int>, 0–255). */
  def utf8Bytes(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftShim.toColumn(Utf8Bytes(GraftShim.expr(s)))

  /** Column-API access to RFC 3986 percent-encoding normalization. */
  def pctNormalize(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftShim.toColumn(PctNormalize(GraftShim.expr(s)))

  /** Column-API access to HTML character-reference decoding. */
  def htmlEntityDecode(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftShim.toColumn(HtmlEntityDecode(GraftShim.expr(s)))

  /** Column-API access to the native dot product (no registration needed). */
  def dotProduct(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    GraftShim.toColumn(DotProduct(
      org.apache.spark.sql.GraftShim.expr(a), org.apache.spark.sql.GraftShim.expr(b)))

  /** Column-API access to the exact-grid k-means argmin. The centroid
    * matrix is a plan-time constant (pre-rounded onto the scale-12 grid
    * here, on the driver — out-of-grid centroids fail fast with the
    * domain named), not a child expression, so there is no SQL-text form.
    */
  def gridArgmin(vec: org.apache.spark.sql.Column, centroids: Array[Array[Double]])
      : org.apache.spark.sql.Column =
    GraftShim.toColumn(GridArgmin(GraftShim.expr(vec),
      centroids.map(_.map(GridArgmin.toGrid))))

  /** Column-API access to the exact squared grid distance against the
    * row's assigned centroid (same plan-time constant table as
    * [[gridArgmin]]; `cluster` is its 0-based output).
    */
  def gridDistTo(vec: org.apache.spark.sql.Column,
      cluster: org.apache.spark.sql.Column, centroids: Array[Array[Double]])
      : org.apache.spark.sql.Column =
    GraftShim.toColumn(GridDistTo(GraftShim.expr(vec), GraftShim.expr(cluster),
      centroids.map(_.map(GridArgmin.toGrid))))
}
