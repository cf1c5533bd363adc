package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Browser-style operators: deterministic pagination, top-k, and
  * keep-first-by-sort dedup (reference `votes_service.py:171-177` paging,
  * `loyalty_service.py:122` top-k, `mp_builder.py:31-33` dedup).
  */
object Browse {

  /** Top-k: Catalyst plans `orderBy(...).limit(k)` as
    * `TakeOrderedAndProject` — a true distributed top-k (per-partition heap
    * + driver merge), never a full sort. This is the scale-safe form of the
    * reference's `sort().head(k)`.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Offset pagination. `Dataset.offset` (Spark ≥ 3.4) plans as
    * GlobalLimit/Offset on top of the sort — fine for browser-depth pages.
    * The sort MUST be made deterministic by the caller (include a unique
    * tiebreak key), otherwise pages can overlap between runs.
    */
  def page(df: DataFrame, pageNum: Int, perPage: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).offset((pageNum - 1) * perPage).limit(perPage)

  /** Reference-parity paged result (votes_service.py:171-177): count the
    * filtered relation, clamp the requested page into [1, total_pages],
    * then slice. Two jobs (count + slice) — the reference pays the same
    * two passes; keep `df`'s expensive part resident upstream when serving
    * many pages, as an `Analyzer`'s vote-listing base
    * (`VotesBrowser.listBase`) does.
    */
  case class PagedResult(
      rows: DataFrame, total: Long, page: Int, perPage: Int, totalPages: Int)

  def pageClamped(df: DataFrame, pageNum: Int, perPage: Int, order: Column*): PagedResult = {
    val total = df.count()
    val totalPages = math.max(1, ((total + perPage - 1) / perPage).toInt)
    val page = math.max(1, math.min(pageNum, totalPages))
    PagedResult(
      df.orderBy(order: _*).offset((page - 1) * perPage).limit(perPage),
      total, page, perPage, totalPages)
  }

  /** Keep-first-per-key after sort (reference A11: latest club membership
    * per person). Window `row_number` — deterministic given a total order;
    * callers must pass a tiebreak column (the reference's string-date sort
    * is non-deterministic on ties; we fix that and document the
    * divergence, SURVEY §7.4).
    */
  def keepFirst(df: DataFrame, partitionCols: Seq[String], order: Column*): DataFrame =
    keepRanked(df, partitionCols, 1, order: _*)

  /** Keep the first `n` rows per key under the given total order (the
    * general form of [[keepFirst]]; also the per-group quota primitive).
    */
  def keepRanked(df: DataFrame, partitionCols: Seq[String], n: Int,
      order: Column*): DataFrame =
    df.withColumn(
        "__rn",
        row_number().over(
          Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") <= n)
      .drop("__rn")
}
