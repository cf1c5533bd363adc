package graft.psp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Browse

/** Law browser (reference `services/law_service.py:135-195`): dedup prints
  * by ct, search/status/topic filters, newest-first paging. The reference
  * filters Python lists; here every filter is a pushed-down column
  * predicate and pagination is sort+offset (O3).
  *
  * `laws` rows: (ct, nazev, status, topics: array<string>, ...) — status
  * and topics attached upstream (classification is external enrichment).
  */
object LawsBrowser {

  /** Dedup by ct keeping the smallest id_tisk (reference set-dedup made
    * deterministic), newest ct first.
    */
  def dedupeLaws(laws: DataFrame): DataFrame =
    Browse.keepFirst(laws, Seq("ct"), col("id_tisk").asc)

  /** [[listLaws]] with the full paging envelope (total / clamped page /
    * total_pages — the reference's response shape, `law_service.py`).
    */
  def listLawsPaged(
      laws: DataFrame,
      search: Option[String] = None,
      statusFilter: Option[String] = None,
      topicFilter: Option[String] = None,
      page: Int = 1,
      perPage: Int = 20): Browse.PagedResult = {
    var df = dedupeLaws(laws)
    search.filter(_.nonEmpty).foreach { q =>
      // reference parity: plain lowercase substring (law and amendment
      // browsers don't diacritic-strip; only vote search does)
      df = df.filter(lower(col("nazev")).contains(q.toLowerCase(java.util.Locale.ROOT)))
    }
    statusFilter.filter(s => s.nonEmpty && s != "all").foreach { st =>
      df = df.filter(col("status") === st)
    }
    topicFilter.filter(_.nonEmpty).foreach { t =>
      df = df.filter(array_contains(col("topics"), t))
    }
    Browse.pageClamped(df, page, perPage, col("ct").desc, col("id_tisk").asc)
  }

  def listLaws(
      laws: DataFrame,
      search: Option[String] = None,
      statusFilter: Option[String] = None,
      topicFilter: Option[String] = None,
      page: Int = 1,
      perPage: Int = 20): DataFrame =
    listLawsPaged(laws, search, statusFilter, topicFilter, page, perPage).rows

  /** `laws` with `topics` in `lang`: under "en", a row's `topics_en` when
    * the TopicPipeline attached that column and the row has any
    * (`law_service.py` topics_en), else its Czech `topics`.
    */
  def inLang(laws: DataFrame, lang: String): DataFrame =
    if (lang == "en" && laws.columns.contains("topics_en"))
      laws.withColumn("topics",
        when(size(col("topics_en")) > 0, col("topics_en")).otherwise(col("topics")))
    else laws

  /** Distinct topic labels across a period's laws (reference
    * `tisk_models.py:147-160`): explode + distinct.
    */
  def allTopics(laws: DataFrame): DataFrame =
    laws.select(explode(col("topics")).as("topic")).distinct().orderBy("topic")
}
