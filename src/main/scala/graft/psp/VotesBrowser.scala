package graft.psp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Browse
import graft.plans.GraftFunctions

/** Vote browser queries (reference `services/votes_service.py`):
  * diacritic-insensitive search (P7) over BOTH name columns, outcome
  * filter, topic semi-join (J9), deterministic clamped pagination (O3),
  * per-vote detail with party breakdown (A4). A listing is
  * [[listNarrow]] over [[listBase]], which an `Analyzer` keeps resident.
  */
object VotesBrowser {

  private def searchNorm(c: Column): Column =
    lower(call_function("strip_diacritics", c))

  /** The request-independent part of every listing: valid (non-void)
    * votes, names null-filled, plus each name's normalized search form
    * (`search_dlouhy`, `search_kratky`) for [[listNarrow]] to match.
    */
  def listBase(votes: DataFrame, voidVotes: DataFrame): DataFrame = {
    GraftFunctions.ensure(votes.sparkSession)
    votes
      .join(voidVotes, Seq("id_hlasovani"), "left_anti")
      .withColumn("nazev_dlouhy", coalesce(col("nazev_dlouhy"), lit("")))
      .withColumn("nazev_kratky", coalesce(col("nazev_kratky"), lit("")))
      .withColumn(SearchCols(0), searchNorm(col("nazev_dlouhy")))
      .withColumn(SearchCols(1), searchNorm(col("nazev_kratky")))
  }

  private val SearchCols = Seq("search_dlouhy", "search_kratky")

  /** A listing request's answer from [[listBase]]: the search, outcome
    * and topic filters, then the clamped page, newest vote first.
    */
  def listNarrow(
      base: DataFrame,
      search: Option[String] = None,
      outcome: Option[String] = None,
      topicKeys: Option[DataFrame] = None,
      page: Int = 1,
      perPage: Int = 30): Browse.PagedResult = {
    var df = base
    search.filter(_.nonEmpty).foreach { q =>
      // reference matches the normalized needle against long OR short name
      // (votes_service.py:101-112)
      val needle = graft.functions.TextNorm.normalizeSearch(q)
      df = df.filter(SearchCols.map(col(_).contains(needle)).reduce(_ || _))
    }
    outcome.foreach { o => df = df.filter(col("vysledek") === o) }
    topicKeys.foreach { keys => df = df.join(keys, Seq("schuze", "bod"), "left_semi") }
    Browse.pageClamped(df.drop(SearchCols: _*), page, perPage, col("id_hlasovani").desc)
  }

  /** listVotes with the full paging envelope (total / clamped page /
    * total_pages — the reference's response shape): [[listNarrow]] of a
    * fresh [[listBase]] (which registers the search function on the
    * votes' session, `spark`).
    */
  def listVotesPaged(
      spark: SparkSession,
      votes: DataFrame,
      voidVotes: DataFrame,
      search: Option[String] = None,
      outcome: Option[String] = None,
      topicKeys: Option[DataFrame] = None,
      page: Int = 1,
      perPage: Int = 30): Browse.PagedResult =
    listNarrow(listBase(votes, voidVotes), search, outcome, topicKeys, page, perPage)

  /** Per-party breakdown for one vote (votes_service.py:265-280, A4):
    * `<code>_cnt` per vote code and `total_cnt`, sorted by party.
    */
  def partyBreakdown(mpVotes: DataFrame, mpInfo: DataFrame, voteId: Long): DataFrame =
    Details.mpArrays(mpVotes, mpInfo)
      .filter(col("id_hlasovani") === voteId)
      .select(inline(col("party_breakdown")))
      .select(col("party") +: Details.BreakdownCounts.map { case (name, code) =>
        col(name).as(s"${code.toLowerCase(java.util.Locale.ROOT)}_cnt")
      } :+ col("total").as("total_cnt"): _*)

  /** Single-vote MP listing with names, multi-column sort (O2). */
  def voteMpVotes(mpVotes: DataFrame, mpInfo: DataFrame, voteId: Long): DataFrame =
    Details.mpArrays(mpVotes, mpInfo)
      .filter(col("id_hlasovani") === voteId)
      .select(inline(col("mp_votes")))
}
