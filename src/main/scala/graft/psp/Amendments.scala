package graft.psp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Amendment-pipeline relational stages (reference
  * `services/amendments/identifier.py`, `amendment_service.py`,
  * `cache_manager.py`). The scrape/PDF/LLM enrichment stages are external
  * ingestion (SURVEY S9/S10) — their outputs enter here as DataFrames.
  */
object Amendments {

  /** Third-reading candidate detection (A8 + history filter,
    * identifier.py:85-136): (schuze, bod) pairs with >1 non-void vote
    * whose print history contains a `3_cteni` stage.
    * `histories` = (ct, stage_type) rows from the scraped history fixture.
    */
  def thirdReadingCandidates(
      votes: DataFrame,
      voidVotes: DataFrame,
      tiskLookup: DataFrame,
      histories: DataFrame): DataFrame = {
    val multiVote = votes
      .join(voidVotes, Seq("id_hlasovani"), "left_anti")
      .groupBy("schuze", "bod")
      .agg(count(col("id_hlasovani")).as("n_votes"))
      .filter(col("n_votes") > 1)
    val thirdReadingCts = histories
      .filter(col("stage_type") === "3_cteni")
      .select("ct").distinct()
    multiVote
      .join(tiskLookup.select("schuze", "bod", "ct", "nazev"),
        Seq("schuze", "bod"), "inner")
      .join(broadcast(thirdReadingCts), Seq("ct"), "left_semi")
      .select("schuze", "bod", "ct", "nazev", "n_votes")
  }

  /** Vote-number → id_hlasovani resolution (J12, identifier.py:139-163):
    * the reference's per-amendment O(n·m) filter loop is ONE left join on
    * (schuze, cislo); first match = smallest id_hlasovani (deterministic).
    */
  def resolveVoteIds(amendments: DataFrame, votes: DataFrame): DataFrame = {
    val voteKeys = votes
      .groupBy(col("schuze"), col("cislo").as("vote_number"))
      .agg(min(col("id_hlasovani")).as("resolved_id_hlasovani"))
    amendments
      .join(voteKeys, Seq("schuze", "vote_number"), "left")
      .withColumn("id_hlasovani",
        when(col("vote_number") === 0, col("id_hlasovani"))
          .otherwise(coalesce(col("resolved_id_hlasovani"), col("id_hlasovani"))))
      .drop("resolved_id_hlasovani")
  }

  /** Grouped bill reconstruction (A13, cache_manager.py:222-254): the flat
    * amendment fact table nested back into one row per bill with its
    * amendments as a letter-sorted array of structs.
    */
  def collectBills(amendments: DataFrame): DataFrame =
    amendments
      .groupBy("period", "schuze", "bod", "ct")
      .agg(
        sort_array(collect_list(struct(
          col("letter"), col("vote_number"), col("id_hlasovani"),
          col("result"), col("is_revote"), col("is_withdrawn"),
          col("is_final_vote"), col("is_leg_tech"),
          col("submitter_names"), col("grouped_with")))).as("amendments"),
        count(lit(1)).as("amendment_count"),
        max(when(col("is_final_vote"), col("id_hlasovani"))).as("final_vote_id"))

  /** Amendment browser paging (amendment_service.py:76-118): bills with
    * search over print name + pagination.
    */
  /** [[listBills]] with the full paging envelope (the reference's
    * response shape, `amendment_service.py:76-118`).
    */
  def listBillsPaged(
      bills: DataFrame,
      tiskLookup: DataFrame,
      search: Option[String],
      page: Int,
      perPage: Int = 20): graft.operators.Browse.PagedResult = {
    graft.plans.GraftFunctions.ensure(bills.sparkSession)
    var df = bills.join(tiskLookup.select("schuze", "bod", "nazev"),
      Seq("schuze", "bod"), "left")
    search.filter(_.nonEmpty).foreach { q =>
      // reference parity: plain lowercase substring, no diacritic strip
      // (amendment_service.py:98-100)
      df = df.filter(lower(coalesce(col("nazev"), lit("")))
        .contains(q.toLowerCase(java.util.Locale.ROOT)))
    }
    graft.operators.Browse.pageClamped(df, page, perPage,
      col("schuze").desc, col("bod").desc)
  }

  def listBills(
      bills: DataFrame,
      tiskLookup: DataFrame,
      search: Option[String],
      page: Int,
      perPage: Int = 20): DataFrame =
    listBillsPaged(bills, tiskLookup, search, page, perPage).rows

  /** Revote grouping (amendment_service.py:139-165): nest revotes under
    * the most recent preceding primary with the same letter. A row is
    * primary iff it is the first of its letter (in vote order) or not a
    * revote; each revote attaches to the latest primary before it.
    * The reference's sequential dict loop becomes two window passes.
    */
  def groupRevotes(amendments: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val billLetter = Window.partitionBy("schuze", "bod", "letter")
      .orderBy(col("vote_number").asc)
    val withPrimary = amendments
      .withColumn("__rn", row_number().over(billLetter))
      // reference nests only under a TRUTHY letter (amendment_service.py:
      // 154-163): letterless revotes are always top-level
      .withColumn("is_primary",
        col("__rn") === 1 || !col("is_revote") ||
          col("letter").isNull || col("letter") === "")
      .withColumn("attach_to",
        last(when(col("is_primary"), col("vote_number")), ignoreNulls = true)
          .over(billLetter.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val revotes = withPrimary.filter(!col("is_primary"))
      .groupBy(col("schuze"), col("bod"), col("letter"),
        col("attach_to").as("vote_number"))
      .agg(sort_array(collect_list(struct(
        col("vote_number").as("rv_vote_number"), col("id_hlasovani"),
        col("result")))).as("revotes"))
    withPrimary.filter(col("is_primary"))
      .drop("__rn", "is_primary", "attach_to")
      .join(revotes, Seq("schuze", "bod", "letter", "vote_number"), "left")
      .withColumn("revotes", coalesce(col("revotes"), array()))
  }
}
