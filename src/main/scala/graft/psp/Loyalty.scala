package graft.psp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Majority

/** Party loyalty / rebellion analysis (reference
  * `services/loyalty_service.py:9-141`). Program shape is identical; the
  * per-row Python enrichment loop that builds rebellion-vote lists
  * (`loyalty_service.py:87-104`) becomes a join + `collect_list(struct)`
  * BEFORE the driver ever sees a row — no driver-side loops (SURVEY 7.4).
  */
object Loyalty {

  /** @return per-MP rows: jmeno, prijmeni, party, active_votes, rebellions,
    *         rebellion_pct, rebellion_votes (array of structs sorted by
    *         id_hlasovani desc) — ordered worst-rebel first, limit `top`.
    */
  def computeLoyalty(
      votes: DataFrame,
      mpVotes: DataFrame,
      voidVotes: DataFrame,
      mpInfo: DataFrame,
      top: Int = 30,
      partyFilter: Option[String] = None): DataFrame =
    narrow(base(votes, mpVotes, voidVotes, mpInfo), top, partyFilter)

  /** Every MP's joined row, unfiltered and unordered: all the work that
    * does not depend on a request's parameters.
    */
  def base(votes: DataFrame, mpVotes: DataFrame, voidVotes: DataFrame,
      mpInfo: DataFrame): DataFrame = {
    // void exclusion (P4): left_anti scales to any void-list size
    val valid = mpVotes.join(voidVotes, Seq("id_hlasovani"), "left_anti")

    val active = valid
      .filter(col("vysledek").isin(VoteResult.Yes, VoteResult.No))
      .join(broadcast(mpInfo.select("id_poslanec", "id_osoba", "party")),
        Seq("id_poslanec"), "inner")

    val withDir = Majority.withRebellion(
      active, Seq("id_hlasovani", "party"), "vysledek",
      yesCode = VoteResult.Yes, noCode = VoteResult.No)

    // per-MP rebellion-vote detail lists (join first, collect once)
    val rebellionLists = withDir
      .filter(col("is_rebellion") === 1)
      .join(broadcast(votes.select("id_hlasovani", "datum", "nazev_dlouhy", "schuze", "bod")),
        Seq("id_hlasovani"), "left")
      .groupBy("id_poslanec")
      .agg(reverse(sort_array(collect_list(struct(
        col("id_hlasovani"),
        coalesce(col("datum"), lit("")).as("datum"),
        coalesce(col("nazev_dlouhy"), lit("")).as("nazev_dlouhy"),
        col("vysledek").as("mp_vote"),
        col("majority_dir").as("party_direction"),
        col("schuze"), col("bod"))))).as("rebellion_votes"))

    val perMp = Majority.rebellionStats(withDir, Seq("id_poslanec"))
      .withColumnRenamed("rebellion_cnt", "rebellions")
      .withColumnRenamed("total_votes", "active_votes")

    perMp
      .join(broadcast(mpInfo), Seq("id_poslanec"), "left")
      .join(rebellionLists, Seq("id_poslanec"), "left")
      .withColumn("rebellion_votes",
        coalesce(col("rebellion_votes"), array()))
  }

  /** A request's answer from [[base]]: party filter (case-insensitive),
    * worst rebel first (ties by id_poslanec), `top` rows.
    */
  def narrow(base: DataFrame, top: Int, partyFilter: Option[String]): DataFrame = {
    val filtered = partyFilter match {
      case Some(p) => base.filter(upper(col("party")) === p.toUpperCase)
      case None => base
    }

    filtered
      .orderBy(col("rebellion_pct").desc, col("id_poslanec").asc)
      .limit(top)
      .select("id_poslanec", "jmeno", "prijmeni", "party", "active_votes",
        "rebellions", "rebellion_pct", "rebellion_votes")
  }
}
