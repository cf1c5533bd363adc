package graft.psp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Majority

/** Amendment-vote coalition analysis (reference
  * `services/amendments/coalition_service.py`): pairwise party agreement
  * on amendment votes (J8+A7), amendment-vs-overall rebels (A5), and
  * per-party cohesion (A6). `amendVoteIds` is a DataFrame(id_hlasovani) —
  * the reference's Python set becomes a broadcast semi-join side.
  */
object Coalitions {

  private def activeWithParty(
      mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame): DataFrame =
    mpVotes
      .join(voidVotes, Seq("id_hlasovani"), "left_anti")
      .filter(col("vysledek").isin(VoteResult.Yes, VoteResult.No))
      .join(broadcast(mpInfo.select("id_poslanec", "party")), Seq("id_poslanec"), "inner")

  // reference parity quirk: the amendment party-agreement path does NOT
  // exclude void votes (coalition_service.py:39-48), unlike rebels and
  // cohesion which do
  private def activeWithPartyNoVoidFilter(
      mpVotes: DataFrame, mpInfo: DataFrame): DataFrame =
    mpVotes
      .filter(col("vysledek").isin(VoteResult.Yes, VoteResult.No))
      .join(broadcast(mpInfo.select("id_poslanec", "party")), Seq("id_poslanec"), "inner")

  /** Pairwise party agreement on amendment votes
    * (coalition_service.py:30-90): majority per (vote, party) restricted
    * to amendment votes, then self-join + triangular dedup.
    * @return party_a, party_b, agreement_rate (sorted desc).
    */
  def partyAgreement(
      mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame,
      amendVoteIds: DataFrame): DataFrame = {
    val active = activeWithPartyNoVoidFilter(mpVotes, mpInfo)
      .join(broadcast(amendVoteIds), Seq("id_hlasovani"), "left_semi")
    val maj = Majority.majorityDirection(
      active, Seq("id_hlasovani", "party"), "vysledek", VoteResult.Yes, VoteResult.No)
    Majority.pairwiseAgreement(maj, "id_hlasovani", "party")
      .select(col("group_a").as("party_a"), col("group_b").as("party_b"),
        col("agreement_rate"))
      .orderBy(col("agreement_rate").desc, col("party_a").asc, col("party_b").asc)
  }

  /** Amendment rebels (coalition_service.py:93-205): per-MP amendment
    * rebellion pct vs overall rebellion pct, min-support amend_votes >= 5,
    * top-N by the difference.
    */
  def amendmentRebels(
      mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame,
      amendVoteIds: DataFrame, topN: Int = 20): DataFrame =
    rebelsFrom(
      Majority.withRebellion(
        activeWithParty(mpVotes, voidVotes, mpInfo),
        Seq("id_hlasovani", "party"), "vysledek", VoteResult.Yes, VoteResult.No),
      mpInfo, amendVoteIds, topN)

  private def rebelsFrom(
      withRebellion: DataFrame, mpInfo: DataFrame,
      amendVoteIds: DataFrame, topN: Int): DataFrame = {
    val withDir = withRebellion
      .join(broadcast(amendVoteIds.select(col("id_hlasovani"), lit(1).as("__amend"))),
        Seq("id_hlasovani"), "left")
      .withColumn("is_amendment", col("__amend").isNotNull)

    val perMp = withDir.groupBy("id_poslanec").agg(
      sum(col("is_rebellion")).cast("long").as("total_rebellions"),
      count(lit(1)).as("total_votes"),
      sum(when(col("is_rebellion") === 1 && col("is_amendment"), 1).otherwise(0))
        .cast("long").as("amend_rebellions"),
      sum(when(col("is_amendment"), 1).otherwise(0)).cast("long").as("amend_votes"))
      .withColumn("overall_rebellion_pct",
        col("total_rebellions").cast("double") / col("total_votes").cast("double") * 100.0)
      .withColumn("amend_rebellion_pct",
        when(col("amend_votes") > 0,
          col("amend_rebellions").cast("double") / col("amend_votes").cast("double") * 100.0)
          .otherwise(0.0))
      .withColumn("rebellion_diff",
        col("amend_rebellion_pct") - col("overall_rebellion_pct"))
      .filter(col("amend_votes") >= 5)

    perMp
      .orderBy(col("rebellion_diff").desc, col("id_poslanec").asc)
      .limit(topN)
      .join(broadcast(mpInfo.select("id_poslanec", "jmeno", "prijmeni", "party")),
        Seq("id_poslanec"), "left")
      .select("jmeno", "prijmeni", "party", "total_votes", "total_rebellions",
        "overall_rebellion_pct", "amend_votes", "amend_rebellions",
        "amend_rebellion_pct", "rebellion_diff")
  }

  /** All three coalition outputs with the shared rebellion relation
    * computed once and kept [[Resident]] (rebels and cohesion both consume
    * withRebellion(active) — separately they shuffle the fact table
    * twice for the same intermediate); the ContextCleaner frees it with
    * the returned frames.
    */
  def all(
      mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame,
      amendVoteIds: DataFrame, topRebels: Int = 20)
      : (DataFrame, DataFrame, DataFrame) = {
    val active = activeWithParty(mpVotes, voidVotes, mpInfo)
    val withDir = Resident(Majority.withRebellion(
      active, Seq("id_hlasovani", "party"), "vysledek", VoteResult.Yes, VoteResult.No))
    (partyAgreement(mpVotes, voidVotes, mpInfo, amendVoteIds),
      rebelsFrom(withDir, mpInfo, amendVoteIds, topRebels),
      cohesionFrom(withDir, amendVoteIds))
  }

  /** Per-party cohesion (coalition_service.py:208-290): mean
    * with-majority share overall and on amendment votes (conditional mean
    * — Spark avg ignores nulls, matching Polars).
    */
  def partyCohesion(
      mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame,
      amendVoteIds: DataFrame): DataFrame =
    cohesionFrom(
      Majority.withRebellion(
        activeWithParty(mpVotes, voidVotes, mpInfo),
        Seq("id_hlasovani", "party"), "vysledek", VoteResult.Yes, VoteResult.No),
      amendVoteIds)

  private def cohesionFrom(
      withRebellion: DataFrame, amendVoteIds: DataFrame): DataFrame = {
    val withDir = withRebellion
      .withColumn("with_majority", (col("is_rebellion") === 0).cast("double"))
      .join(broadcast(amendVoteIds.select(col("id_hlasovani"), lit(1).as("__amend"))),
        Seq("id_hlasovani"), "left")
      .withColumn("is_amendment", col("__amend").isNotNull)

    withDir.groupBy("party").agg(
      avg(col("with_majority")).as("overall_cohesion"),
      avg(when(col("is_amendment"), col("with_majority"))).as("amend_cohesion"),
      count(lit(1)).as("total_votes"),
      sum(when(col("is_amendment"), 1).otherwise(0)).cast("long").as("amend_votes"))
      .orderBy(col("amend_cohesion").asc_nulls_first, col("party").asc)
  }
}
