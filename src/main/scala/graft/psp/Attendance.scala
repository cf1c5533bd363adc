package graft.psp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Attendance analysis (reference `services/attendance_service.py:9-82`):
  * 7 conditional sums + total per MP, attendance_pct =
  * active / (total - excused) * 100, 10 selectable sort metrics.
  */
object Attendance {

  /** sort key → (column, descending) — attendance_service.py:55-67. */
  val sortConfig: Map[String, (String, Boolean)] = Map(
    "worst" -> ("attendance_pct", false),
    "best" -> ("attendance_pct", true),
    "most_active" -> ("active", true),
    "least_active" -> ("active", false),
    "most_abstained" -> ("abstained", true),
    "most_excused" -> ("excused", true),
    "most_passive" -> ("passive", true),
    "most_absent" -> ("absent", true),
    "most_yes" -> ("yes_votes", true),
    "most_no" -> ("no_votes", true))

  def computeAttendance(
      mpVotes: DataFrame,
      voidVotes: DataFrame,
      mpInfo: DataFrame,
      top: Int = 30,
      sort: String = "worst",
      partyFilter: Option[String] = None): DataFrame =
    narrow(base(mpVotes, voidVotes, mpInfo), top, sort, partyFilter)

  /** Every MP's counts joined with mp_info, unfiltered and unordered: all
    * the work that does not depend on a request's parameters.
    */
  def base(mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame): DataFrame = {
    val valid = mpVotes.join(voidVotes, Seq("id_hlasovani"), "left_anti")

    def cnt(cond: Column): Column = sum(when(cond, 1).otherwise(0)).cast("long")
    val v = col("vysledek")

    val perMp = valid.groupBy("id_poslanec").agg(
      cnt(v.isin(VoteResult.Active: _*)).as("active"),
      cnt(v === VoteResult.Yes).as("yes_votes"),
      cnt(v === VoteResult.No).as("no_votes"),
      cnt(v === VoteResult.Abstained).as("abstained"),
      cnt(v === VoteResult.DidNotVote).as("passive"),
      cnt(v === VoteResult.Absent).as("absent"),
      cnt(v === VoteResult.Excused).as("excused"),
      count(lit(1)).as("total"))
      .withColumn("attendance_pct",
        col("active").cast("double") /
          (col("total") - col("excused")).cast("double") * 100.0)

    perMp.join(broadcast(mpInfo), Seq("id_poslanec"), "left")
  }

  /** A request's answer from [[base]]: party filter (case-insensitive),
    * the `sort` key's order (ties by id_poslanec; an unknown key sorts as
    * "worst"), `top` rows.
    */
  def narrow(base: DataFrame, top: Int, sort: String,
      partyFilter: Option[String]): DataFrame = {
    val filtered = partyFilter match {
      case Some(p) => base.filter(upper(col("party")) === p.toUpperCase)
      case None => base
    }

    val (sortCol, desc) = sortConfig.getOrElse(sort, ("attendance_pct", false))
    val order = if (desc) col(sortCol).desc else col(sortCol).asc

    filtered
      .orderBy(order, col("id_poslanec").asc)
      .limit(top)
      .select("jmeno", "prijmeni", "party", "active", "yes_votes", "no_votes",
        "abstained", "passive", "absent", "excused", "attendance_pct")
  }
}
