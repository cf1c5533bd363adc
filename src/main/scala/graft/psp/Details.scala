package graft.psp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-entity detail queries behind the serving layer's
  * `/api/votes/{id}`, `/api/laws/{ct}` and
  * `/api/amendments/{schuze}/{bod}` routes (reference
  * `services/votes_service.py:303-319`, `services/law_service.py:247-312`,
  * `services/amendment_service.py:168-246`). Each is a bounded
  * single-key lookup: an equality filter on the fact table plus
  * broadcast joins against the small dimensions. The served lookups
  * compare their key as text ([[keyIs]]), so every key reuses one
  * compiled plan; their tables are resident or in memory, where there is
  * no scan to push a filter into. A vote's detail is served whole from a
  * resident [[voteDetailBase]] narrowed by [[voteDetailNarrow]]: one
  * filter, no per-request join.
  */
object Details {

  /** Vote outcome code → localized label (reference `_OUTCOME_KEYS`,
    * `votes_service.py:15-29`, resolved against
    * `i18n/translations.py:293-297,635-639`).
    */
  val OutcomeLabels: Map[String, Map[String, String]] = Map(
    "cs" -> Map(
      "A" -> "Schváleno", "R" -> "Zamítnuto", "Z" -> "Neplatné",
      "P" -> "Procedurální", "N" -> "Nerozhodnuto"),
    "en" -> Map(
      "A" -> "Passed", "R" -> "Rejected", "Z" -> "Void",
      "P" -> "Procedural", "N" -> "Not decided"))

  /** Per-MP vote code → label on the vote-detail page
    * (`votes_service.py:285-292` — language-invariant).
    */
  val MpVoteLabels: Map[String, String] = Map(
    VoteResult.Yes -> "YES", VoteResult.No -> "NO",
    VoteResult.Abstained -> "ABSTAINED", VoteResult.DidNotVote -> "Passive",
    VoteResult.Absent -> "Absent", VoteResult.Excused -> "Excused")

  /** Unknown code → the code itself; null/empty → "?" (reference
    * `_outcome_label` fallback).
    */
  private def labelCol(c: Column, labels: Map[String, String]): Column = {
    val mapped = labels.foldLeft(lit(null).cast("string")) {
      case (acc, (code, label)) => when(c === code, label).otherwise(acc)
    }
    coalesce(mapped, when(c.isNull || c === "", "?").otherwise(c))
  }

  def outcomeLabel(c: Column, lang: String): Column =
    labelCol(c, OutcomeLabels.getOrElse(lang, OutcomeLabels("cs")))

  def mpVoteLabel(c: Column): Column = labelCol(c, MpVoteLabels)

  /** Amendment pages label F as DID_NOT_VOTE, not Passive
    * (`amendment_service.py:249-273` vs `votes_service.py:285-292`).
    */
  val AmendmentVoteLabels: Map[String, String] =
    MpVoteLabels + (VoteResult.DidNotVote -> "DID_NOT_VOTE")

  def amendmentVoteLabel(c: Column): Column = labelCol(c, AmendmentVoteLabels)

  /** Language-resolved topic column: `topic_en` when present AND lang=en,
    * else `topic` (reference `tisk.topics_en if lang == "en" and
    * tisk.topics_en else tisk.topics`).
    */
  private def langCol(df: DataFrame, cs: String, en: String,
      lang: String): Column =
    if (lang == "en" && df.columns.contains(en))
      // the reference treats "" as missing (`summary_en if ... and
      // summary_en else summary` — Python falsiness)
      when(col(en).isNotNull && col(en) =!= "", col(en)).otherwise(col(cs))
    else col(cs)

  /** Per-party count fields of `party_breakdown`, in the reference's
    * names (`amendment_service.py:299-314`), with the vote code each
    * counts; `total` counts every MP row of the party.
    */
  val BreakdownCounts: Seq[(String, String)] = Seq(
    "yes" -> VoteResult.Yes, "no" -> VoteResult.No,
    "abstained" -> VoteResult.Abstained, "passive" -> VoteResult.DidNotVote,
    "absent" -> VoteResult.Absent, "excused" -> VoteResult.Excused)

  /** Every vote's info columns: null-filled names and the linked print
    * name, kept only when `bod > 0` (the reference's guard).
    */
  private def infoBase(votes: DataFrame, tiskLookup: DataFrame): DataFrame =
    votes
      .withColumn("nazev_dlouhy", coalesce(col("nazev_dlouhy"), lit("")))
      .withColumn("nazev_kratky", coalesce(col("nazev_kratky"), lit("")))
      .join(broadcast(tiskLookup.select(col("schuze"), col("bod"),
        col("nazev").as("tisk_nazev"))), Seq("schuze", "bod"), "left")
      .withColumn("tisk_nazev", when(col("bod") > 0, col("tisk_nazev")))

  /** One row per vote that has MP rows (MPs of `mpInfo` only):
    * `mp_votes`, every (party, prijmeni, jmeno, vysledek) sorted by that
    * whole key, and `party_breakdown`, its per-party counts sorted by
    * party. One shuffle: the breakdown is counted off the sorted array.
    */
  private[psp] def mpArrays(mpVotes: DataFrame, mpInfo: DataFrame): DataFrame = {
    val perVote = mpVotes
      .join(broadcast(mpInfo.select("id_poslanec", "party", "prijmeni", "jmeno")),
        Seq("id_poslanec"), "inner")
      .groupBy("id_hlasovani")
      .agg(sort_array(collect_list(struct(col("party"), col("prijmeni"),
        col("jmeno"), col("vysledek")))).as("mp_votes"))
    // a sorted array's distinct parties come out sorted (a null party first)
    val breakdown = transform(
      array_distinct(transform(col("mp_votes"), _.getField("party"))), { p =>
        val ofParty = filter(col("mp_votes"), _.getField("party") <=> p)
        val counts = BreakdownCounts.map { case (name, code) =>
          size(filter(ofParty, _.getField("vysledek") === code)).cast("long").as(name)
        }
        struct(p.as("party") +: counts :+ size(ofParty).cast("long").as("total"): _*)
      })
    perVote.select(col("id_hlasovani"), breakdown.as("party_breakdown"), col("mp_votes"))
  }

  /** The request-independent part of every vote's detail, one row per
    * vote: [[infoBase]]'s columns, `party_breakdown` and `mp_votes`
    * ([[mpArrays]]; empty for a vote without MP rows). No labels: those
    * depend on the request's language.
    */
  def voteDetailBase(votes: DataFrame, mpVotes: DataFrame, mpInfo: DataFrame,
      tiskLookup: DataFrame): DataFrame = {
    val info = infoBase(votes, tiskLookup)
    val arrays = mpArrays(mpVotes, mpInfo)
    def orEmpty(c: String) =
      coalesce(col(c), array().cast(arrays.schema(c).dataType)).as(c)
    info.join(arrays, Seq("id_hlasovani"), "left")
      .select(info.columns.map(col) :+ orEmpty("party_breakdown") :+ orEmpty("mp_votes"): _*)
  }

  /** One vote's info columns, in [[voteInfo]]'s order, from that vote's
    * rows of a base that starts with [[infoBase]]'s: the localized outcome
    * label and the print's topics (only when `bod > 0`) added; any further
    * base columns carried after them.
    */
  private def infoNarrow(one: DataFrame, topics: Option[DataFrame],
      lang: String): DataFrame = {
    val withTopics = topics match {
      case Some(t) =>
        val perKey = t
          .groupBy("schuze", "bod")
          .agg(sort_array(collect_set(langCol(t, "topic", "topic_en", lang)))
            .as("tisk_topics"))
        one.join(broadcast(perKey), Seq("schuze", "bod"), "left")
      case None => one.withColumn("tisk_topics", lit(null).cast("array<string>"))
    }
    val carried = Set("tisk_nazev", "tisk_topics", "party_breakdown", "mp_votes")
    withTopics.select(withTopics.columns.filterNot(carried).map(col) ++ Seq(
        outcomeLabel(col("vysledek"), lang).as("outcome_label"),
        col("tisk_nazev"),
        when(col("bod") > 0, coalesce(col("tisk_topics"), array()))
          .otherwise(array()).as("tisk_topics")) ++
      one.columns.filter(Set("party_breakdown", "mp_votes")).map(col): _*)
  }

  /** `c` equals the key `v`, compared as text: a numeric literal is
    * inlined into the generated code, so every key would compile new
    * classes, while a string literal is passed by reference and every key
    * reuses one compiled plan. For resident or in-memory tables only: the
    * cast defeats a file scan's filter pushdown.
    */
  private def keyIs(c: String, v: Any): Column = col(c).cast("string") === v.toString

  /** Rows of `base` for one vote ([[keyIs]]). */
  private[psp] def ofVote(base: DataFrame, voteId: Long): DataFrame =
    base.filter(keyIs("id_hlasovani", voteId))

  /** One vote's detail from [[voteDetailBase]] as a single row of `info`
    * (a struct of [[voteInfo]]'s columns), `party_breakdown` and
    * `mp_votes` (each MP's `vote_label` added); 0 rows = unknown vote.
    * A filter and a projection over the base: no join, no aggregation
    * unless `topics` is given.
    */
  def voteDetailNarrow(base: DataFrame, topics: Option[DataFrame],
      voteId: Long, lang: String): DataFrame = {
    val one = infoNarrow(ofVote(base, voteId), topics, lang)
    val info = one.columns.filterNot(Set("party_breakdown", "mp_votes"))
    one.select(struct(info.map(col): _*).as("info"), col("party_breakdown"),
      labeledMps(v => Seq(mpVoteLabel(v).as("vote_label"))))
  }

  /** [[voteDetailBase]]'s `mp_votes`, each MP's struct extended by
    * `labels` of its vote code.
    */
  private def labeledMps(labels: Column => Seq[Column]): Column =
    transform(col("mp_votes"), m => struct(
      Seq("party", "prijmeni", "jmeno", "vysledek").map(f => m.getField(f).as(f)) ++
        labels(m.getField("vysledek")): _*)).as("mp_votes")

  /** One amendment vote's MP-votes page from [[voteDetailBase]]
    * (`amendment_service.py:275-339`) as a single row: the `vote` header
    * (id and counts), `party_breakdown`, and `mp_votes` with each MP's
    * `vote_code` and amendment-style `vote_label`; 0 rows = unknown vote.
    */
  def amendmentVoteNarrow(base: DataFrame, voteId: Long): DataFrame =
    ofVote(base, voteId).select(
      struct(Seq("id_hlasovani", "pro", "proti", "zdrzel", "nehlasoval", "vysledek")
        .map(col): _*).as("vote"),
      col("party_breakdown"),
      labeledMps(v => Seq(v.as("vote_code"), amendmentVoteLabel(v).as("vote_label"))))

  /** Vote metadata for one `id_hlasovani` (`_build_vote_info`,
    * `votes_service.py:207-262` minus the scrape-side history matching):
    * null-filled names, localized outcome label, linked print name and
    * topics via the tisk lookup (only when `bod > 0`, like the
    * reference's guard). 0 rows = unknown vote (the route's 404).
    */
  def voteInfo(
      votes: DataFrame,
      tiskLookup: DataFrame,
      topics: Option[DataFrame],
      voteId: Long,
      lang: String = "cs"): DataFrame =
    infoNarrow(infoBase(votes.filter(col("id_hlasovani") === voteId), tiskLookup),
      topics, lang)

  /** Per-MP listing for the vote-detail page (`_build_mp_breakdown`,
    * `votes_service.py:283-300`): names + party + label, sorted
    * (party, prijmeni, jmeno, vysledek).
    */
  def voteMpList(mpVotes: DataFrame, mpInfo: DataFrame,
      voteId: Long): DataFrame =
    VotesBrowser.voteMpVotes(mpVotes, mpInfo, voteId)
      .withColumn("vote_label", mpVoteLabel(col("vysledek")))

  /** One bill's detail by print number (`law_service.py:247-312`):
    * language-resolved topics/summary, its amendment agenda entries from
    * the bills fact table, and `has_amendments`. 0 rows = unknown ct.
    * `laws` may carry optional `topics_en` / `summary` / `summary_en`
    * columns (TopicPipeline output, TopicPipeline.scala:69); absent
    * columns degrade to the Czech value / empty string.
    */
  def lawDetail(
      laws: DataFrame,
      bills: Option[DataFrame],
      ct: Int,
      lang: String = "cs"): DataFrame = {
    val summaryCol =
      if (laws.columns.contains("summary"))
        langCol(laws, "summary", "summary_en", lang)
      else lit("")
    val law = LawsBrowser.inLang(LawsBrowser.dedupeLaws(laws).filter(keyIs("ct", ct)), lang)
      .withColumn("summary", summaryCol)
      .drop("topics_en", "summary_en")
    val entries = bills match {
      case Some(b) =>
        // bill agenda entries for this print (`amendment_entries` in the
        // reference's dict); ct arrives as string in the scraped fact
        // table, as int here — compare canonically
        b.filter(keyIs("ct", ct))
          .groupBy(col("ct").cast("string").as("__ct"))
          .agg(sort_array(collect_list(struct(col("schuze"), col("bod"))))
            .as("amendment_entries"))
      case None =>
        law.sparkSession.emptyDataFrame
          .withColumn("__ct", lit(null).cast("string"))
          .withColumn("amendment_entries",
            lit(null).cast("array<struct<schuze:int,bod:int>>"))
    }
    law
      .join(broadcast(entries), col("ct").cast("string") === col("__ct"), "left")
      .drop("__ct")
      .withColumn("amendment_entries",
        coalesce(col("amendment_entries"),
          array().cast("array<struct<schuze:int,bod:int>>")))
      .withColumn("has_amendments", size(col("amendment_entries")) > 0)
  }

  /** One bill's amendment roll-up for `/api/amendments/{schuze}/{bod}`
    * (`amendment_service.py:168-246`): the flat fact rows for that agenda
    * item nested via [[Amendments.groupRevotes]], primaries in vote
    * order. 0 rows = unknown (schuze, bod).
    */
  def amendmentDetail(facts: DataFrame, schuze: Int, bod: Int): DataFrame =
    Amendments.groupRevotes(ofAgendaItem(facts, schuze, bod))
      .orderBy(col("vote_number").asc)

  /** The fact rows of one agenda item (schuze, bod), keys compared as
    * text ([[keyIs]]).
    */
  def ofAgendaItem(facts: DataFrame, schuze: Int, bod: Int): DataFrame =
    facts.filter(keyIs("schuze", schuze) && keyIs("bod", bod))
}
