package graft.psp

import java.util.concurrent.{ExecutionException, Executors}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Browse, Profiles}
import graft.plans.GraftFunctions

/** The vote detail and the vote listing are served by narrowing bases an
  * [[Analyzer]] keeps resident. Every answer must equal, row for row, the
  * filter-first formulation each replaced (kept below as the oracle), on
  * a fixture with void votes, a vote without MP rows, MPs without a party,
  * MPs tied on (party, prijmeni, jmeno), a procedural (bod 0) vote, null
  * names and a title matched only by its short name.
  */
class VoteBaseSpec extends SparkSpec {
  import VoteBaseSpec._

  private lazy val data: PeriodData = {
    import spark.implicits._
    val votes = Seq(
      (1L, 1, 1, "A", Some("Hlasování o rozpočtu"), Some("Rozpočet")),
      (2L, 1, 2, "R", Some("Návrh zákona o daních"), Some("Daně")),
      (3L, 1, 0, "A", Some("Procedurální hlasování"), None),
      (4L, 2, 1, "A", None, Some("Školství")),
      (5L, 2, 2, "R", Some("Hlasovani bez diakritiky"), Some("HBD")),
      (6L, 2, 3, "A", Some("Zmatečné hlasování"), Some("ZH")),
      (7L, 3, 1, "A", Some("Hlasování o tisku"), Some("Tisk")),
      (8L, 3, 2, "R", Some("Změna zákona"), Some("Změna")),
      (9L, 3, 1, "N", Some("Hlasování o tisku znovu"), Some("Tisk 2")))
      .map { case (id, schuze, bod, vysledek, dlouhy, kratky) =>
        (id, 174, schuze, id.toInt, bod, "10.1.2024", "10:00", 100, 50, 10, 20,
          180, 90, "N", vysledek, dlouhy.orNull, kratky.orNull)
      }.toDF("id_hlasovani", "id_organ", "schuze", "cislo", "bod", "datum",
        "cas", "pro", "proti", "zdrzel", "nehlasoval", "prihlaseno", "kvorum",
        "druh_hlasovani", "vysledek", "nazev_dlouhy", "nazev_kratky")
    // MPs 1 and 4 tie on (party, prijmeni, jmeno); 5 and 6 have no party
    val mps = Seq(
      (1L, "Jan", "Novák", Some("ANO")), (2L, "Petr", "Svoboda", Some("ANO")),
      (3L, "Karel", "Dvořák", Some("ODS")), (4L, "Jan", "Novák", Some("ANO")),
      (5L, "Marie", "Nová", None), (6L, "Eva", "Malá", None),
      (7L, "Tomáš", "Bílý", Some("STAN")))
    val mpInfo = mps.map { case (id, jmeno, prijmeni, party) =>
      (id, 100L + id, jmeno, prijmeni, party.orNull)
    }.toDF("id_poslanec", "id_osoba", "jmeno", "prijmeni", "party")
    // every code, W/K (counted in `total` only) and a null code; MP 99 is
    // not in mpInfo; vote 7 has no MP rows
    val codes = Seq("A", "B", "C", "F", "@", "M", "W", "K", null)
    val key = mps.map { case (id, j, p, party) => id -> (party.getOrElse(""), p, j) }.toMap
    val rows = for (v <- (1L to 9L).filter(_ != 7L); m <- mps.map(_._1) :+ 99L)
      yield (m, v, codes(((v * 3 + m) % codes.size).toInt))
    // stored in one partition in the reverse of the (party, prijmeni,
    // jmeno, vysledek) order the base promises, so neither input order
    // nor a sort that stops short of `vysledek` can pass for it
    val reversed = rows.sortBy { case (m, v, c) =>
      (v, key.getOrElse(m, ("~", "", "")), Option(c).getOrElse(""))
    }(Ordering.Tuple3(Ordering.Long, Ordering.Tuple3[String, String, String],
      Ordering.String).reverse)
    val mpVotes = Resident(reversed.toDF("id_poslanec", "id_hlasovani", "vysledek").coalesce(1))
    val tisk = Seq((1, 1, "Tisk o rozpočtu"), (1, 0, "Tisk bodu nula"),
      (3, 1, "Tisk sedm"), (2, 2, "Tisk o daních")).toDF("schuze", "bod", "nazev")
    PeriodData(10, votes, mpVotes, Seq(6L).toDF("id_hlasovani"), mpInfo, tisk)
  }

  private lazy val topics: DataFrame = {
    import spark.implicits._
    Seq((1, 1, "finance", "public finance"), (1, 1, "budget", null),
      (3, 1, "education", ""), (1, 0, "procedural", "procedural en"))
      .toDF("schuze", "bod", "topic", "topic_en")
  }

  private def eachCase[V](cases: Seq[V])(check: V => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    try cases.map(c => pool.submit(() => { check(c); c })).foreach { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    } finally pool.shutdownNow()
  }

  test("the fixture has what the detail check needs: a void vote, a vote " +
      "without MP rows, null parties and (party, prijmeni, jmeno) ties") {
    assert(data.voidVotes.collect().map(_.getLong(0)).toSeq == Seq(6L))
    assert(data.mpVotes.filter(col("id_hlasovani") === 7L).isEmpty)
    val an = new Analyzer(data)
    val mp1 = an.voteMpVotes(1L).collect().toSeq
    assert(mp1.exists(_.isNullAt(0)), "no MP without a party")
    val tied = mp1.groupBy(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(tied.exists(_._2.map(_.getString(3)).distinct.size > 1),
      "no tie that only vysledek breaks")
  }

  test("vote detail: every vote, cs and en, with and without topics, " +
      "narrowed from one resident base equals the filter-first queries") {
    val longLived = new Analyzer(data)
    val cases = for (id <- 0L to 10L; lang <- Seq("cs", "en");
        t <- Seq(None, Some(topics))) yield (id, lang, t)
    eachCase(cases) { case (id, lang, t) =>
      val what = s"vote $id lang=$lang topics=${t.isDefined}"
      val want = oracleDetail(data, t, id, lang)
      assert(longLived.voteDetailRow(id, lang, t).collect().toSeq == want, what)
      assert(new Analyzer(data).voteDetailRow(id, lang, t).collect().toSeq == want, what)
      assert(Details.voteInfo(data.votes, data.tiskLookup, t, id, lang).collect().toSeq ==
        headVoteInfo(data.votes, data.tiskLookup, t, id, lang).collect().toSeq, what)
    }
    // the unknown ids answer 0 rows, the known ones 1
    assert((0L to 10L).map(longLived.voteDetailRow(_).count()) ==
      Seq(0L) ++ Seq.fill(9)(1L) ++ Seq(0L))
  }

  test("vote detail projections: partyBreakdown, voteMpList and the " +
      "Analyzer's per-vote frames equal the filter-first queries") {
    val an = new Analyzer(data)
    eachCase(0L to 10L) { id =>
      val breakdown = headPartyBreakdown(data.mpVotes, data.mpInfo, id).collect().toSeq
      val mps = headVoteMpList(data.mpVotes, data.mpInfo, id).collect().toSeq
      assert(VotesBrowser.partyBreakdown(data.mpVotes, data.mpInfo, id).collect().toSeq ==
        breakdown, s"partyBreakdown $id")
      assert(Details.voteMpList(data.mpVotes, data.mpInfo, id).collect().toSeq == mps,
        s"voteMpList $id")
      assert(an.voteDetail(id).collect().toSeq == breakdown, s"voteDetail $id")
      assert(an.voteMpVotes(id).collect().toSeq == mps.map(r => Row(r.toSeq.init: _*)),
        s"voteMpVotes $id")
    }
  }

  test("vote listing: every search x outcome x topic x page cell from one " +
      "resident base equals a fresh listVotesPaged and the filter-first query") {
    import spark.implicits._
    val longLived = new Analyzer(data)
    val searches = Seq(None, Some("Hlasování"), Some("hlasovani"), Some("Rozpočet"),
      Some("xyz"))
    val keys = topics.filter(col("topic") === "finance").select("schuze", "bod")
    val perPage = 2
    val cells = for (search <- searches; outcome <- Seq(None, Some("A"), Some("R"));
        topic <- Seq(None, Some(keys))) yield (search, outcome, topic)
    eachCase(cells) { case (search, outcome, topic) =>
      val total = headListVotesPaged(data.votes, data.voidVotes, search, outcome, topic,
        1, perPage).total
      val last = math.max(1, ((total + perPage - 1) / perPage).toInt)
      Seq(1, last, last + 1).foreach { page =>
        val what = s"search=$search outcome=$outcome topic=${topic.isDefined} page=$page"
        val want = headListVotesPaged(data.votes, data.voidVotes, search, outcome, topic,
          page, perPage)
        Seq(
          longLived.listVotesPaged(search, outcome, topic, page, perPage),
          VotesBrowser.listVotesPaged(spark, data.votes, data.voidVotes, search, outcome,
            topic, page, perPage)).foreach { got =>
          assert((got.total, got.page, got.perPage, got.totalPages) ==
            (want.total, want.page, want.perPage, want.totalPages), what)
          assert(got.rows.collect().toSeq == want.rows.collect().toSeq, what)
        }
      }
    }
    // the grid reaches every filter: a short-name-only match, a diacritic
    // search, an empty answer, and a void vote never listed
    def ids(search: String) = longLived.listVotesPaged(Some(search), perPage = 100)
      .rows.select("id_hlasovani").as[Long].collect().toSeq
    assert(ids("Rozpočet") == Seq(1L))
    assert(ids("Hlasování") == Seq(9L, 7L, 5L, 3L, 1L))
    assert(ids("xyz").isEmpty)
  }
}

object VoteBaseSpec {

  /** What `/api/votes/{id}` served before the detail base: three queries,
    * each filtering on the id first; the MP list in its whole key's order.
    */
  def oracleDetail(d: PeriodData, topics: Option[DataFrame], id: Long,
      lang: String): Seq[Row] = {
    val info = headVoteInfo(d.votes, d.tiskLookup, topics, id, lang).collect().toSeq
    val breakdown = headPartyBreakdown(d.mpVotes, d.mpInfo, id).collect().toSeq
    val mps = headVoteMpList(d.mpVotes, d.mpInfo, id).collect().toSeq
    info.map(i => Row(i, breakdown, mps))
  }

  private def langCol(df: DataFrame, cs: String, en: String, lang: String): Column =
    if (lang == "en" && df.columns.contains(en))
      when(col(en).isNotNull && col(en) =!= "", col(en)).otherwise(col(cs))
    else col(cs)

  def headVoteInfo(votes: DataFrame, tiskLookup: DataFrame, topics: Option[DataFrame],
      voteId: Long, lang: String): DataFrame = {
    val base = votes
      .filter(col("id_hlasovani") === voteId)
      .withColumn("nazev_dlouhy", coalesce(col("nazev_dlouhy"), lit("")))
      .withColumn("nazev_kratky", coalesce(col("nazev_kratky"), lit("")))
      .withColumn("outcome_label", Details.outcomeLabel(col("vysledek"), lang))
    val withTisk = base
      .join(broadcast(tiskLookup.select(col("schuze"), col("bod"),
        col("nazev").as("tisk_nazev"))), Seq("schuze", "bod"), "left")
      .withColumn("tisk_nazev", when(col("bod") > 0, col("tisk_nazev")))
    val withTopics = topics match {
      case Some(t) =>
        val perKey = t.groupBy("schuze", "bod")
          .agg(sort_array(collect_set(langCol(t, "topic", "topic_en", lang)))
            .as("tisk_topics"))
        withTisk.join(broadcast(perKey), Seq("schuze", "bod"), "left")
      case None => withTisk.withColumn("tisk_topics", lit(null).cast("array<string>"))
    }
    withTopics.withColumn("tisk_topics",
      when(col("bod") > 0, coalesce(col("tisk_topics"), array())).otherwise(array()))
  }

  /** Per-party counts in the reference's field names, sorted by party. */
  def headPartyBreakdown(mpVotes: DataFrame, mpInfo: DataFrame, voteId: Long): DataFrame =
    Profiles.categoricalProfile(
        mpVotes.filter(col("id_hlasovani") === voteId)
          .join(broadcast(mpInfo.select("id_poslanec", "party")), Seq("id_poslanec"), "inner"),
        Seq("party"), "vysledek",
        Seq(VoteResult.Yes, VoteResult.No, VoteResult.Abstained,
          VoteResult.DidNotVote, VoteResult.Absent, VoteResult.Excused))
      .orderBy("party")
      .select(col("party"), col("a_cnt").as("yes"), col("b_cnt").as("no"),
        col("c_cnt").as("abstained"), col("f_cnt").as("passive"),
        col("@_cnt").as("absent"), col("m_cnt").as("excused"), col("total_cnt").as("total"))

  def headVoteMpList(mpVotes: DataFrame, mpInfo: DataFrame, voteId: Long): DataFrame =
    mpVotes.filter(col("id_hlasovani") === voteId)
      .join(broadcast(mpInfo), Seq("id_poslanec"), "inner")
      .select("party", "prijmeni", "jmeno", "vysledek")
      .orderBy("party", "prijmeni", "jmeno", "vysledek")
      .withColumn("vote_label", Details.mpVoteLabel(col("vysledek")))

  def headListVotesPaged(votes: DataFrame, voidVotes: DataFrame, search: Option[String],
      outcome: Option[String], topicKeys: Option[DataFrame], page: Int,
      perPage: Int): Browse.PagedResult = {
    GraftFunctions.ensure(votes.sparkSession)
    def norm(c: Column) = lower(call_function("strip_diacritics", c))
    var df = votes
      .join(voidVotes, Seq("id_hlasovani"), "left_anti")
      .withColumn("nazev_dlouhy", coalesce(col("nazev_dlouhy"), lit("")))
      .withColumn("nazev_kratky", coalesce(col("nazev_kratky"), lit("")))
    search.filter(_.nonEmpty).foreach { q =>
      val needle = graft.functions.TextNorm.normalizeSearch(q)
      df = df.filter(norm(col("nazev_dlouhy")).contains(needle) ||
        norm(col("nazev_kratky")).contains(needle))
    }
    outcome.foreach { o => df = df.filter(col("vysledek") === o) }
    topicKeys.foreach { keys => df = df.join(keys, Seq("schuze", "bod"), "left_semi") }
    Browse.pageClamped(df, page, perPage, col("id_hlasovani").desc)
  }
}
