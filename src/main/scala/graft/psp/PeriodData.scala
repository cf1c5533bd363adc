package graft.psp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Browse
import graft.sources.{ParquetCache, PspSchemas, UnlReader}

/** One electoral period's tables — the reference's `PeriodData`
  * (`models/tisk_models.py:54-79`) as a bundle of DataFrames instead of
  * in-memory Polars frames. [[PeriodLoader.load]] materializes every
  * table, so the bundle is resident like the reference's frames.
  */
case class PeriodData(
    period: Int,
    votes: DataFrame,
    mpVotes: DataFrame,
    voidVotes: DataFrame,
    mpInfo: DataFrame,
    tiskLookup: DataFrame)

/** Period loader — the reference's `DataReader._load_period`
  * (`services/data_reader.py:279-376`): UNL parse → parquet cache →
  * dimension builds, per period. Downloading/unzipping (S1/S2) is outside
  * the engine; this starts from an extracted directory layout:
  *
  * {{{
  *   <root>/poslanci/{osoby,poslanec,organy,zarazeni}.unl
  *   <root>/hl-<period>/hl<y>s.unl, hl<y>h*.unl, zmatecne.unl
  *   <root>/schuze/{schuze,bod_schuze}.unl
  *   <root>/tisky/tisky.unl
  * }}}
  *
  * Each of the five period tables is made [[Resident]] once, here, so a
  * request scans resident blocks instead of re-parsing the windows-1250
  * dump and rebuilding `mpInfo`/`tiskLookup`; load and refresh pay that
  * cost once. A refresh swaps in a new, already materialized
  * `PeriodData`; the old one is left to the ContextCleaner.
  */
object PeriodLoader {

  def load(spark: SparkSession, root: String, period: Int,
      cacheDir: Option[String] = None): PeriodData = {
    def read(sub: String, glob: String, schema: org.apache.spark.sql.types.StructType) = {
      val src = s"$root/$sub"
      val parse = UnlReader.read(spark, s"$src/$glob", schema)
      cacheDir match {
        case Some(c) => ParquetCache.getOrParse(spark, s"$c/$sub-$glob.parquet", src)(parse)
        case None => parse
      }
    }
    val persons = read("poslanci", "osoby.unl", PspSchemas.osoby)
    val mps = read("poslanci", "poslanec.unl", PspSchemas.poslanec)
    val organs = read("poslanci", "organy.unl", PspSchemas.organy)
    val member = read("poslanci", "zarazeni.unl", PspSchemas.zarazeni)
    val votes = Resident(read(s"hl-$period", "hl*s.unl", PspSchemas.hlHlasovani))
    val mpVotes = Resident(read(s"hl-$period", "hl*h*.unl", PspSchemas.hlPoslanec))
    // new periods may not have a void file yet - the reference substitutes
    // an empty frame (data_reader.py:314-327)
    val voids = Resident(
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/hl-$period/zmatecne.unl")))
        read(s"hl-$period", "zmatecne.unl", PspSchemas.zmatecne)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PspSchemas.zmatecne))
    val sessions = read("schuze", "schuze.unl", PspSchemas.schuze)
    val bods = read("schuze", "bod_schuze.unl", PspSchemas.bodSchuze)
    val tisky = read("tisky", "tisky.unl", PspSchemas.tisky)

    val mpInfo = Resident(MpBuilder.buildMpInfo(period, mps, persons, organs, member))
    val lookup = Resident(TiskLookup.build(period, votes, sessions, bods, tisky))
    PeriodData(period, votes, mpVotes, voids, mpInfo, lookup)
  }
}

/** The reference's serving API surface (routes → services) as one
  * facade over a loaded period — a user of the reference can call the
  * same catalog here and get DataFrames back.
  *
  * Each analysis keeps its request-independent work — its `base` —
  * [[Resident]] from its first use for the life of this Analyzer, like
  * the reference's in-memory frames: loyalty, attendance and cross-party
  * similarity narrow theirs to a party, order and `top`; the vote listing,
  * the vote detail and the amendment MP votes filter theirs; the PCA
  * coordinates take no parameters and are the base itself. A refresh
  * builds a new Analyzer, so a base never outlives the data it was built
  * from.
  */
class Analyzer(val data: PeriodData) {
  private val loyaltyBase = new Resident.OnFirstUse(
    Loyalty.base(data.votes, data.mpVotes, data.voidVotes, data.mpInfo))
  private val attendanceBase = new Resident.OnFirstUse(
    Attendance.base(data.mpVotes, data.voidVotes, data.mpInfo))
  private val similarityBase = new Resident.OnFirstUse(
    Similarity.base(data.mpVotes, data.voidVotes, data.mpInfo))
  private val pca = new Resident.OnFirstUse(
    Similarity.computePcaCoords(data.mpVotes, data.voidVotes, data.mpInfo))
  private val votesListBase = new Resident.OnFirstUse(
    VotesBrowser.listBase(data.votes, data.voidVotes))
  private val voteDetailBase = new Resident.OnFirstUse(
    Details.voteDetailBase(data.votes, data.mpVotes, data.mpInfo, data.tiskLookup))

  def loyalty(top: Int = 30, party: Option[String] = None): DataFrame =
    Loyalty.narrow(loyaltyBase(), top, party)

  def attendance(top: Int = 30, sort: String = "worst",
      party: Option[String] = None): DataFrame =
    Attendance.narrow(attendanceBase(), top, sort, party)

  def pcaCoords(): DataFrame = pca()

  def crossPartySimilarity(top: Int = 20): DataFrame =
    Similarity.narrow(similarityBase(), top)

  def listVotesPaged(search: Option[String] = None, outcome: Option[String] = None,
      topicKeys: Option[DataFrame] = None, page: Int = 1,
      perPage: Int = 30): Browse.PagedResult =
    VotesBrowser.listNarrow(votesListBase(), search, outcome, topicKeys, page, perPage)

  def listVotes(search: Option[String] = None, outcome: Option[String] = None,
      topicKeys: Option[DataFrame] = None, page: Int = 1,
      perPage: Int = 30): DataFrame =
    listVotesPaged(search, outcome, topicKeys, page, perPage).rows

  /** One vote's whole detail as one row (`info`, `party_breakdown`,
    * `mp_votes`; see [[Details.voteDetailNarrow]]); 0 rows = unknown vote.
    */
  def voteDetailRow(voteId: Long, lang: String = "cs",
      topics: Option[DataFrame] = None): DataFrame =
    Details.voteDetailNarrow(voteDetailBase(), topics, voteId, lang)

  /** One vote's per-party counts in the reference's field names
    * (party, yes, no, abstained, passive, absent, excused, total), sorted
    * by party.
    */
  def voteDetail(voteId: Long): DataFrame =
    Details.ofVote(voteDetailBase(), voteId).select(inline(col("party_breakdown")))

  /** One vote's (party, prijmeni, jmeno, vysledek) rows, in that order. */
  def voteMpVotes(voteId: Long): DataFrame =
    Details.ofVote(voteDetailBase(), voteId).select(inline(col("mp_votes")))

  /** One amendment vote's header, per-party counts and labeled MP list
    * as one row (see [[Details.amendmentVoteNarrow]]); 0 rows = unknown
    * vote.
    */
  def amendmentVoteRow(voteId: Long): DataFrame =
    Details.amendmentVoteNarrow(voteDetailBase(), voteId)

  def coalitions(amendVoteIds: DataFrame, topRebels: Int = 20)
      : (DataFrame, DataFrame, DataFrame) =
    Coalitions.all(data.mpVotes, data.voidVotes, data.mpInfo, amendVoteIds, topRebels)

  /** Period stats (reference `tisk_models.py:119-141`). */
  def periodStats(): DataFrame = {
    // real psp.cz dates are "18.12.2021"; try_to_date = the reference's
    // strict=False (bad rows -> null, never an ANSI throw)
    val voteStats = data.votes.agg(
      count(lit(1)).as("n_votes"),
      min(try_to_timestamp(col("datum"), lit("d.M.yyyy")).cast("date")).as("first_date"),
      max(try_to_timestamp(col("datum"), lit("d.M.yyyy")).cast("date")).as("last_date"))
    val mpStats = data.mpVotes.agg(count(lit(1)).as("n_mp_records"))
    val mpCount = data.mpInfo.agg(count(lit(1)).as("n_mps"))
    voteStats.crossJoin(mpStats).crossJoin(mpCount)
  }
}

object Analyzer {

  /** The widest `top` any analysis serves: the routes' envelope and the
    * number of pairs the cross-party similarity base keeps.
    */
  val MaxTop = 200
}
