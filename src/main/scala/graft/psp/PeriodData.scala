package graft.psp

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Each of the five period tables is materialized once, here, with an
  * eager `localCheckpoint` (MEMORY_AND_DISK: blocks spill to disk under
  * memory pressure instead of being lost). Its lineage is cut, so a
  * request scans resident blocks instead of re-parsing the windows-1250
  * dump and rebuilding `mpInfo`/`tiskLookup`; load and refresh pay that
  * cost once. A refresh swaps in a new, already materialized
  * `PeriodData`. The old one is never unpersisted explicitly — a request
  * still running on it would lose its blocks — the ContextCleaner frees
  * them once nothing references it.
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
    val votes = resident(read(s"hl-$period", "hl*s.unl", PspSchemas.hlHlasovani))
    val mpVotes = resident(read(s"hl-$period", "hl*h*.unl", PspSchemas.hlPoslanec))
    // new periods may not have a void file yet - the reference substitutes
    // an empty frame (data_reader.py:314-327)
    val voids = resident(
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/hl-$period/zmatecne.unl")))
        read(s"hl-$period", "zmatecne.unl", PspSchemas.zmatecne)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PspSchemas.zmatecne))
    val sessions = read("schuze", "schuze.unl", PspSchemas.schuze)
    val bods = read("schuze", "bod_schuze.unl", PspSchemas.bodSchuze)
    val tisky = read("tisky", "tisky.unl", PspSchemas.tisky)

    val mpInfo = resident(MpBuilder.buildMpInfo(period, mps, persons, organs, member))
    val lookup = resident(TiskLookup.build(period, votes, sessions, bods, tisky))
    PeriodData(period, votes, mpVotes, voids, mpInfo, lookup)
  }

  private def resident(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** The reference's serving API surface (routes → services) as one
  * facade over a loaded period — a user of the reference can call the
  * same catalog here and get DataFrames back.
  */
class Analyzer(val data: PeriodData) {
  def loyalty(top: Int = 30, party: Option[String] = None): DataFrame =
    Loyalty.computeLoyalty(data.votes, data.mpVotes, data.voidVotes,
      data.mpInfo, top, party)

  def attendance(top: Int = 30, sort: String = "worst",
      party: Option[String] = None): DataFrame =
    Attendance.computeAttendance(data.mpVotes, data.voidVotes, data.mpInfo,
      top, sort, party)

  def pcaCoords(): DataFrame =
    Similarity.computePcaCoords(data.mpVotes, data.voidVotes, data.mpInfo)

  def crossPartySimilarity(top: Int = 20): DataFrame =
    Similarity.crossPartySimilarity(data.mpVotes, data.voidVotes, data.mpInfo, top)

  def listVotes(search: Option[String] = None, outcome: Option[String] = None,
      topicKeys: Option[DataFrame] = None, page: Int = 1,
      perPage: Int = 30): DataFrame =
    VotesBrowser.listVotes(data.votes.sparkSession, data.votes, data.voidVotes,
      search, outcome, topicKeys, page, perPage)

  def voteDetail(voteId: Long): DataFrame =
    VotesBrowser.partyBreakdown(data.mpVotes, data.mpInfo, voteId)

  def voteMpVotes(voteId: Long): DataFrame =
    VotesBrowser.voteMpVotes(data.mpVotes, data.mpInfo, voteId)

  def coalitions(amendVoteIds: DataFrame, topRebels: Int = 20)
      : (DataFrame, DataFrame, DataFrame) =
    Coalitions.all(data.mpVotes, data.voidVotes, data.mpInfo, amendVoteIds, topRebels)

  /** Period stats (reference `tisk_models.py:119-141`). */
  def periodStats(): DataFrame = {
    import org.apache.spark.sql.functions._
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
