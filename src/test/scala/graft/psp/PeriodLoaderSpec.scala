package graft.psp

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** End-to-end facade test: extracted-UNL directory layout → PeriodLoader →
  * Analyzer catalog (the reference's DataReader + routes surface).
  */
class PeriodLoaderSpec extends SparkSpec {

  private lazy val root: Path =
    Fixtures.writeUnlDump(Files.createTempDirectory("psp-root"))

  test("load + full analyzer catalog over UNL files") {
    val data = PeriodLoader.load(spark, root.toString, 10)
    val an = new Analyzer(data)

    assert(data.mpInfo.count() == 4)
    val loyalty = an.loyalty().collect()
    assert(loyalty.head.getAs[String]("prijmeni") == "Dvořák")
    assert(an.attendance().count() == 4)
    assert(an.listVotes(search = Some("prvni")).count() == 1)
    assert(an.voteDetail(1L).count() == 2) // ANO + ODS rows
    val stats = an.periodStats().collect()(0)
    assert(stats.getAs[Long]("n_votes") == 2L)
    assert(stats.getAs[Long]("n_mp_records") == 8L)
    assert(stats.getAs[Long]("n_mps") == 4L)
    // tisk lookup resolved via schuze chain
    assert(data.tiskLookup.count() == 1)
  }

  test("parquet cache round trip through the loader") {
    val cache = Files.createTempDirectory("psp-cache")
    val d1 = PeriodLoader.load(spark, root.toString, 10, Some(cache.toString))
    assert(d1.votes.count() == 2)
    // second load serves from cache (directory now populated)
    val d2 = PeriodLoader.load(spark, root.toString, 10, Some(cache.toString))
    assert(d2.votes.count() == 2)
    assert(Files.list(cache).count() > 0)
  }

  test("a loaded period is resident: every Analyzer route answers the " +
      "same rows after the dump directory is deleted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.abs
    val dir = Fixtures.writeUnlDump(Files.createTempDirectory("psp-resident"))
    val an = new Analyzer(PeriodLoader.load(spark, dir.toString, 10))
    val amendIds = Seq(1L, 2L).toDF("id_hlasovani")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def answers(): Map[String, Seq[String]] = {
      val (agreement, rebels, cohesion) = an.coalitions(amendIds)
      Map(
        "loyalty" -> rows(an.loyalty()),
        "attendance" -> rows(an.attendance()),
        // PCA signs are arbitrary: compare magnitudes
        "pca" -> rows(an.pcaCoords().select($"mp_name", $"party", abs($"x"), abs($"y"))),
        "similarity" -> rows(an.crossPartySimilarity()),
        "votes" -> rows(an.listVotes(search = Some("prvni"))),
        "vote_detail" -> rows(an.voteDetail(1L)),
        "vote_mp_votes" -> rows(an.voteMpVotes(1L)),
        "agreement" -> rows(agreement),
        "rebels" -> rows(rebels),
        "cohesion" -> rows(cohesion),
        "stats" -> rows(an.periodStats()),
        "tisk_lookup" -> rows(an.data.tiskLookup))
    }
    val before = answers()
    assert(before("loyalty").exists(_.contains("Dvořák")))
    assert(before("tisk_lookup").size == 1)
    Fixtures.deleteTree(dir)
    assert(!Files.exists(dir))
    assert(answers() == before)
  }

  test("a re-load after the dump changed reads the new files") {
    val dir = Fixtures.writeUnlDump(Files.createTempDirectory("psp-reload"))
    def dvorakRebellion(d: PeriodData): Double =
      new Analyzer(d).loyalty().collect()
        .find(_.getAs[String]("prijmeni") == "Dvořák").get
        .getAs[Double]("rebellion_pct")
    val first = PeriodLoader.load(spark, dir.toString, 10)
    assert(dvorakRebellion(first) == 50.0)
    Fixtures.writeUnl(dir, "hl-10", "hl10h1.unl",
      Fixtures.UnlMpVotes.map { case "3|1|B" => "3|1|A"; case l => l })
    assert(dvorakRebellion(PeriodLoader.load(spark, dir.toString, 10)) == 0.0)
    // the earlier snapshot is untouched by the re-load
    assert(dvorakRebellion(first) == 50.0)
  }
}
