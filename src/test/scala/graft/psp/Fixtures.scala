package graft.psp

import java.nio.charset.Charset
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's synthetic fixtures (tests/fixtures/sample_data.py,
  * documented in /root/repo/FIXTURES.md) — same values, same expected
  * outputs, so the reference's assertion constants carry over verbatim.
  */
object Fixtures {

  /** 5 votes, ids 1..5 (make_votes). */
  def makeVotes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (1 to 5).map { i =>
      (i.toLong, 165, 1, i, i, "2024-01-01", "10:00:00",
        100, 50, 10, 20, 180, 90, "N", "A", s"Test vote $i", s"TV$i")
    }.toDF("id_hlasovani", "id_organ", "schuze", "cislo", "bod", "datum",
      "cas", "pro", "proti", "zdrzel", "nehlasoval", "prihlaseno", "kvorum",
      "druh_hlasovani", "vysledek", "nazev_dlouhy", "nazev_kratky")
  }

  /** MP votes (make_mp_votes): MPs 1,2 (ANO) YES on all; MP 3 (ODS) NO on
    * 1-3 + YES on 4-5 (the 60 % rebel); MPs 4,6 (ODS) YES on all; MP 5
    * (STAN) one of each attendance code A,@,M,F,C.
    */
  def makeMpVotes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows =
      (1 to 5).map(v => (1L, v.toLong, "A")) ++
        (1 to 5).map(v => (2L, v.toLong, "A")) ++
        Seq((3L, 1L, "B"), (3L, 2L, "B"), (3L, 3L, "B"), (3L, 4L, "A"), (3L, 5L, "A")) ++
        (1 to 5).map(v => (4L, v.toLong, "A")) ++
        Seq((5L, 1L, "A"), (5L, 2L, "@"), (5L, 3L, "M"), (5L, 4L, "F"), (5L, 5L, "C")) ++
        (1 to 5).map(v => (6L, v.toLong, "A"))
    rows.toDF("id_poslanec", "id_hlasovani", "vysledek")
  }

  /** make_mp_info: 6 MPs with Czech diacritics. */
  def makeMpInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 101L, "Jan", "Novák", "ANO"),
      (2L, 102L, "Petr", "Svoboda", "ANO"),
      (3L, 103L, "Karel", "Dvořák", "ODS"),
      (4L, 104L, "Ondřej", "Černý", "ODS"),
      (5L, 105L, "Marie", "Nová", "STAN"),
      (6L, 106L, "Tomáš", "Bílý", "ODS"))
      .toDF("id_poslanec", "id_osoba", "jmeno", "prijmeni", "party")
  }

  /** Empty void list (make_void_votes). */
  def makeVoidVotes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[Long].toDF("id_hlasovani")
  }

  /** Non-empty void variant — asserts exclusion actually removes vote 3. */
  def makeVoidVotesWith3(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(3L).toDF("id_hlasovani")
  }

  /** MP votes of the UNL dump's period 10: MP 3 (ODS) votes B against
    * its club on vote 1, so loyalty reads him as a 50 % rebel.
    */
  val UnlMpVotes: Seq[String] = Seq(
    "1|1|A", "3|1|B", "4|1|A", "6|1|A",
    "1|2|A", "3|2|A", "4|2|A", "6|2|A")

  /** Writes one windows-1250 UNL file `<dir>/<sub>/<name>`. */
  def writeUnl(dir: Path, sub: String, name: String, lines: Seq[String]): Unit = {
    val d = dir.resolve(sub)
    Files.createDirectories(d)
    Files.write(d.resolve(name), lines.mkString("\n").getBytes(Charset.forName("windows-1250")))
  }

  /** A period-10 psp.cz dump in the `PeriodLoader` layout under `dir`:
    * 4 MPs in two clubs, 2 votes ([[UnlMpVotes]]), an empty void list and
    * one agenda item resolved to a print. Returns `dir`.
    */
  def writeUnlDump(dir: Path): Path = {
    def w(sub: String, name: String, lines: Seq[String]): Unit = writeUnl(dir, sub, name, lines)
    w("poslanci", "osoby.unl", Seq(
      "101||Novák|Jan||1970-01-01|M||",
      "103||Dvořák|Karel||1972-02-02|M||",
      "104||Černý|Ondřej||1974-03-03|M||",
      "106||Bílý|Tomáš||1976-04-04|M||"))
    w("poslanci", "poslanec.unl", Seq(
      "1|101|1|1|174|||||||||||", "3|103|1|1|174|||||||||||",
      "4|104|1|1|174|||||||||||", "6|106|1|1|174|||||||||||"))
    w("poslanci", "organy.unl", Seq(
      "200|0|1|ANO2011|Klub ANO||2021-01-01||1|0|",
      "201|0|1|ODS|Klub ODS||2021-01-01||1|0|"))
    w("poslanci", "zarazeni.unl", Seq(
      "101|200|0|2021-01-01|||||", "103|201|0|2021-01-01|||||",
      "104|201|0|2021-01-01|||||", "106|201|0|2021-01-01|||||"))
    w("hl-10", "hl10s.unl", Seq(
      "1|174|1|1|1|2024-01-10|10:00|2|1|0|0|3|2|N|A|První hlasování|PH1|",
      "2|174|1|2|1|2024-01-11|10:00|3|0|0|0|3|2|N|A|Druhé hlasování|PH2|"))
    w("hl-10", "hl10h1.unl", UnlMpVotes)
    w("hl-10", "zmatecne.unl", Seq.empty)
    w("schuze", "schuze.unl", Seq("900|174|1|2024-01-01|||"))
    w("schuze", "bod_schuze.unl", Seq(
      "1|900|410|1|1|Bod jedna||||||||5|"))
    w("tisky", "tisky.unl", Seq(
      "410|1|1|100|1|1|174|174|1|Vláda|Návrh zákona|2024-01-01||||1||||||||"))
    dir
  }

  /** Recursively deletes `dir`. */
  def deleteTree(dir: Path): Unit = {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}
