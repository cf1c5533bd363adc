package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded, offline psp.cz dump in the layout `graft.psp.PeriodLoader`
  * reads: windows-1250, pipe-delimited, headerless UNL with a trailing
  * pipe, under `poslanci/`, `hl-<p>/`, `schuze/` and `tisky/`.
  *
  * Per period: `mps` MPs in party clubs (a few without a club), `votes`
  * roll-call votes and `mps × votes` MP-vote rows split over two
  * `hl<year>h<n>.unl` files, about 1 % void votes, one agenda item per
  * (session, item) linked to a print so `TiskLookup.viaSchuze` resolves
  * it, and Czech diacritics in names and titles. The same seed writes the
  * same bytes.
  */
object PspDump {

  case class Scale(mps: Int, votes: Int)

  /** Electoral periods written; ids match `graft.psp.Periods.organIds`. */
  val Periods: Seq[Int] = Seq(9, 10)
  private val Years = Map(9 -> 2021, 10 -> 2025)
  private def organOf(period: Int) = 164 + period

  /** Club abbreviations as psp.cz writes them (`ANO2011` is aliased to
    * `ANO` by `MpBuilder`).
    */
  val Parties: Seq[String] =
    Seq("ANO2011", "ODS", "STAN", "Piráti", "SPD", "KDU-ČSL", "TOP09")
  // seats per club, in Parties order; the remainder have no club
  private val PartyShare = Seq(0.34, 0.17, 0.13, 0.10, 0.10, 0.07, 0.06)

  private val FirstNames = Seq("Jan", "Petr", "Tomáš", "Ondřej", "Jiří",
    "Marie", "Jana", "Lucie", "Kateřina", "Věra", "Radek", "Zdeněk")
  private val LastNames = Seq("Novák", "Svoboda", "Dvořák", "Černý",
    "Procházka", "Kučera", "Veselý", "Horák", "Němec", "Pokorný",
    "Marek", "Růžička", "Beneš", "Fiala", "Šťastný", "Žák", "Kříž",
    "Bílý", "Malý", "Čermák")
  /** Title words: the votes search route strips diacritics on both sides,
    * so these exercise `strip_diacritics`.
    */
  val TitleWords: Seq[String] = Seq("zákon", "státní", "rozpočet", "daň",
    "zdravotní", "pojištění", "školství", "doprava", "životní",
    "prostředí", "obrana", "energetika", "zemědělství", "spravedlnost",
    "kultura", "důchod", "bydlení", "obecní", "úřad", "změna")

  private val Cp1250 = Charset.forName("windows-1250")

  private def write(root: Path, sub: String, name: String)(
      body: (Seq[Any] => Unit) => Unit): Long = {
    val dir = root.resolve(sub)
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f.toFile), Cp1250), 1 << 16)
    try body { fields =>
      fields.foreach { v => if (v != null) w.write(v.toString); w.write('|') }
      w.write('\n')
    } finally w.close()
    Files.size(f)
  }

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** A vote title of 3-6 words; `ct` ties it to its print. */
  def title(r: SplittableRandom, ct: Int): String =
    s"Návrh zákona č. $ct o " +
      Seq.fill(3 + r.nextInt(4))(pick(r, TitleWords)).mkString(" ")

  /** Writes the dump under `root` and returns its size in bytes. */
  def generate(root: Path, seed: Long, scale: Scale): Long = {
    val r = new SplittableRandom(seed)
    var bytes = 0L
    // persons: each period seats `mps` mandates; a third of period 10
    // re-uses period 9 persons (re-elected MPs)
    val nPersons = scale.mps * 2 - scale.mps / 3
    val persons = (1 to nPersons).map { i =>
      (1000L + i, pick(r, FirstNames), pick(r, LastNames))
    }
    bytes += write(root, "poslanci", "osoby.unl") { row =>
      persons.foreach { case (id, first, last) =>
        row(Seq(id, "", last, first, "", s"${1 + r.nextInt(28)}.${1 + r.nextInt(12)}.19${50 + r.nextInt(50)}",
          if (r.nextBoolean()) "M" else "Ž", "", ""))
      }
    }
    // seats per period: person -> (mandate id, club index or -1)
    val seats: Map[Int, IndexedSeq[(Long, Long, Int)]] = Periods.map { p =>
      val first = if (p == Periods.head) 0 else scale.mps - scale.mps / 3
      val ps = persons.slice(first, first + scale.mps)
      val bounds = PartyShare.scanLeft(0.0)(_ + _).tail
      p -> ps.zipWithIndex.map { case ((idOsoba, _, _), i) =>
        val frac = (i + 0.5) / scale.mps
        val club = bounds.indexWhere(frac < _)
        (p * 10000L + i + 1, idOsoba, club)
      }
    }.toMap
    bytes += write(root, "poslanci", "poslanec.unl") { row =>
      for (p <- Periods; (idPoslanec, idOsoba, _) <- seats(p))
        row(Seq(idPoslanec, idOsoba, 1 + r.nextInt(14), 1 + r.nextInt(40),
          organOf(p), "", "", "Praha", "", "", "", "", "", "", ""))
    }
    def clubOrgan(p: Int, club: Int) = 2000 + p * 20 + club
    bytes += write(root, "poslanci", "organy.unl") { row =>
      for (p <- Periods)
        row(Seq(organOf(p), "", 11, s"PSP${p}", s"Poslanecká sněmovna $p",
          s"Chamber $p", s"1.1.${Years(p)}", "", "", ""))
      for (p <- Periods; (party, c) <- Parties.zipWithIndex)
        row(Seq(clubOrgan(p, c), organOf(p), 1, party, s"Poslanecký klub $party",
          s"Club $party", s"1.1.${Years(p)}", "", "", ""))
    }
    bytes += write(root, "poslanci", "zarazeni.unl") { row =>
      for (p <- Periods; (_, idOsoba, club) <- seats(p) if club >= 0)
        // od_o sorts as a string in MpBuilder: ISO dates keep period 10 last
        row(Seq(idOsoba, clubOrgan(p, club), 0, s"${Years(p)}-10-01 00", "", "", ""))
    }

    val sessionsPerPeriod = 40
    val itemsPerSession = math.max(1, scale.votes / sessionsPerPeriod / 4)
    bytes += write(root, "schuze", "schuze.unl") { row =>
      for (p <- Periods; s <- 1 to sessionsPerPeriod)
        row(Seq(p * 1000L + s, organOf(p), s, s"${Years(p)}-01-01", "", "", ""))
    }
    // one print per (period, session, item); ct numbers restart per period
    def ctOf(s: Int, b: Int) = (s - 1) * itemsPerSession + b
    def tiskId(p: Int, s: Int, b: Int) = p * 100000L + ctOf(s, b)
    val printTitles = (for (p <- Periods; s <- 1 to sessionsPerPeriod;
        b <- 1 to itemsPerSession) yield (p, s, b) -> title(r, ctOf(s, b))).toMap
    bytes += write(root, "schuze", "bod_schuze.unl") { row =>
      for (p <- Periods; s <- 1 to sessionsPerPeriod; b <- 1 to itemsPerSession)
        row(Seq(tiskId(p, s, b) + 1, p * 1000L + s, tiskId(p, s, b), 1, b,
          printTitles((p, s, b)), "", "", 1, "", "", "", "", "", ""))
    }
    bytes += write(root, "tisky", "tisky.unl") { row =>
      for (p <- Periods; s <- 1 to sessionsPerPeriod; b <- 1 to itemsPerSession)
        row(Seq(tiskId(p, s, b), 1, 1, ctOf(s, b), 1, 1, organOf(p), organOf(p),
          1, "Vláda", printTitles((p, s, b)), s"1.2.${Years(p)}", "", "", "",
          1, "", "", "", "", "", "", "", ""))
    }

    for (p <- Periods) {
      val year = Years(p)
      val mps = seats(p)
      val voteIds = (1 to scale.votes).map(i => p * 1000000L + i)
      // per vote: (session, item, outcome); each party's line per vote
      val meta = voteIds.map { id =>
        val s = 1 + r.nextInt(sessionsPerPeriod)
        val b = 1 + r.nextInt(itemsPerSession)
        (id, s, b, if (r.nextDouble() < 0.6) "A" else "R")
      }
      bytes += write(root, s"hl-$p", s"hl${year}s.unl") { row =>
        meta.zipWithIndex.foreach { case ((id, s, b, out), i) =>
          val t = printTitles((p, s, b))
          row(Seq(id, organOf(p), s, i + 1, b,
            s"${1 + r.nextInt(28)}.${1 + r.nextInt(12)}.$year",
            f"${9 + r.nextInt(9)}%02d:${r.nextInt(60)}%02d", 100, 50, 10, 20,
            180, 91, "N", out, t, t.take(24)))
        }
      }
      bytes += write(root, s"hl-$p", "zmatecne.unl") { row =>
        voteIds.foreach { id => if (r.nextDouble() < 0.01) row(Seq(id)) }
      }
      // MP behaviour: a per-MP absence rate and rebel rate; each club's
      // line per vote is A or B, followed by most of its members
      val absence = mps.map(_ => 0.02 + 0.15 * r.nextDouble() * r.nextDouble())
      val rebel = mps.map(_ => 0.01 + 0.08 * r.nextDouble() * r.nextDouble())
      val half = voteIds.size / 2
      Seq(1 -> voteIds.take(half), 2 -> voteIds.drop(half)).foreach { case (n, ids) =>
        bytes += write(root, s"hl-$p", s"hl${year}h$n.unl") { row =>
          ids.foreach { id =>
            val line = Array.fill(Parties.size + 1)(if (r.nextDouble() < 0.55) "A" else "B")
            mps.indices.foreach { i =>
              val (idPoslanec, _, club) = mps(i)
              val x = r.nextDouble()
              val party = line(if (club < 0) Parties.size else club)
              val code =
                if (x < absence(i)) pick(r, Seq("@", "@", "M", "W"))
                else if (x < absence(i) + 0.03) pick(r, Seq("C", "F", "K"))
                else if (x < absence(i) + 0.03 + rebel(i)) if (party == "A") "B" else "A"
                else party
              row(Seq(idPoslanec, id, code))
            }
          }
        }
      }
    }
    bytes
  }
}
