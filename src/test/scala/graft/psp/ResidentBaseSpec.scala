package graft.psp

import java.util.concurrent.{CountDownLatch, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.VectorOps

/** Loyalty, attendance and cross-party similarity are served by narrowing
  * a base an [[Analyzer]] builds once. Every narrowed variant must equal
  * a fresh Analyzer's answer, and the narrowing of a base stored in
  * reverse id order, row for row, in order, on fixtures that tie on every
  * order key; the bases build once and never wait on each other.
  */
class ResidentBaseSpec extends SparkSpec {
  import ResidentBaseSpec._

  private def period(mpVotes: DataFrame, mpInfo: DataFrame): PeriodData = {
    import spark.implicits._
    PeriodData(1, Fixtures.makeVotes(spark), mpVotes, Fixtures.makeVoidVotes(spark),
      mpInfo, Seq.empty[(Int, Int, String)].toDF("schuze", "bod", "nazev"))
  }

  private lazy val data = period(Fixtures.makeMpVotes(spark), Fixtures.makeMpInfo(spark))
  private lazy val idOf: Map[String, Long] = data.mpInfo.collect()
    .map(r => s"${r.getAs[String]("jmeno")} ${r.getAs[String]("prijmeni")}" ->
      r.getAs[Long]("id_poslanec")).toMap

  private val parties = Seq(None, Some("ANO"), Some("ODS"), Some("STAN"), Some("ods"), Some("XYZ"))
  private def tops(n: Long): Seq[Int] =
    Seq(1L, 2L, n - 1, n, Analyzer.MaxTop.toLong)
      .filter(t => t >= 1 && t <= Analyzer.MaxTop).map(_.toInt).distinct

  /** Runs `check` on every variant, four at a time against the shared
    * session; rethrows the first failure.
    */
  private def eachVariant[V](variants: Seq[V])(check: V => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    try variants.map(v => pool.submit(() => { check(v); v })).foreach { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    } finally pool.shutdownNow()
  }

  /** `base`'s rows stored in one partition, in the reverse of the id
    * order every narrow breaks ties by.
    */
  private def reversed(base: DataFrame, ids: String*): DataFrame =
    Resident(base.orderBy(ids.map(col(_).desc): _*).coalesce(1))

  /** Asserts that `served` equals every frame of `same` row for row and
    * follows `key` (ascending) strictly, so no two rows tie on it.
    */
  private def assertSame[K](what: String, served: DataFrame, same: DataFrame*)(
      key: Row => K)(implicit ord: Ordering[K]): Unit = {
    val got = served.collect().toSeq
    same.foreach(df => assert(got == df.collect().toSeq, what))
    got.map(key).sliding(2).filter(_.size == 2)
      .foreach(p => assert(ord.lt(p.head, p.last), s"$what: $p out of order"))
  }

  test("the fixture ties on rebellion_pct, every attendance sort column " +
      "and cosine") {
    val fresh = new Analyzer(data)
    def ties(df: DataFrame, column: String): Boolean = {
      val xs = df.collect().map(_.getAs[Any](column))
      xs.distinct.length < xs.length
    }
    assert(ties(fresh.loyalty(Analyzer.MaxTop), "rebellion_pct"))
    Attendance.sortConfig.values.map(_._1).foreach(c =>
      assert(ties(fresh.attendance(Analyzer.MaxTop), c), c))
    assert(ties(fresh.crossPartySimilarity(Analyzer.MaxTop), "cosine"))
  }

  test("loyalty: every top x party variant narrowed from one resident base " +
      "equals a fresh Analyzer's answer") {
    val longLived = new Analyzer(data)
    val n = new Analyzer(data).loyalty(Analyzer.MaxTop).count()
    val rev = reversed(
      Loyalty.base(data.votes, data.mpVotes, data.voidVotes, data.mpInfo), "id_poslanec")
    eachVariant(for (top <- tops(n); party <- parties) yield (top, party)) { case (top, party) =>
      assertSame(s"loyalty top=$top party=$party", longLived.loyalty(top, party),
        new Analyzer(data).loyalty(top, party), Loyalty.narrow(rev, top, party)) { r =>
        (-r.getAs[Double]("rebellion_pct"), r.getAs[Long]("id_poslanec"))
      }
    }
  }

  test("attendance: every top x party x sort variant narrowed from one " +
      "resident base equals a fresh Analyzer's answer") {
    val longLived = new Analyzer(data)
    val n = new Analyzer(data).attendance(Analyzer.MaxTop).count()
    val rev = reversed(Attendance.base(data.mpVotes, data.voidVotes, data.mpInfo), "id_poslanec")
    eachVariant(for (sort <- Attendance.sortConfig.keys.toSeq.sorted; top <- tops(n);
        party <- parties) yield (sort, top, party)) { case (sort, top, party) =>
      val (column, desc) = Attendance.sortConfig(sort)
      assertSame(s"attendance sort=$sort top=$top party=$party",
        longLived.attendance(top, sort, party),
        new Analyzer(data).attendance(top, sort, party),
        Attendance.narrow(rev, top, sort, party)) { r =>
        val v = r.getAs[Any](column) match {
          case l: Long => l.toDouble
          case d: Double => d
        }
        (if (desc) -v else v, idOf(s"${r.getAs[String]("jmeno")} ${r.getAs[String]("prijmeni")}"))
      }
    }
  }

  test("similarity: every top variant narrowed from one resident base " +
      "equals a fresh Analyzer's answer") {
    val longLived = new Analyzer(data)
    val n = new Analyzer(data).crossPartySimilarity(Analyzer.MaxTop).count()
    val rev = reversed(Similarity.base(data.mpVotes, data.voidVotes, data.mpInfo), "m_a", "m_b")
    eachVariant(tops(n)) { top =>
      assertSame(s"similarity top=$top", longLived.crossPartySimilarity(top),
        new Analyzer(data).crossPartySimilarity(top), Similarity.narrow(rev, top)) { r =>
        (-r.getAs[Double]("cosine"), idOf(r.getAs[String]("mp1_name")),
          idOf(r.getAs[String]("mp2_name")))
      }
    }
  }

  test("similarity past MaxTop pairs: the base keeps the right top MaxTop " +
      "across cosine ties, and a wider top is refused") {
    import spark.implicits._
    // 30 MPs in 3 parties, 4 vote patterns: 300 cross-party pairs, most
    // of them tied with others on cosine
    val mpVotes = (for (m <- 1 to 30; v <- 1 to 6) yield
      (m.toLong, v.toLong, if ((v + m % 4) % 3 == 0) "B" else "A"))
      .toDF("id_poslanec", "id_hlasovani", "vysledek")
    val mpInfo = (1 to 30).map(m =>
      (m.toLong, 1000L + m, s"J$m", s"P$m", Seq("ANO", "ODS", "STAN")(m % 3)))
      .toDF("id_poslanec", "id_osoba", "jmeno", "prijmeni", "party")
    val d = period(mpVotes, mpInfo)
    val party = mpInfo.collect()
      .map(r => r.getAs[Long]("id_poslanec") -> r.getAs[String]("party")).toMap
    // every cross-party pair, ordered on the driver
    val all = VectorOps.cosinePairs(
      Similarity.encodedVotes(mpVotes, d.voidVotes).filter(col("v") =!= 0.0),
      "id_poslanec", "id_hlasovani", "v").collect().toSeq
      .map(r => (r.getAs[Long]("m_a"), r.getAs[Long]("m_b"), r.getAs[Double]("cosine")))
      .filter { case (a, b, _) => party(a) != party(b) }
      .sortBy { case (a, b, c) => (-c, a, b) }
    assert(all.size > Analyzer.MaxTop)
    assert(all(Analyzer.MaxTop - 1)._3 == all(Analyzer.MaxTop)._3, "no tie at the cut")
    val longLived = new Analyzer(d)
    for (top <- Seq(1, 2, Analyzer.MaxTop - 1, Analyzer.MaxTop)) {
      val want = all.take(top).map { case (a, b, c) =>
        Row(s"J$a P$a", party(a), s"J$b P$b", party(b), c)
      }
      assert(longLived.crossPartySimilarity(top).collect().toSeq == want, s"top=$top")
    }
    Seq(0, Analyzer.MaxTop + 1).foreach { top =>
      intercept[IllegalArgumentException](longLived.crossPartySimilarity(top))
      intercept[IllegalArgumentException](
        Similarity.crossPartySimilarity(mpVotes, d.voidVotes, mpInfo, top))
    }
  }

  test("concurrent first calls share one build") {
    val builds = new AtomicInteger()
    val base = new Resident.OnFirstUse({ builds.incrementAndGet(); spark.range(3).toDF() })
    val pool = Executors.newFixedThreadPool(8)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to 8).map(_ => pool.submit(() => { start.await(); base() }))
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("a stalled loyalty build does not hold up the attendance build") {
    // only loyalty reads `votes`; the stall holds one task of its base
    // build until released
    val stall = udf { (id: Long, name: String) =>
      if (id == 1L) { Entered.countDown(); while (Stall.get) Thread.sleep(10) }
      name
    }.asNondeterministic()
    val an = new Analyzer(data.copy(votes = data.votes.repartition(4)
      .withColumn("nazev_dlouhy", stall(col("id_hlasovani"), col("nazev_dlouhy")))))
    val pool = Executors.newFixedThreadPool(2)
    Stall.set(true)
    try {
      val loyalty = pool.submit(() => an.loyalty().collect().toSeq)
      assert(Entered.await(60, TimeUnit.SECONDS), "the loyalty build never started")
      val attendance = pool.submit(() => an.attendance().collect().toSeq)
      assert(attendance.get(60, TimeUnit.SECONDS) ==
        new Analyzer(data).attendance().collect().toSeq)
      assert(!loyalty.isDone)
      Stall.set(false)
      assert(loyalty.get(60, TimeUnit.SECONDS) ==
        new Analyzer(data).loyalty().collect().toSeq)
    } finally {
      Stall.set(false)
      pool.shutdownNow()
    }
  }
}

object ResidentBaseSpec {
  val Stall = new AtomicBoolean(false)
  val Entered = new CountDownLatch(1)
}
