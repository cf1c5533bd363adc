package graft.serving

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkSpec
import graft.psp.{Analyzer, Fixtures, PeriodData, PeriodLoader}

/** End-to-end serving-layer spec: starts the HTTP server on fixture data
  * and mirrors the reference's `tests/api/test_api_endpoints.py`
  * assertions (health / loyalty / attendance / similarity / votes /
  * invalid-period-404), plus the envelope behaviors the routes promise:
  * param validation (422), rate limiting (429), cache keying +
  * invalidation, chart data endpoints, PNG 501 stubs.
  */
class GraftServerSpec extends SparkSpec {

  private def fixtureCatalog(): PeriodCatalog = {
    import spark.implicits._
    val data = PeriodData(
      period = 1,
      votes = Fixtures.makeVotes(spark),
      mpVotes = Fixtures.makeMpVotes(spark),
      voidVotes = Fixtures.makeVoidVotes(spark),
      mpInfo = Fixtures.makeMpInfo(spark),
      tiskLookup = Seq((1, 1, "Návrh zákona o rozpočtu"))
        .toDF("schuze", "bod", "nazev"))
    val laws = Seq(
      (410L, 100, "Návrh zákona o rozpočtu", "projednáváno", Seq("finance"),
        Seq("public finance")),
      (412L, 101, "Novela školského zákona", "přijato", Seq("education"),
        Seq("education system")),
      (413L, 102, "Zákon o daních", "zamítnuto", Seq("finance", "tax"),
        Seq("public finance", "taxation")))
      .toDF("id_tisk", "ct", "nazev", "status", "topics", "topics_en")
    val bills = Seq((1, 1, 1, "410"), (1, 1, 2, "411"), (1, 2, 1, "100"))
      .toDF("period", "schuze", "bod", "ct")
    val amendIds = Seq(1L, 2L).toDF("id_hlasovani")
    val topics = Seq((1, 1, "finance", "public finance"))
      .toDF("schuze", "bod", "topic", "topic_en")
    val texts = new graft.sources.ExternalIngestion.FixtureTexts(
      Map((1, 100) -> "Plný text tisku 100 o rozpočtu."))
    val facts = Seq(
      (1, 2, "A", 1L, 2L, false, "accepted"),
      (1, 2, "A", 3L, 4L, true, "rejected"))
      .toDF("schuze", "bod", "letter", "vote_number", "id_hlasovani",
        "is_revote", "result")
    PeriodCatalog(new Analyzer(data), Some(laws), Some(bills),
      Some(amendIds), Some(topics), Some(texts), amendmentFacts = Some(facts))
  }

  private var server: GraftServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new GraftServer(
      periods = Map(1 -> fixtureCatalog()),
      limits = GraftServer.DefaultLimits + ("similarity" -> 3)).start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def get(path: String, at: String = base): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(at + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("health returns ok with loaded periods (test_health_returns_ok)") {
    val r = get("/api/health")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get.startsWith("application/json"))
    assert(r.body().contains("\"status\":\"ok\""))
    assert(r.body().contains("\"periods_loaded\":[1]"))
  }

  test("loyalty endpoint serves the fixture's 60% rebel (test_loyalty_api)") {
    val r = get("/api/loyalty?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("Dvořák"))
    assert(r.body().contains("\"rebellion_pct\":60.0"))
  }

  test("attendance endpoint (test_attendance_api)") {
    val r = get("/api/attendance?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("attendance_pct"))
  }

  test("similarity endpoint (test_similarity_api)") {
    val r = get("/api/similarity?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("cosine"))
  }

  test("votes endpoint returns the paging envelope (test_votes_api)") {
    val r = get("/api/votes?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"rows\":["))
    assert(r.body().contains("\"total\":5"))
    assert(r.body().contains("\"total_pages\":1"))
  }

  test("votes search + topic filters narrow the listing") {
    val r = get("/api/votes?period=1&search=Test%20vote%203")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"total\":1"))
    // topic 'finance' maps to (schuze=1, bod=1) -> only vote 1
    val t = get("/api/votes?period=1&topic=finance")
    assert(t.body().contains("\"total\":1"))
    val none = get("/api/votes?period=1&topic=space")
    assert(none.body().contains("\"total\":0"))
  }

  test("unknown period is a 404 (test_invalid_period_returns_404)") {
    val r = get("/api/loyalty?period=999")
    assert(r.statusCode() == 404)
    assert(r.body().contains("Unknown period 999"))
    // valid period number that isn't loaded is also a 404
    assert(get("/api/loyalty?period=9").statusCode() == 404)
  }

  test("param envelopes reject out-of-range values with 422") {
    assert(get("/api/loyalty?period=1&top=0").statusCode() == 422)
    assert(get("/api/loyalty?period=1&top=500").statusCode() == 422)
    assert(get("/api/votes?period=1&page=2000").statusCode() == 422)
    assert(get("/api/loyalty?period=1&top=abc").statusCode() == 422)
  }

  test("page beyond the data clamps to the last page, reference-style") {
    val r = get("/api/votes?period=1&page=999")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"page\":1"))
  }

  test("laws endpoint filters and pages") {
    val all = get("/api/laws?period=1")
    assert(all.statusCode() == 200)
    assert(all.body().contains("\"total\":3"))
    val tax = get("/api/laws?period=1&topic=tax")
    assert(tax.body().contains("\"total\":1"))
    assert(tax.body().contains("Zákon o daních"))
    val passed = get("/api/laws?period=1&status=" +
      java.net.URLEncoder.encode("přijato", "UTF-8"))
    assert(passed.body().contains("\"total\":1"))
  }

  test("amendments endpoint joins print names and pages") {
    val r = get("/api/amendments?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"total\":3"))
    assert(r.body().contains("Návrh zákona o rozpočtu"))
  }

  test("vote detail route serves info + party_breakdown + mp_votes; " +
      "unknown id is a 404 (pages.py:130 / votes_service.py:303-319)") {
    val r = get("/api/votes/1?period=1")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"info\":{"))
    assert(r.body().contains("\"nazev_dlouhy\":\"Test vote 1\""))
    assert(r.body().contains("\"outcome_label\":\"Schváleno\""))
    // (schuze=1, bod=1) links to the fixture print + its cs topic
    assert(r.body().contains("\"tisk_nazev\":\"Návrh zákona o rozpočtu\""))
    assert(r.body().contains("\"tisk_topics\":[\"finance\"]"))
    // party breakdown in the reference's field names
    assert(r.body().contains("\"party_breakdown\":["))
    assert(r.body().contains("\"yes\":"))
    // per-MP list with labels, including the fixture's B (NO) voter
    assert(r.body().contains("\"mp_votes\":["))
    assert(r.body().contains("\"vote_label\":\"NO\""))
    assert(get("/api/votes/999?period=1").statusCode() == 404)
    assert(get("/api/votes/999999999999999999999?period=1").statusCode() == 404)
  }

  test("vote detail localizes by lang and keys the cache per language") {
    val cs = get("/api/votes/2?period=1")
    val en = get("/api/votes/2?period=1&lang=en")
    assert(cs.body().contains("\"outcome_label\":\"Schváleno\""))
    assert(en.body().contains("\"outcome_label\":\"Passed\""))
    // vote 1 is the one linked to the fixture print's topics
    assert(get("/api/votes/1?period=1&lang=en").body()
      .contains("\"tisk_topics\":[\"public finance\"]"))
    assert(get("/api/votes/2?period=1&lang=de").statusCode() == 422)
  }

  test("votes listing carries the localized outcome label (cs vs en, " +
      "same data)") {
    val cs = get("/api/votes?period=1&search=Test%20vote%201")
    val en = get("/api/votes?period=1&search=Test%20vote%201&lang=en")
    assert(cs.body().contains("\"outcome_label\":\"Schváleno\""))
    assert(en.body().contains("\"outcome_label\":\"Passed\""))
  }

  test("law detail route serves lang-resolved topics and amendment " +
      "entries; unknown ct is a 404 (law_service.py:247-312)") {
    val cs = get("/api/laws/100?period=1")
    assert(cs.statusCode() == 200, cs.body())
    assert(cs.body().contains("\"nazev\":\"Návrh zákona o rozpočtu\""))
    assert(cs.body().contains("\"topics\":[\"finance\"]"))
    // bills fixture links ct 100 to agenda item (2, 1)
    assert(cs.body().contains("\"has_amendments\":true"))
    assert(cs.body().contains("\"amendment_entries\":[{\"schuze\":2,\"bod\":1}]"))
    val en = get("/api/laws/100?period=1&lang=en")
    assert(en.body().contains("\"topics\":[\"public finance\"]"))
    assert(get("/api/laws/999?period=1").statusCode() == 404)
  }

  test("laws listing browses English labels under lang=en (same data)") {
    val cs = get("/api/laws?period=1&topic=tax")
    assert(cs.body().contains("\"total\":1"))
    assert(cs.body().contains("Zákon o daních"))
    val en = get("/api/laws?period=1&topic=taxation&lang=en")
    assert(en.body().contains("\"total\":1"), en.body())
    assert(en.body().contains("Zákon o daních"))
    // the Czech label no longer matches once topics browse in English
    assert(get("/api/laws?period=1&topic=tax&lang=en").body()
      .contains("\"total\":0"))
  }

  test("amendment detail route nests revotes; unknown agenda item is a " +
      "404 (amendment_service.py:168-246)") {
    val r = get("/api/amendments/1/2?period=1")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"amendment_count\":2"))
    assert(r.body().contains("\"letter\":\"A\""))
    assert(r.body().contains("\"rv_vote_number\":3"))
    assert(get("/api/amendments/9/9?period=1").statusCode() == 404)
  }

  test("amendment mp-votes route serves the vote header + breakdown + " +
      "labeled MP list (amendment_service.py:275-339)") {
    val r = get("/api/amendments/1/2/mp-votes?period=1&vote=2")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"vote\":{\"id_hlasovani\":2"))
    assert(r.body().contains("\"pro\":100"))
    assert(r.body().contains("\"party_breakdown\":["))
    // MP 5 voted '@' on vote 2 -> Absent; amendment label for F is
    // DID_NOT_VOTE (checked in DetailsSpec); B -> NO present here
    assert(r.body().contains("\"vote_label\":\"NO\""))
    assert(r.body().contains("\"vote_label\":\"Absent\""))
    assert(get("/api/amendments/1/2/mp-votes?period=1&vote=999").statusCode() == 404)
    assert(get("/api/amendments/1/2/mp-votes?period=1").statusCode() == 422)
  }

  test("topics route unions law and vote topic labels, lang-aware " +
      "(get_all_topic_labels parity)") {
    val cs = get("/api/topics?period=1")
    assert(cs.statusCode() == 200, cs.body())
    for (t <- Seq("finance", "education", "tax"))
      assert(cs.body().contains(s"\"topic\":\"$t\""), cs.body())
    val en = get("/api/topics?period=1&lang=en")
    assert(en.body().contains("\"topic\":\"taxation\""))
    assert(en.body().contains("\"topic\":\"public finance\""))
    assert(!en.body().contains("\"topic\":\"tax\"}"), en.body())
  }

  test("HTML pages render the same catalog server-side: index, votes, " +
      "vote detail, loyalty; localized nav; 404 page (routes/pages.py)") {
    val idx = get("/?period=1")
    assert(idx.statusCode() == 200, idx.body())
    assert(idx.headers().firstValue("Content-Type").get.startsWith("text/html"))
    assert(idx.body().contains("<nav>") && idx.body().contains("n_votes"))
    val votes = get("/votes?period=1")
    assert(votes.body().contains("<table>") && votes.body().contains("Test vote 1"))
    assert(votes.body().contains("Schváleno"))
    val votesEn = get("/votes?period=1&lang=en")
    assert(votesEn.body().contains("Passed"))
    assert(votesEn.body().contains(">Votes<"), votesEn.body())
    val detail = get("/votes/1?period=1")
    assert(detail.statusCode() == 200, detail.body())
    assert(detail.body().contains("By party") || detail.body().contains("Podle stran"))
    assert(detail.body().contains("Dvořák"))
    val loyalty = get("/loyalty?period=1")
    assert(loyalty.body().contains("/api/loyalty.png"))
    // headers are localized through I18n (th.* parity) — cs shows the
    // Czech header, not the raw column name
    assert(loyalty.body().contains("<th>Rebelie %</th>"), loyalty.body())
    assert(get("/nope?period=1").statusCode() == 404)
    assert(get("/votes/999?period=1").statusCode() == 404)
    // HTML output escapes row content (no raw angle brackets from data)
    assert(!votes.body().contains("<script"))
    // pages memoize under the period and drop with it; the key holds only
    // the params the route consumes (votes: just the normalized page)
    assert(server.cache.get(GraftServer.key(
      "pages", 1, "votes", "cs", "1")).isDefined)
    // params a route ignores (search on a plain page) and non-canonical
    // spellings (page=01, explicit page=1) all hit the SAME entry — one
    // rendered page cannot be multiplied across cache slots
    val before = server.cache.size
    get("/votes?period=1&page=01")
    get("/votes?period=1&page=1&search=zzz")
    assert(server.cache.size == before,
      "ignored/unnormalized params minted extra cache entries")
    server.invalidatePeriod(1)
    assert(server.cache.get(GraftServer.key(
      "pages", 1, "votes", "cs", "1")).isEmpty)
  }

  test("table headers localize per lang on HTML pages (i18n th.* parity) " +
      "and /api/laws carries a localized status_label") {
    // /votes page: same columns, Czech vs English headers
    val cs = get("/votes?period=1")
    assert(cs.body().contains("<th>Datum</th>"), cs.body())
    assert(cs.body().contains("<th>Výsledek</th>"))
    val en = get("/votes?period=1&lang=en")
    assert(en.body().contains("<th>Date</th>"), en.body())
    assert(en.body().contains("<th>Result</th>"))
    assert(!en.body().contains("<th>Datum</th>"))
    // laws page headers + status label column
    val lawsEn = get("/laws?period=1&lang=en")
    assert(lawsEn.body().contains("<th>Status</th>"), lawsEn.body())
    assert(lawsEn.body().contains("<td>passed</td>"), lawsEn.body())
    val lawsCs = get("/laws?period=1")
    assert(lawsCs.body().contains("<th>Stav</th>"))
    assert(lawsCs.body().contains("<td>přijato</td>"))
    // JSON /api/laws: raw status stays for filters; status_label localizes
    // the canonical trio under lang=en and passes unknown values through
    val apiEn = get("/api/laws?period=1&lang=en")
    assert(apiEn.body().contains("\"status\":\"přijato\""), apiEn.body())
    assert(apiEn.body().contains("\"status_label\":\"passed\""))
    assert(apiEn.body().contains("\"status_label\":\"in progress\""))
    val apiCs = get("/api/laws?period=1")
    assert(apiCs.body().contains("\"status_label\":\"přijato\""))
  }

  test("fragment routes serve the listing region alone (HTMX partials " +
      "parity): filters, localized headers, paging links, no page chrome") {
    val frag = get("/fragments/votes?period=1")
    assert(frag.statusCode() == 200, frag.body())
    assert(frag.headers().firstValue("Content-Type").get.startsWith("text/html"))
    assert(frag.body().contains("<table>") && frag.body().contains("Test vote 1"))
    assert(!frag.body().contains("<nav>" + "<a href=\"/?period")) // no page chrome
    assert(!frag.body().contains("<!DOCTYPE"))
    assert(frag.body().contains("nalezeno"))
    val en = get("/fragments/votes?period=1&lang=en")
    assert(en.body().contains("found (page") && en.body().contains("<th>Date</th>"))
    // filters narrow and propagate into the paging links region
    val filtered = get("/fragments/laws?period=1&topic=tax")
    assert(filtered.body().contains("Zákon o daních"))
    assert(filtered.body().contains("nalezeno 1"), filtered.body())
    // table fragments for the analysis pages
    val loyal = get("/fragments/loyalty?period=1&top=5")
    assert(loyal.body().startsWith("<table>"), loyal.body().take(80))
    assert(loyal.body().contains("<th>Rebelie %</th>"))
    val amend = get("/fragments/amendments?period=1")
    assert(amend.body().contains("nalezeno 3"), amend.body())
    assert(get("/fragments/nope?period=1").statusCode() == 404)
    // `top` participates in the cache key: a different top must NOT be
    // served from the top=5 entry (regression: key omitted top)
    val loyal3 = get("/fragments/loyalty?period=1&top=3")
    assert(loyal3.body() != loyal.body(),
      "top=3 served the cached top=5 fragment")
    assert(loyal3.body().count(_ == '\n') <= loyal.body().count(_ == '\n'))
    // cache-key inputs are validated before keying: an oversized filter
    // value 422s instead of minting a fresh cache entry per garbage value
    assert(get("/?period=1&search=" + "x" * 300).statusCode() == 422)
    assert(get("/fragments/loyalty?period=1&top=notanum").statusCode() == 422)
  }

  test("statuses route lists the laws filter's distinct status values") {
    val r = get("/api/statuses?period=1")
    assert(r.statusCode() == 200, r.body())
    for (s <- Seq("projednáváno", "přijato", "zamítnuto"))
      assert(r.body().contains(s"\"status\":\"$s\""), r.body())
  }

  test("oversized feedback POST is rejected without buffering it") {
    val sink = new FeedbackSink {
      override def configured = true
      override def createIssue(t: String, b: String, v: Long, p: Int,
          u: String, l: String): Option[String] = Some("unreachable")
    }
    val srv = new GraftServer(Map(1 -> fixtureCatalog()), feedback = Some(sink),
      feedbackLimiter = new RateLimiter(windowMillis = 1)).start()
    try {
      val b = s"http://127.0.0.1:${srv.boundPort}"
      val huge = "title=Valid+title&body=" + ("x" * (64 * 1024))
      val r = client.send(
        HttpRequest.newBuilder(URI.create(b + "/api/feedback"))
          .POST(HttpRequest.BodyPublishers.ofString(huge))
          .header("Origin", b).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.body().contains("too large"), r.body())
    } finally srv.stop()
  }

  test("refreshPeriod swaps the live catalog and drops the period's " +
      "cached results (daily-refresh reload semantics)") {
    get("/api/loyalty?period=1&top=9")
    assert(server.cache.get("loyalty:1:9:").isDefined)
    val dropped = server.refreshPeriod(1, fixtureCatalog())
    assert(dropped >= 1)
    assert(server.cache.get("loyalty:1:9:").isEmpty)
    // the swapped catalog serves immediately
    assert(get("/api/loyalty?period=1&top=9").statusCode() == 200)
  }

  test("load → analyze → serve from a UNL dump over HTTP; a refresh " +
      "after the dump changed serves the new file") {
    val dir = Fixtures.writeUnlDump(Files.createTempDirectory("psp-serve"))
    def catalog() = PeriodCatalog(new Analyzer(PeriodLoader.load(spark, dir.toString, 10)))
    val srv = new GraftServer(Map(10 -> catalog())).start()
    try {
      val at = s"http://127.0.0.1:${srv.boundPort}"
      val before = get("/api/loyalty?period=10", at)
      assert(before.statusCode() == 200)
      // Dvořák votes against his club on one of two votes
      assert(before.body().contains("Dvořák"))
      assert(before.body().contains("\"rebellion_pct\":50.0"))
      Seq("/api/attendance?period=10", "/api/votes?period=10&search=prvni",
        "/api/votes/1?period=10", "/api/stats?period=10")
        .foreach(path => assert(get(path, at).statusCode() == 200, path))
      Fixtures.writeUnl(dir, "hl-10", "hl10h1.unl",
        Fixtures.UnlMpVotes.map { case "3|1|B" => "3|1|A"; case l => l })
      assert(srv.refreshPeriod(10, catalog()) >= 1)
      val after = get("/api/loyalty?period=10", at)
      assert(after.statusCode() == 200)
      assert(after.body().contains("Dvořák"))
      assert(!after.body().contains("\"rebellion_pct\":50.0"), after.body())
    } finally srv.stop()
  }

  test("a 504 cancels the Spark jobs of the call that timed out") {
    import org.apache.spark.sql.functions.{col, udf}
    // two seconds per MP-vote row, read in tasks (the repartition keeps
    // the optimizer from evaluating it over the local fixture rows): an
    // uncancelled loyalty analysis runs long past the waits below
    val slow = udf { (v: String) => Thread.sleep(2000); v }.asNondeterministic()
    val cat = fixtureCatalog()
    val d = cat.analyzer.data
    val slowCat = cat.copy(analyzer = new Analyzer(d.copy(
      mpVotes = d.mpVotes.repartition(4).withColumn("vysledek", slow(col("vysledek"))))))
    // without adaptive execution the query runs as one job the compute
    // thread waits on, like an RDD job: interrupting the thread alone
    // leaves that job running (adaptive execution cancels its stages
    // when the thread is interrupted mid-plan)
    val aqe = "spark.sql.adaptive.enabled"
    val aqeBefore = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val srv = new GraftServer(Map(1 -> slowCat), timeoutMillis = _ => 1).start()
    try {
      val r = get("/api/loyalty?period=1", s"http://127.0.0.1:${srv.boundPort}")
      assert(r.statusCode() == 504)
      // time for the call's planning to reach Spark; then, this test's
      // server being its only user, Spark must go idle within seconds
      Thread.sleep(2000)
      val tracker = spark.sparkContext.statusTracker
      def busy = tracker.getActiveJobIds.nonEmpty ||
        tracker.getExecutorInfos.exists(_.numRunningTasks > 0)
      val deadline = System.nanoTime() + 5000L * 1000 * 1000
      while (busy && System.nanoTime() < deadline) Thread.sleep(50)
      assert(tracker.getActiveJobIds.isEmpty)
      assert(tracker.getExecutorInfos.forall(_.numRunningTasks == 0))
    } finally {
      srv.stop()
      aqeBefore.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    }
  }

  test("detail cache keys invalidate with their period") {
    get("/api/votes/1?period=1")
    assert(server.cache.get(GraftServer.key("vote_detail", 1, 1L, "cs")).isDefined)
    server.invalidatePeriod(1)
    assert(server.cache.get(GraftServer.key("vote_detail", 1, 1L, "cs")).isEmpty)
  }

  test("amendment-coalitions endpoint serves all three analyses") {
    val r = get("/api/amendment-coalitions?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"party_agreement\":["))
    assert(r.body().contains("\"rebels\":["))
    assert(r.body().contains("\"cohesion\":["))
  }

  test("stats endpoint serves the period envelope") {
    val r = get("/api/stats?period=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"n_votes\":5"))
    assert(r.body().contains("\"n_mps\":6"))
  }

  private def getBytes(path: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("PNG chart endpoints render real images (JDK raster, reference " +
      "routes loyalty.png/attendance.png/similarity.png)") {
    Seq("/api/loyalty.png?period=1", "/api/attendance.png?period=1&sort=most_active",
      "/api/similarity.png?period=1").foreach { path =>
      val r = getBytes(path)
      assert(r.statusCode() == 200, s"$path -> ${r.statusCode()}")
      assert(r.headers().firstValue("Content-Type").get == "image/png")
      val b = r.body()
      assert(b.length > 1000, s"$path: ${b.length} bytes")
      // PNG magic
      assert((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
    }
    // unknown png routes are 404s, and invalid periods still validate
    assert(getBytes("/api/nope.png?period=1").statusCode() == 404)
    assert(getBytes("/api/loyalty.png?period=999").statusCode() == 404)
  }

  test("chart data endpoints serve label/value rows") {
    val loy = get("/api/charts/loyalty?period=1")
    assert(loy.statusCode() == 200, loy.body())
    assert(loy.body().contains("\"label\":\"Karel Dvořák (ODS)\""))
    assert(loy.body().contains("\"value\":60.0"))
    val att = get("/api/charts/attendance?period=1&sort=most_active")
    assert(att.statusCode() == 200, att.body())
    assert(att.body().contains("\"value\":"))
    val sim = get("/api/charts/similarity?period=1")
    assert(sim.statusCode() == 200, sim.body())
    assert(sim.body().contains("\"x\":"))
  }

  test("results are memoized under the reference key scheme and " +
      "period invalidation drops them") {
    get("/api/loyalty?period=1&top=7")
    assert(server.cache.get("loyalty:1:7:").isDefined)
    val before = server.cache.size
    get("/api/loyalty?period=1&top=7") // hit — no new entry
    assert(server.cache.size == before)
    val dropped = server.invalidatePeriod(1)
    assert(dropped >= 1)
    assert(server.cache.get("loyalty:1:7:").isEmpty)
  }

  test("cache keys are injective: params containing ':' cannot collide " +
      "with a different param split (wrong-cached-result bug)") {
    // Under a raw ':' join these two attendance requests share the key
    // "attendance:1:30:worst::" — but their results differ (unknown sort
    // "worst:" falls back to the full listing; party ":" matches nobody),
    // so a collision serves one query's cached rows for the other.
    val a = get("/api/attendance?period=1&sort=worst%3A")
    val b = get("/api/attendance?period=1&sort=worst&party=%3A")
    assert(a.statusCode() == 200 && b.statusCode() == 200)
    assert(a.body().contains("attendance_pct"), a.body())
    assert(b.body() == "[]", b.body())
    assert(a.body() != b.body())
    // the verdict's literal votes example: distinct cache entries
    val before = server.cache.size
    get("/api/votes?period=1&search=a%3Ab&outcome=c")
    get("/api/votes?period=1&search=a&outcome=b&topic=c")
    assert(server.cache.size == before + 2)
    // escaped keys still live under the period prefix → invalidation works
    assert(server.invalidatePeriod(1) >= 4)
    assert(server.cache.get(
      GraftServer.key("attendance", 1, 30, "worst:", "")).isEmpty)
  }

  test("per-route rate limit returns 429 once exhausted") {
    // similarity limit lowered to 3/min for this suite; first calls may
    // already have consumed some budget — drive it over the top
    val codes = (1 to 6).map(_ => get("/api/similarity?period=1&top=5").statusCode())
    assert(codes.contains(429))
    // other routes are unaffected by similarity's bucket
    assert(get("/api/health").statusCode() == 200)
  }

  test("rows() structurally clamps an unclamped DataFrame at MaxResponseRows") {
    import spark.implicits._
    val unclamped = spark.range(GraftServer.MaxResponseRows * 2L).toDF("id")
    val json = server.rows(unclamped)
    val n = json.split("\\{").length - 1
    assert(n == GraftServer.MaxResponseRows, s"serialized $n rows")
  }

  test("unknown API route is a 404") {
    assert(get("/api/nope?period=1").statusCode() == 404)
  }

  test("tisk-text serves extracted print text through the S9 boundary; " +
      "missing text is available:false (routes/tisk.py parity)") {
    val hit = get("/api/tisk-text?period=1&ct=100")
    assert(hit.statusCode() == 200)
    assert(hit.body().contains("\"available\":true"))
    assert(hit.body().contains("rozpočtu"))
    val miss = get("/api/tisk-text?period=1&ct=999")
    assert(miss.statusCode() == 200)
    assert(miss.body().contains("\"available\":false"))
    assert(get("/api/tisk-text?period=1&ct=-1").statusCode() == 422)
  }

  test("every response carries the security headers (middleware.py parity)") {
    val r = get("/api/health")
    val h = r.headers()
    assert(h.firstValue("X-Content-Type-Options").get == "nosniff")
    assert(h.firstValue("X-Frame-Options").get == "DENY")
    assert(h.firstValue("Content-Security-Policy").isPresent)
    assert(h.firstValue("Strict-Transport-Security").isPresent)
    // error responses carry them too
    assert(get("/api/loyalty?period=999").headers()
      .firstValue("X-Content-Type-Options").get == "nosniff")
  }

  test("feedback route: CSRF origin check, field validation, sink " +
      "success/failure, disabled mode, 3/hour limit (test_feedback.py parity)") {
    val recorded = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sink = new FeedbackSink {
      override def configured = true
      override def createIssue(title: String, body: String, voteId: Long,
          period: Int, pageUrl: String, lang: String): Option[String] = {
        recorded += ((title, body))
        if (title.contains("apifail")) None
        else Some(s"https://example.invalid/issues/${recorded.length}")
      }
    }
    // a 1 ms limiter window disables throttling for the functional
    // assertions; the 3/hour behavior gets its own server below
    val srv = new GraftServer(Map(1 -> fixtureCatalog()), feedback = Some(sink),
      feedbackLimiter = new RateLimiter(windowMillis = 1)).start()
    try {
      val b = s"http://127.0.0.1:${srv.boundPort}"
      def post(form: String, origin: Option[String] = Some("keep")): HttpResponse[String] = {
        val builder = HttpRequest.newBuilder(URI.create(b + "/api/feedback"))
          .POST(HttpRequest.BodyPublishers.ofString(form))
          .header("Content-Type", "application/x-www-form-urlencoded")
        origin.foreach(o => builder.header("Origin",
          if (o == "keep") b else o))
        client.send(builder.build(), HttpResponse.BodyHandlers.ofString())
      }
      // missing/cross origin -> rejected (test CSRF guard)
      assert(post("title=Valid+title&body=A+valid+feedback+body", None)
        .body().contains("Cross-origin"))
      assert(post("title=Valid+title&body=A+valid+feedback+body",
        Some("http://evil.example")).body().contains("Cross-origin"))
      // validation envelope (test_short_title / test_short_body)
      assert(post("title=abc&body=A+valid+feedback+body+here")
        .body().contains("out of bounds"))
      assert(post("title=Valid+title&body=short")
        .body().contains("out of bounds"))
      // success (test_valid_feedback_returns_success)
      val ok = post("title=Valid+title&body=A+valid+feedback+body&vote_id=7&period=1")
      assert(ok.statusCode() == 200 && ok.body().contains("\"success\":true"), ok.body())
      assert(ok.body().contains("issues/1"))
      assert(recorded.head._1 == "Valid title")
      // sink failure (test_github_api_failure_returns_error)
      assert(post("title=apifail+title&body=A+valid+feedback+body")
        .body().contains("Could not record"))
    } finally srv.stop()

    // 3/hour limit: every attempt counts (slowapi semantics) — 4th is 429
    val limited = new GraftServer(Map(1 -> fixtureCatalog()),
      feedback = Some(sink)).start()
    try {
      val b = s"http://127.0.0.1:${limited.boundPort}"
      def post() = client.send(
        HttpRequest.newBuilder(URI.create(b + "/api/feedback"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "title=Valid+title&body=A+valid+feedback+body"))
          .header("Origin", b).build(),
        HttpResponse.BodyHandlers.ofString())
      val codes = (1 to 4).map(_ => post().statusCode())
      assert(codes.take(3).forall(_ == 200) && codes(3) == 429, codes)
    } finally limited.stop()

    // disabled mode (test_disabled_returns_unavailable)
    val off = new GraftServer(Map(1 -> fixtureCatalog())).start()
    try {
      val b = s"http://127.0.0.1:${off.boundPort}"
      val r = client.send(
        HttpRequest.newBuilder(URI.create(b + "/api/feedback"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "title=Valid+title&body=A+valid+feedback+body"))
          .header("Origin", b).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.body().contains("not enabled"))
    } finally off.stop()
  }
}
