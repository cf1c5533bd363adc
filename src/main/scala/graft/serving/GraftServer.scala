package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.psp.{Amendments, Analyzer, Coalitions, Details, LawsBrowser}

/** One period's servable tables: the voting analyzer plus the externally
  * enriched relations the law/amendment browsers read (topics and the
  * amendment fact table come from the ingestion pipeline — fixtures in
  * tests, parser output in production).
  */
case class PeriodCatalog(
    analyzer: Analyzer,
    laws: Option[DataFrame] = None,
    amendmentBills: Option[DataFrame] = None,
    amendVoteIds: Option[DataFrame] = None,
    voteTopics: Option[DataFrame] = None,
    tiskTexts: Option[graft.sources.ExternalIngestion.TiskTextService] = None,
    // flat per-amendment fact rows (the Amendments.groupRevotes input
    // shape) backing the amendment detail routes
    amendmentFacts: Option[DataFrame] = None)

/** HTTP serving layer over the Analyzer catalog — the reference's FastAPI
  * route surface (`routes/voting.py:23-130`, `routes/laws.py`,
  * `routes/amendments.py`, `routes/charts.py`, `routes/health.py`)
  * re-expressed over the JDK's built-in `com.sun.net.httpserver` (this
  * build adds no third-party dependencies). Differences, documented:
  * responses are JSON rows (the engine's native shape via `to_json`)
  * instead of Jinja2 HTMX partials; chart endpoints
  * serve both chart-shaped DATA (`/api/charts/...`) and rendered PNGs
  * (`/api/{loyalty,attendance,similarity}.png` via [[ChartRender]] —
  * the JDK raster stack, matching the reference's seaborn endpoints in
  * shape if not in typography).
  *
  * Kept from the reference, behavior-for-behavior:
  *  - period validation: unknown period → 404 (`routes/utils.py:10-13`)
  *  - param envelopes: top ∈ [1, Analyzer.MaxTop = 200], page ∈ [1,1000],
  *    bounded string lengths → 422 outside them (FastAPI
  *    Query(ge/le/max_length) parity)
  *  - result memoization through one [[AnalysisCache]] with the
  *    reference's key scheme `loyalty:{period}:{top}:{party}`
  *    (`routes/voting.py:34`)
  *  - per-route rate limits (60/120/30/15 per minute, `@limiter.limit`)
  *  - compute timeouts (`middleware.run_with_timeout`) → 504 on expiry:
  *    30 s similarity/PCA/coalitions, 20 s charts, 15 s every other route
  *    that runs Spark
  *  - a data refresh drops the refreshed period's results
  *    (`data_reader.py:444,468-469`): [[refreshPeriod]] calls
  *    [[invalidatePeriod]], which drops the keys whose period field is
  *    that period
  *
  * Every accepted connection has TCP_NODELAY set
  * (`GraftServer.enableNoDelay`), so a response leaves as soon as it
  * is written instead of waiting out the client's delayed ACK.
  */
class GraftServer(
    periods: Map[Int, PeriodCatalog],
    port: Int = 0,
    val cache: AnalysisCache[Array[Byte]] = new AnalysisCache[Array[Byte]](),
    limiter: RateLimiter = new RateLimiter(),
    limits: Map[String, Int] = GraftServer.DefaultLimits,
    timeoutMillis: Long => Long = identity,
    feedback: Option[FeedbackSink] = None,
    // the reference limits feedback to 3/HOUR, not per minute
    feedbackLimiter: RateLimiter = new RateLimiter(windowMillis = 3600L * 1000)) {

  // the live catalog map is swappable: the daily refresh replaces a
  // period's tables wholesale (reference `data_reader.py` reload)
  @volatile private var livePeriods: Map[Int, PeriodCatalog] = periods

  private val http = {
    GraftServer.enableNoDelay()
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
  private val pool = Executors.newFixedThreadPool(8)
  private val computePool = Executors.newCachedThreadPool()

  /** Swap a freshly loaded catalog in and drop the period's cached
    * results — the refresh pipeline's reload semantics
    * (`data_reader.py:444,468-469`).
    */
  def refreshPeriod(period: Int, catalog: PeriodCatalog): Int = {
    livePeriods = livePeriods + (period -> catalog)
    invalidatePeriod(period)
  }

  def boundPort: Int = http.getAddress.getPort

  def start(): GraftServer = {
    http.createContext("/api", (ex: HttpExchange) => handle(ex))
    // server-rendered HTML pages (longest-prefix routing keeps /api
    // on the JSON handler)
    http.createContext("/", (ex: HttpExchange) => handlePages(ex))
    http.setExecutor(pool)
    http.start()
    this
  }

  def stop(): Unit = {
    http.stop(0)
    pool.shutdown()
    computePool.shutdown()
  }

  /** Data-refresh invalidation for one period: drops every key whose
    * period field ([[GraftServer.periodOf]]) is `period`, whatever its
    * route (the reference's amendment-pipeline shape,
    * `data_reader.py:468-469`; its full-reload path just calls
    * `cache.invalidatePrefix("")`). Returns the number of entries dropped.
    */
  def invalidatePeriod(period: Int): Int =
    cache.invalidateIf(GraftServer.periodOf(_).contains(period))

  // ------------------------------------------------------------- plumbing

  private case class HttpError(status: Int, detail: String) extends RuntimeException(detail)

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def send(ex: HttpExchange, status: Int, body: String,
      contentType: String = GraftServer.JsonType): Unit =
    sendBytes(ex, status, utf8(body), contentType)

  private def sendBytes(ex: HttpExchange, status: Int, bytes: Array[Byte],
      contentType: String = GraftServer.JsonType): Unit = {
    val h = ex.getResponseHeaders
    h.set("Content-Type", contentType)
    // SecurityHeadersMiddleware parity (reference `middleware.py:19-38`)
    h.set("X-Content-Type-Options", "nosniff")
    h.set("X-Frame-Options", "DENY")
    h.set("Referrer-Policy", "strict-origin-when-cross-origin")
    h.set("Content-Security-Policy",
      "default-src 'self'; img-src 'self' data:; frame-ancestors 'none'")
    h.set("Strict-Transport-Security", "max-age=31536000; includeSubDomains")
    h.set("Permissions-Policy",
      "camera=(), microphone=(), geolocation=(), payment=()")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap

  private def intParam(q: Map[String, String], name: String, default: Int,
      min: Int, max: Int): Int =
    q.get(name).filter(_.nonEmpty) match {
      case None => default
      case Some(s) =>
        val v = try s.toInt catch {
          case _: NumberFormatException =>
            throw HttpError(422, s"Invalid integer for '$name': $s")
        }
        if (v < min || v > max)
          throw HttpError(422, s"Param '$name' must be in [$min, $max], got $v")
        v
    }

  private def strParam(q: Map[String, String], name: String, maxLen: Int): String = {
    val v = q.getOrElse(name, "")
    if (v.length > maxLen)
      throw HttpError(422, s"Param '$name' exceeds max length $maxLen")
    v
  }

  /** i18n dimension (reference `i18n/middleware.py` + the `lang` threading
    * in `routes/voting.py:111-112`, `routes/pages.py:57`): cs | en,
    * default cs. Deliberate deviation from the reference: its middleware
    * silently falls back to "cs" for unsupported languages; we 422 instead
    * — an explicit query param with a typo should fail loudly, not serve
    * the wrong language. Part of every lang-sensitive cache key so the two
    * languages memoize separately.
    */
  private def langParam(q: Map[String, String]): String =
    q.getOrElse("lang", "cs") match {
      case "" => "cs"
      case l @ ("cs" | "en") => l
      case other => throw HttpError(422, s"Unsupported lang '$other'")
    }

  /** Reference `routes/utils.py:10-13` + DataReader.get_period: the period
    * must be a known electoral period AND loaded.
    */
  private def periodCatalog(q: Map[String, String]): (Int, PeriodCatalog) = {
    val p = intParam(q, "period", GraftServer.DefaultPeriod, Int.MinValue, Int.MaxValue)
    if (!GraftServer.PeriodYears.contains(p))
      throw HttpError(404, s"Unknown period $p")
    livePeriods.get(p) match {
      case Some(c) => (p, c)
      case None => throw HttpError(404, s"Period $p not loaded")
    }
  }

  /** `middleware.run_with_timeout` parity: run the compute off-thread and
    * 504 if it exceeds the route budget. `timeoutMillis` lets tests scale
    * budgets down.
    *
    * A 504 also stops the call's Spark work: the compute thread runs its
    * jobs in a per-call job group that interrupts tasks on cancel, and a
    * timeout cancels that group's running jobs and any it submits later
    * (planning may outlive the thread interrupt and submit one after).
    */
  private def withTimeout[A](budgetMillis: Long, label: String)(f: => A): A = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val group = s"graft-serving-${java.util.UUID.randomUUID()}"
    val task: java.util.concurrent.Callable[A] = () => {
      sc.foreach(_.setJobGroup(group, label, interruptOnCancel = true))
      try f finally sc.foreach(_.clearJobGroup())
    }
    val fut = computePool.submit(task)
    try fut.get(timeoutMillis(budgetMillis), TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        sc.foreach(_.cancelJobGroupAndFutureJobs(group, s"$label timed out"))
        fut.cancel(true)
        throw HttpError(504, s"$label timed out")
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }
  }

  /** Serialize a result for the response body. Every route clamps its own
    * result size (top ∈ [1, Analyzer.MaxTop], paged listings), but
    * `collect()` on the driver must not depend on each future route
    * remembering to — the structural limit turns a forgotten clamp into
    * a truncated payload instead of a driver OOM.
    *
    * Rows go through `to_json`, not `Dataset.toJSON`: the latter
    * deserializes each row first, and the deserializer of a nested array
    * (loyalty's rebellion list, a vote's MP list) is generated with fresh
    * names on every call, so every request compiled new classes. Same
    * JSON writer, same options, same text.
    */
  private[serving] def rows(df: DataFrame): String =
    df.limit(GraftServer.MaxResponseRows)
      .select(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
      .collect().map(_.getString(0))
      .mkString("[", ",", "]")

  /** The one request step of every route that runs Spark: `body`
    * memoized under `key`, computed under [[withTimeout]]'s budget. A body
    * returns the bytes the response sends; JSON and HTML are kept as
    * UTF-8, half the memory of their UTF-16 strings, whose Czech names
    * rule out Java's one-byte form, and no re-encoding per hit.
    */
  private def answer(key: String, budgetMillis: Long, label: String)(
      body: => Array[Byte]): Array[Byte] =
    cache.getOrCompute(key)(withTimeout(budgetMillis, label)(body))

  private def paged(r: graft.operators.Browse.PagedResult): String =
    s"""{"rows":${rows(r.rows)},"total":${r.total},"page":${r.page},""" +
      s""""per_page":${r.perPage},"total_pages":${r.totalPages}}"""

  private def rateKey(ex: HttpExchange, route: String): String =
    route + ":" + Option(ex.getRemoteAddress).map(_.getAddress)
      .map(_.getHostAddress).getOrElse("?")

  // --------------------------------------------------------------- routes

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/api").stripSuffix("/")
    val q = parseQuery(ex.getRequestURI.getRawQuery)
    try {
      val route = path.stripPrefix("/")
      if (ex.getRequestMethod == "POST" && route == "feedback") {
        send(ex, 200, feedbackRoute(ex))
        return
      }
      if (ex.getRequestMethod != "GET") throw HttpError(405, "Method not allowed")
      // detail paths (votes/123) rate-limit under their list's bucket
      val limitGroup =
        if (route.startsWith("charts/") || route.endsWith(".png")) "charts"
        else route.takeWhile(_ != '/')
      val limit = limits.getOrElse(limitGroup, 120)
      if (!limiter.allow(rateKey(ex, limitGroup), limit))
        throw HttpError(429, s"Rate limit exceeded: $limit per minute")
      val body = route match {
        case "health" =>
          utf8(s"""{"status":"ok","periods_loaded":[${livePeriods.keys.toSeq.sorted.mkString(",")}]}""")
        case "loyalty" => loyaltyRoute(q)
        case "attendance" => attendanceRoute(q)
        case "similarity" => similarityRoute(q)
        case "pca" | "charts/similarity" => pcaRoute(q)
        case "votes" => votesRoute(q)
        case "laws" => lawsRoute(q)
        case "amendments" => amendmentsRoute(q)
        case GraftServer.AmendMpVotesPath(s, b) =>
          amendmentMpVotesRoute(q, s.toInt, b.toInt)
        case GraftServer.AmendDetailPath(s, b) =>
          amendmentDetailRoute(q, s.toInt, b.toInt)
        case GraftServer.VoteDetailPath(id) => voteDetailRoute(q, id.toLong)
        case GraftServer.LawDetailPath(ct) => lawDetailRoute(q, ct.toInt)
        case "amendment-coalitions" => coalitionsRoute(q)
        case "stats" => statsRoute(q)
        case "topics" => topicsRoute(q)
        case "statuses" => statusesRoute(q)
        case "tisk-text" => tiskTextRoute(q)
        case "charts/loyalty" => loyaltyChartRoute(q, png = false)
        case "charts/attendance" => attendanceChartRoute(q, png = false)
        case "loyalty.png" => loyaltyChartRoute(q, png = true)
        case "attendance.png" => attendanceChartRoute(q, png = true)
        case "similarity.png" => similarityPngRoute(q)
        case other => throw HttpError(404, s"No route /api/$other")
      }
      sendBytes(ex, 200, body,
        if (route.endsWith(".png")) "image/png" else GraftServer.JsonType)
    } catch {
      case HttpError(status, detail) =>
        send(ex, status, s"""{"detail":${jstr(detail)}}""")
      case e: Throwable =>
        send(ex, 500, s"""{"detail":${jstr(s"Internal error: ${e.getMessage}")}}""")
    } finally ex.close()
  }

  private def loyaltyRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 30, 1, Analyzer.MaxTop)
    val party = strParam(q, "party", 200)
    answer(GraftServer.key("loyalty", period, top, party), 15000, "loyalty analysis") {
      utf8(rows(cat.analyzer.loyalty(top, Some(party).filter(_.nonEmpty))))
    }
  }

  private def attendanceRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 30, 1, Analyzer.MaxTop)
    val sort = strParam(q, "sort", 20) match { case "" => "worst"; case s => s }
    val party = strParam(q, "party", 200)
    answer(GraftServer.key("attendance", period, top, sort, party), 15000,
        "attendance analysis") {
      utf8(rows(cat.analyzer.attendance(top, sort, Some(party).filter(_.nonEmpty))))
    }
  }

  private def similarityRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 20, 1, Analyzer.MaxTop)
    answer(GraftServer.key("similarity", period, top), 30000, "similarity analysis") {
      utf8(rows(cat.analyzer.crossPartySimilarity(top)))
    }
  }

  /** `/api/pca` and `/api/charts/similarity`: the coordinates already
    * have the chart's shape (mp_name, party, x, y), so both share one
    * entry.
    */
  private def pcaRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    answer(GraftServer.key("similarity_pca", period), 30000, "PCA analysis") {
      utf8(rows(cat.analyzer.pcaCoords()))
    }
  }

  private def votesRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val search = strParam(q, "search", 200)
    val outcome = strParam(q, "outcome", 20)
    val topic = strParam(q, "topic", 200)
    val page = intParam(q, "page", 1, 1, 1000)
    val lang = langParam(q)
    answer(GraftServer.key("votes", period, search, outcome, topic, page, lang), 15000,
        "vote listing") {
      val topicKeys = Some(topic).filter(_.nonEmpty).flatMap { t =>
        cat.voteTopics.map(_.filter(col("topic") === t).select("schuze", "bod"))
      }
      val pr = cat.analyzer.listVotesPaged(Some(search).filter(_.nonEmpty),
        Some(outcome).filter(_.nonEmpty), topicKeys, page)
      // `_enrich_vote_rows` (votes_service.py:135-144): localized outcome
      // label on each listed row — serving-layer projection only, so the
      // browser query itself stays oracle-comparable
      utf8(paged(pr.copy(rows = withOutcome(pr.rows, lang))))
    }
  }

  private def lawsRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val laws = lawsOf(period, cat)
    val search = strParam(q, "search", 200)
    val status = strParam(q, "status", 200)
    val topic = strParam(q, "topic", 200)
    val page = intParam(q, "page", 1, 1, 1000)
    val lang = langParam(q)
    answer(GraftServer.key("laws", period, search, status, topic, page, lang), 15000,
        "law listing") {
      val res = LawsBrowser.listLawsPaged(LawsBrowser.inLang(laws, lang),
        Some(search).filter(_.nonEmpty), Some(status).filter(_.nonEmpty),
        Some(topic).filter(_.nonEmpty), page)
      utf8(paged(res.copy(rows = withStatus(res.rows, lang))))
    }
  }

  private def amendmentsRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val bills = billsOf(period, cat)
    val search = strParam(q, "search", 200)
    val page = intParam(q, "page", 1, 1, 1000)
    answer(GraftServer.key("amendments", period, search, page), 15000, "amendment listing") {
      utf8(paged(Amendments.listBillsPaged(
        bills, cat.analyzer.data.tiskLookup, Some(search).filter(_.nonEmpty), page)))
    }
  }

  private def coalitionsRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val amendIds = cat.amendVoteIds.getOrElse(
      throw HttpError(404, s"Period $period has no amendment votes loaded"))
    answer(GraftServer.key("amendment-coalitions", period), 30000, "coalition analysis") {
      val (agreement, rebels, cohesion) = cat.analyzer.coalitions(amendIds)
      utf8(s"""{"party_agreement":${rows(agreement)},""" +
        s""""rebels":${rows(rebels)},"cohesion":${rows(cohesion)}}""")
    }
  }

  private def statsRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    // lang is accepted + keyed for parity with the reference's stats page
    // even though the numeric envelope is language-invariant
    answer(GraftServer.key("stats", period, langParam(q)), 15000, "period stats") {
      utf8(rows(cat.analyzer.periodStats()))
    }
  }

  /** GET /api/topics: the distinct topic labels the votes/laws filter
    * dropdowns offer (reference `tisk_models.py:147-160`
    * get_all_topic_labels — union over the period's prints, lang-aware,
    * sorted).
    */
  private def topicsRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val lang = langParam(q)
    answer(GraftServer.key("topics", period, lang), 15000, "topic labels") {
      val fromLaws = cat.laws.toSeq.map(l => LawsBrowser.allTopics(LawsBrowser.inLang(l, lang)))
      val fromVotes = cat.voteTopics.toSeq.map { t =>
        val c =
          if (lang == "en" && t.columns.contains("topic_en"))
            coalesce(col("topic_en"), col("topic"))
          else col("topic")
        t.select(c.as("topic"))
      }
      val all = fromLaws ++ fromVotes
      utf8(if (all.isEmpty) "[]"
        else rows(all.reduce(_.unionAll(_)).distinct().orderBy("topic")))
    }
  }

  /** GET /api/statuses: the distinct bill statuses the laws filter
    * offers (reference `law_service.py:48-60` get_all_status_labels).
    */
  private def statusesRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val laws = lawsOf(period, cat)
    answer(GraftServer.key("statuses", period), 15000, "status labels") {
      utf8(rows(laws.select(col("status")).distinct().orderBy("status")))
    }
  }

  private def withOutcome(votes: DataFrame, lang: String): DataFrame =
    votes.withColumn("outcome_label", Details.outcomeLabel(col("vysledek"), lang))

  /** Laws with `status_label`, the canonical trio localized for en
    * readers; the raw `status` stays (reference parity + filter
    * compatibility).
    */
  private def withStatus(laws: DataFrame, lang: String): DataFrame =
    laws.withColumn("status_label", I18n.statusLabel(col("status"), lang))

  private def lawsOf(period: Int, cat: PeriodCatalog): DataFrame =
    cat.laws.getOrElse(throw HttpError(404, s"Period $period has no laws table loaded"))

  private def billsOf(period: Int, cat: PeriodCatalog): DataFrame =
    cat.amendmentBills.getOrElse(
      throw HttpError(404, s"Period $period has no amendment table loaded"))

  // ------------------------------------------------------- detail routes
  // Reference pages.py:130 (vote), :174 (law), amendments router — the
  // browse loop's click-through surface. Each is a single-key lookup:
  // 404 on an unknown id, lang-keyed caching, 15 s budget.

  /** Serialize a single-row DataFrame as one JSON object, or 404 with
    * `missing` when it has no rows.
    */
  private def singleObject(df: DataFrame, missing: => String): Array[Byte] = {
    val json = rows(df)
    if (json == "[]") throw HttpError(404, missing)
    utf8(json.stripPrefix("[").stripSuffix("]"))
  }

  /** GET /api/votes/{id} (`votes_service.py:303-319` via pages.py:130):
    * info + party_breakdown + mp_votes, one row narrowed from the
    * Analyzer's resident vote-detail base.
    */
  private def voteDetailRoute(q: Map[String, String], id: Long): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val lang = langParam(q)
    answer(GraftServer.key("vote_detail", period, id, lang), 15000, "vote detail") {
      singleObject(cat.analyzer.voteDetailRow(id, lang, cat.voteTopics), s"Vote $id not found")
    }
  }

  /** GET /api/laws/{ct} (`law_service.py:247-312` via pages.py:174). */
  private def lawDetailRoute(q: Map[String, String], ct: Int): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val laws = lawsOf(period, cat)
    val lang = langParam(q)
    answer(GraftServer.key("law_detail", period, ct, lang), 15000, "law detail") {
      singleObject(Details.lawDetail(laws, cat.amendmentBills, ct, lang), s"Law $ct not found")
    }
  }

  /** GET /api/amendments/{schuze}/{bod}
    * (`amendment_service.py:168-246`): the bill's nested amendment list.
    */
  private def amendmentDetailRoute(q: Map[String, String],
      schuze: Int, bod: Int): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val facts = cat.amendmentFacts.getOrElse(
      throw HttpError(404, s"Period $period has no amendment facts loaded"))
    val lang = langParam(q)
    answer(GraftServer.key("amendment_detail", period, schuze, bod, lang), 15000,
        "amendment detail") {
      val grouped = rows(Details.amendmentDetail(facts, schuze, bod))
      if (grouped == "[]")
        throw HttpError(404, s"No amendments for $schuze/$bod")
      val count = Details.ofAgendaItem(facts, schuze, bod).count()
      utf8(s"""{"schuze":$schuze,"bod":$bod,"amendment_count":$count,""" +
        s""""amendments":$grouped}""")
    }
  }

  /** GET /api/amendments/{schuze}/{bod}/mp-votes?vote={id_hlasovani}
    * (`amendment_service.py:275-339`): vote header + party breakdown +
    * per-MP labels for one amendment vote, one row narrowed from the
    * Analyzer's resident vote-detail base.
    */
  private def amendmentMpVotesRoute(q: Map[String, String],
      schuze: Int, bod: Int): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val id = q.get("vote").flatMap(_.toLongOption)
      .getOrElse(throw HttpError(422, "Missing or invalid 'vote' param"))
    answer(GraftServer.key("amendment_mp", period, schuze, bod, id), 15000,
        "amendment MP votes") {
      singleObject(cat.analyzer.amendmentVoteRow(id), s"Vote $id not found")
    }
  }

  // ---------------------------------------------------------- HTML pages

  /** The reference's page routes (`routes/pages.py` + Jinja2/HTMX),
    * rendered server-side from the SAME catalog the /api routes serve:
    * index (stats), votes (+detail), laws, amendments, loyalty,
    * attendance, similarity — each a minimal semantic-HTML table with
    * the nav and a cs/en toggle ([[PageRender]]). The chart pages embed
    * the PNG endpoints (CSP img-src 'self').
    */
  private def handlePages(ex: HttpExchange): Unit = {
    val q = parseQuery(ex.getRequestURI.getRawQuery)
    try {
      if (ex.getRequestMethod != "GET") throw HttpError(405, "Method not allowed")
      val route = ex.getRequestURI.getPath.stripSuffix("/").stripPrefix("/")
      if (!limiter.allow(rateKey(ex, "pages"),
          limits.getOrElse("pages", 60)))
        throw HttpError(429, "Rate limit exceeded: pages")
      val (period, cat) = periodCatalog(q)
      val lang = langParam(q)
      def t(cs: String, en: String) = if (lang == "en") en else cs
      val d = cat.analyzer.data
      // Every key input is validated before any key is built, whether
      // the route reads it or not: an oversized value 422s instead of
      // minting one cache entry per arbitrary multi-KB garbage value
      // (entry-cap thrash), and the numeric params must parse in range.
      // "outcome" is capped at the tightest read any page performs.
      Seq("page", "top").foreach(strParam(q, _, 10))
      val page = intParam(q, "page", 1, 1, 1000)
      val top = Option.when(q.get("top").exists(_.nonEmpty))(
        intParam(q, "top", 0, 1, Analyzer.MaxTop))
      val search = strParam(q, "search", 200)
      val status = strParam(q, "status", 200)
      val topic = strParam(q, "topic", 200)
      val outcome = strParam(q, "outcome", 10)
      // rendered pages memoize like the JSON routes (and drop with the
      // period on refresh); each key holds only the params its route
      // reads, in their parsed form, so `page=01` and `page=1` (or an
      // ignored `search=` on a plain page) share one entry
      def html(parts: Any*)(body: => String): Array[Byte] =
        answer(GraftServer.key("pages", period, (Seq(route, lang) ++ parts): _*), 15000,
          s"page /$route")(utf8(body))
      def opt(s: String) = Some(s).filter(_.nonEmpty)
      val body = route match {
        case "" => html() {
          PageRender.page(t("Přehled období", "Period overview"), lang, period,
            PageRender.table(cat.analyzer.periodStats(), lang))
        }
        case "votes" => html(page) {
          val pr = cat.analyzer.listVotesPaged(page = page)
          PageRender.page(t("Hlasování", "Votes"), lang, period,
            PageRender.table(withOutcome(pr.rows, lang), lang) +
              s"<p>${t("strana", "page")} ${pr.page}/${pr.totalPages}</p>")
        }
        case GraftServer.VoteDetailPath(idStr) => html() {
          val id = idStr.toLong
          val detail = cat.analyzer.voteDetailRow(id, lang, cat.voteTopics)
          if (detail.isEmpty) throw HttpError(404, s"Vote $id not found")
          PageRender.page(t(s"Hlasování $id", s"Vote $id"), lang, period,
            PageRender.table(detail.select("info.*"), lang) +
              s"<h2>${t("Podle stran", "By party")}</h2>" +
              PageRender.table(detail.select(inline(col("party_breakdown"))), lang) +
              s"<h2>${t("Poslanci", "MPs")}</h2>" +
              PageRender.table(detail.select(inline(col("mp_votes"))), lang))
        }
        case "laws" =>
          val laws = lawsOf(period, cat)
          html(page) {
            val pr = LawsBrowser.listLawsPaged(LawsBrowser.inLang(laws, lang), page = page)
            PageRender.page(t("Zákony", "Laws"), lang, period,
              PageRender.table(withStatus(pr.rows, lang), lang))
          }
        case "amendments" =>
          val bills = billsOf(period, cat)
          html(page) {
            val pr = Amendments.listBillsPaged(bills, d.tiskLookup, None, page)
            PageRender.page(t("Pozměňovací návrhy", "Amendments"), lang, period,
              PageRender.table(pr.rows, lang))
          }
        case "loyalty" => html() {
          PageRender.page(t("Loajalita", "Loyalty"), lang, period,
            s"""<img src="/api/loyalty.png?period=$period" alt="loyalty">""" +
              PageRender.table(cat.analyzer.loyalty(30), lang))
        }
        case "attendance" => html() {
          PageRender.page(t("Účast", "Attendance"), lang, period,
            s"""<img src="/api/attendance.png?period=$period" alt="attendance">""" +
              PageRender.table(cat.analyzer.attendance(30), lang))
        }
        case "similarity" => html() {
          PageRender.page(t("Podobnost", "Similarity"), lang, period,
            s"""<img src="/api/similarity.png?period=$period" alt="pca">""" +
              PageRender.table(cat.analyzer.crossPartySimilarity(20), lang))
        }

        // HTMX-style partials (reference templates/partials/*_list.html +
        // the HTML-fragment responses of routes/voting.py etc.): the
        // listing region alone — found line, localized table, prev/next
        // carrying the filters — for clients that swap only the results
        case "fragments/votes" => html(page, search, outcome) {
          val pr = cat.analyzer.listVotesPaged(opt(search), opt(outcome), None, page)
          PageRender.listFragment(withOutcome(pr.rows, lang),
            pr.total, pr.page, pr.totalPages, lang, "/fragments/votes",
            Map("period" -> period.toString, "search" -> search, "outcome" -> outcome))
        }
        case "fragments/laws" =>
          val laws = lawsOf(period, cat)
          html(page, search, status, topic) {
            val pr = LawsBrowser.listLawsPaged(LawsBrowser.inLang(laws, lang),
              opt(search), opt(status), opt(topic), page)
            PageRender.listFragment(withStatus(pr.rows, lang),
              pr.total, pr.page, pr.totalPages, lang, "/fragments/laws",
              Map("period" -> period.toString, "search" -> search,
                "status" -> status, "topic" -> topic))
          }
        case "fragments/amendments" =>
          val bills = billsOf(period, cat)
          html(page, search) {
            val pr = Amendments.listBillsPaged(bills, d.tiskLookup, opt(search), page)
            PageRender.listFragment(pr.rows, pr.total, pr.page, pr.totalPages,
              lang, "/fragments/amendments",
              Map("period" -> period.toString, "search" -> search))
          }
        case "fragments/loyalty" =>
          val n = top.getOrElse(30)
          html(n)(PageRender.table(cat.analyzer.loyalty(n), lang))
        case "fragments/attendance" =>
          val n = top.getOrElse(30)
          html(n)(PageRender.table(cat.analyzer.attendance(n), lang))
        case "fragments/similarity" =>
          val n = top.getOrElse(20)
          html(n)(PageRender.table(cat.analyzer.crossPartySimilarity(n), lang))

        case other => throw HttpError(404, s"No page /$other")
      }
      sendBytes(ex, 200, body, "text/html; charset=utf-8")
    } catch {
      case HttpError(status, detail) =>
        send(ex, status, s"""{"detail":${jstr(detail)}}""")
      case e: Throwable =>
        send(ex, 500, s"""{"detail":${jstr(s"Internal error: ${e.getMessage}")}}""")
    } finally ex.close()
  }

  /** POST /api/feedback (`routes/feedback.py:40-116`): same-origin check
    * (Origin/Referer host must match Host — the reference's CSRF guard),
    * field envelope, 3/hour rate limit, then the external sink. Always a
    * 200 with a success/error body, like the reference's HTML partial.
    */
  private def feedbackRoute(ex: HttpExchange): String = {
    def fail(msg: String) = s"""{"success":false,"error":${jstr(msg)}}"""
    if (!feedbackLimiter.allow(rateKey(ex, "feedback"), 3))
      throw HttpError(429, "Rate limit exceeded: 3 per hour")
    val host = Option(ex.getRequestHeaders.getFirst("Host"))
      .map(_.takeWhile(_ != ':')).getOrElse("")
    val originHost = Seq("Origin", "Referer")
      .flatMap(h => Option(ex.getRequestHeaders.getFirst(h)))
      .headOption.flatMap { v =>
        try Option(java.net.URI.create(v).getHost)
        catch { case _: Exception => None }
      }
    if (!originHost.contains(host)) return fail("Cross-origin submission rejected")
    feedback match {
      case None => fail("Feedback is not enabled")
      case Some(sink) =>
        // bounded read: the form's legitimate maximum is ~2.5 KB
        // (title 200 + body 2000 + params); an unbounded readAllBytes
        // would buffer an arbitrarily large POST on the heap
        val raw = ex.getRequestBody.readNBytes(GraftServer.MaxFeedbackBytes + 1)
        if (raw.length > GraftServer.MaxFeedbackBytes)
          return fail("Request body too large")
        val form = parseQuery(new String(raw, StandardCharsets.UTF_8))
        val title = form.getOrElse("title", "")
        val body = form.getOrElse("body", "")
        Feedback.validateFields(title, body) match {
          case Some(err) => fail(err)
          case None =>
            val voteId = form.get("vote_id").flatMap(_.toLongOption).getOrElse(0L)
            val period = form.get("period").flatMap(_.toIntOption).getOrElse(0)
            val pageUrl = Option(ex.getRequestHeaders.getFirst("Referer"))
              .getOrElse(s"/votes/$voteId?period=$period")
            sink.createIssue(title, body, voteId, period, pageUrl, "cs") match {
              case Some(url) => s"""{"success":true,"issue_url":${jstr(url)}}"""
              case None => fail("Could not record feedback")
            }
        }
    }
  }

  /** GET /api/tisk-text (`routes/tisk.py:31-63`): extracted print text
    * through the S9 ingestion boundary; a missing text is a 200 with
    * `available: false`, like the reference's notice partial.
    */
  private def tiskTextRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val ct = intParam(q, "ct", 0, 0, 999999)
    cat.tiskTexts match {
      case None => utf8(s"""{"available":false,"detail":"No text service loaded"}""")
      case Some(svc) if !svc.hasText(period, ct) =>
        utf8(s"""{"available":false,"detail":"No text for print $ct"}""")
      case Some(svc) =>
        answer(GraftServer.key("tisk_text", period, ct), 15000, "print text") {
          val text = svc.texts(cat.analyzer.data.votes.sparkSession, period)
            .filter(col("ct") === ct).select("text")
            .collect().headOption.map(_.getString(0)).getOrElse("")
          utf8(s"""{"available":true,"ct":$ct,"text":${jstr(text)}}""")
        }
    }
  }

  // chart endpoints (`routes/charts.py:39-149`): each bar chart's
  // label/value rows are built once, then served as JSON data
  // (`/api/charts/...`) or rasterized by ChartRender (`/api/*.png`,
  // JDK-only) under their own keys

  private def chartLabel: org.apache.spark.sql.Column =
    concat(col("jmeno"), lit(" "), col("prijmeni"),
      lit(" ("), coalesce(col("party"), lit("?")), lit(")"))

  /** A bar chart's rows as JSON, or its PNG. */
  private def chartBody(chart: DataFrame, png: Boolean, title: String,
      axis: String): Array[Byte] =
    if (!png) utf8(rows(chart))
    else ChartRender.barChart(title, axis,
      chart.select(col("label"), col("value").cast("double")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq)

  private def loyaltyChartRoute(q: Map[String, String], png: Boolean): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 20, 1, Analyzer.MaxTop)
    answer(GraftServer.key(if (png) "png_loyalty" else "chart_loyalty", period, top), 20000,
        "loyalty chart") {
      chartBody(cat.analyzer.loyalty(top)
          .select(chartLabel.as("label"), col("rebellion_pct").as("value")),
        png, "Rebellion rate by MP", "rebellion %")
    }
  }

  /** `charts.py` chart_meta: sort key → plotted field. */
  private val AttendanceChartField = Map(
    "worst" -> "attendance_pct", "best" -> "attendance_pct",
    "most_active" -> "active", "least_active" -> "active",
    "most_abstained" -> "abstained", "most_excused" -> "excused",
    "most_passive" -> "passive", "most_absent" -> "absent",
    "most_yes" -> "yes_votes", "most_no" -> "no_votes")

  private def attendanceChartRoute(q: Map[String, String], png: Boolean): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 20, 1, Analyzer.MaxTop)
    val sort = strParam(q, "sort", 20) match { case "" => "worst"; case s => s }
    val party = strParam(q, "party", 200)
    val field = AttendanceChartField.getOrElse(sort, "attendance_pct")
    answer(GraftServer.key(if (png) "png_attendance" else "chart_attendance",
        period, top, sort, party), 20000, "attendance chart") {
      chartBody(cat.analyzer.attendance(top, sort, Some(party).filter(_.nonEmpty))
          .select(chartLabel.as("label"), col(field).as("value")),
        png, s"Attendance ($sort)", field)
    }
  }

  private def similarityPngRoute(q: Map[String, String]): Array[Byte] = {
    val (period, cat) = periodCatalog(q)
    answer(GraftServer.key("png_similarity", period), 30000, "similarity chart") {
      val pts = cat.analyzer.pcaCoords()
        .select(col("party"), col("x"), col("y"))
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      ChartRender.scatterChart("Voting-pattern PCA", "PC1", "PC2", pts)
    }
  }
}

object GraftServer {
  val JsonType = "application/json; charset=utf-8"

  /** Reference `config.py` PERIOD_YEARS — the valid electoral periods. */
  val PeriodYears: Map[Int, String] = Map(
    10 -> "2025", 9 -> "2021", 8 -> "2017", 7 -> "2013", 6 -> "2010",
    5 -> "2006", 4 -> "2002", 3 -> "1998", 2 -> "1996", 1 -> "1993")

  val DefaultPeriod = 10

  /** Turn on TCP_NODELAY for the sockets the JDK's HTTP server accepts.
    * The server writes a response's headers and its body as two
    * segments; with Nagle's algorithm on (the JDK's default) the body
    * waits for the ACK of the headers, which the client delays by up to
    * 40 ms on Linux: every response, memoized or not, would wait that
    * long. The JDK reads `sun.net.httpserver.nodelay` once per JVM, when
    * the first `HttpServer` is created, so this runs before each create;
    * a value the JVM was started with is kept.
    */
  private def enableNoDelay(): Unit =
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")

  /** Hard ceiling on rows serialized into any JSON response — larger than
    * every legitimate route result (top ≤ 200, pages of 30), small enough
    * that a route that forgot its clamp cannot OOM the driver.
    */
  val MaxResponseRows = 10000

  /** Feedback POST body ceiling: generous multiple of the field
    * envelope's ~2.5 KB legitimate maximum (URL-encoding expansion).
    */
  val MaxFeedbackBytes = 32 * 1024

  /** Per-route requests/minute (`@limiter.limit` values in the routes). */
  val DefaultLimits: Map[String, Int] = Map(
    "loyalty" -> 60, "attendance" -> 60, "similarity" -> 60, "pca" -> 30,
    "votes" -> 120, "laws" -> 120, "amendments" -> 120,
    "amendment-coalitions" -> 15, "stats" -> 120, "health" -> 120,
    "charts" -> 30, "pages" -> 60)

  /** Detail-page path shapes (digit caps keep ids inside Long/Int). */
  private[serving] val VoteDetailPath = "votes/([0-9]{1,18})".r
  private[serving] val LawDetailPath = "laws/([0-9]{1,9})".r
  private[serving] val AmendDetailPath = "amendments/([0-9]{1,9})/([0-9]{1,9})".r
  private[serving] val AmendMpVotesPath =
    "amendments/([0-9]{1,9})/([0-9]{1,9})/mp-votes".r

  /** Cache keys join user params with `:` — but `:` is legal inside the
    * params themselves (search strings up to 200 chars), so a raw join is
    * not injective: `search=a:b&outcome=c` and `search=a&outcome=b&topic=c`
    * would collide on `votes:1:a:b:c:1` and one query's cached payload
    * would be served for the other. Percent-escaping `%` and `:` in each
    * segment makes the join injective. A prefix never contains `:` and
    * the period is an int, so the period is always the second field
    * ([[periodOf]]).
    */
  def key(prefix: String, period: Int, parts: Any*): String =
    s"$prefix:$period:" + parts.map(
      _.toString.replace("%", "%25").replace(":", "%3A")).mkString(":")

  /** The period field of a [[key]]. */
  def periodOf(key: String): Option[Int] =
    key.split(":", 3) match {
      case Array(_, period, _*) => period.toIntOption
      case _ => None
    }
}
