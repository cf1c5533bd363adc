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
  * responses are JSON rows (the engine's native shape via
  * `Dataset.toJSON`) instead of Jinja2 HTMX partials; chart endpoints
  * serve both chart-shaped DATA (`/api/charts/...`) and rendered PNGs
  * (`/api/{loyalty,attendance,similarity}.png` via [[ChartRender]] —
  * the JDK raster stack, matching the reference's seaborn endpoints in
  * shape if not in typography).
  *
  * Kept from the reference, behavior-for-behavior:
  *  - period validation: unknown period → 404 (`routes/utils.py:10-13`)
  *  - param envelopes: top ∈ [1,200], page ∈ [1,1000], bounded string
  *    lengths → 422 outside them (FastAPI Query(ge/le/max_length) parity)
  *  - result memoization through [[AnalysisCache]] with the reference's
  *    key scheme `loyalty:{period}:{top}:{party}` (`routes/voting.py:34`)
  *  - per-route rate limits (60/120/30/15 per minute, `@limiter.limit`)
  *  - compute timeouts: 15 s loyalty/attendance, 30 s similarity/PCA
  *    (`middleware.run_with_timeout`) → 504 on expiry
  *  - a data refresh clears the whole cache (`data_reader.py:444`);
  *    [[invalidatePeriod]] covers the amendment pipeline's prefix
  *    invalidation (`data_reader.py:468-469`)
  */
class GraftServer(
    periods: Map[Int, PeriodCatalog],
    port: Int = 0,
    val cache: AnalysisCache[String] = new AnalysisCache[String](),
    limiter: RateLimiter = new RateLimiter(),
    limits: Map[String, Int] = GraftServer.DefaultLimits,
    timeoutMillis: Long => Long = identity,
    feedback: Option[FeedbackSink] = None,
    // the reference limits feedback to 3/HOUR, not per minute
    feedbackLimiter: RateLimiter = new RateLimiter(windowMillis = 3600L * 1000)) {

  // the live catalog map is swappable: the daily refresh replaces a
  // period's tables wholesale (reference `data_reader.py` reload)
  @volatile private var livePeriods: Map[Int, PeriodCatalog] = periods

  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
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

  /** Data-refresh invalidation for one period: every cache key scheme
    * embeds the period as the second `:`-separated field, so dropping
    * `prefix:period:` for each route prefix clears exactly that period's
    * results (the reference's amendment-pipeline shape,
    * `data_reader.py:468-469`; its full-reload path just calls
    * `cache.invalidatePrefix("")`).
    */
  def invalidatePeriod(period: Int): Int =
    GraftServer.KeyPrefixes.map(p => cache.invalidatePrefix(s"$p:$period:")).sum +
      GraftServer.PngKeyPrefixes
        .map(p => pngCache.invalidatePrefix(s"$p:$period:")).sum

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

  private def send(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json; charset=utf-8"): Unit =
    sendBytes(ex, status, body.getBytes(StandardCharsets.UTF_8), contentType)

  private def sendBytes(ex: HttpExchange, status: Int, bytes: Array[Byte],
      contentType: String): Unit = {
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
    * result size (top ∈ [1,200], paged listings), but `collect()` on the
    * driver must not depend on each future route remembering to — the
    * structural limit turns a forgotten clamp into a truncated payload
    * instead of a driver OOM.
    */
  private[serving] def rows(df: DataFrame): String =
    df.limit(GraftServer.MaxResponseRows).toJSON.collect()
      .mkString("[", ",", "]")

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
      route match {
        case "loyalty.png" | "attendance.png" | "similarity.png" =>
          sendBytes(ex, 200, pngRoute(route, q), "image/png")
          return
        case _ =>
      }
      val body = route match {
        case "health" =>
          s"""{"status":"ok","periods_loaded":[${livePeriods.keys.toSeq.sorted.mkString(",")}]}"""
        case "loyalty" => loyaltyRoute(q)
        case "attendance" => attendanceRoute(q)
        case "similarity" => similarityRoute(q)
        case "pca" => pcaRoute(q)
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
        case "charts/loyalty" => chartLoyaltyRoute(q)
        case "charts/attendance" => chartAttendanceRoute(q)
        case "charts/similarity" => chartSimilarityRoute(q)
        case other => throw HttpError(404, s"No route /api/$other")
      }
      send(ex, 200, body)
    } catch {
      case HttpError(status, detail) =>
        send(ex, status, s"""{"detail":${jstr(detail)}}""")
      case e: Throwable =>
        send(ex, 500, s"""{"detail":${jstr(s"Internal error: ${e.getMessage}")}}""")
    } finally ex.close()
  }

  private def loyaltyRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 30, 1, 200)
    val party = strParam(q, "party", 200)
    cache.getOrCompute(GraftServer.key("loyalty", period, top, party)) {
      withTimeout(15000, "loyalty analysis") {
        rows(cat.analyzer.loyalty(top, Some(party).filter(_.nonEmpty)))
      }
    }
  }

  private def attendanceRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 30, 1, 200)
    val sort = strParam(q, "sort", 20) match { case "" => "worst"; case s => s }
    val party = strParam(q, "party", 200)
    cache.getOrCompute(GraftServer.key("attendance", period, top, sort, party)) {
      withTimeout(15000, "attendance analysis") {
        rows(cat.analyzer.attendance(top, sort, Some(party).filter(_.nonEmpty)))
      }
    }
  }

  private def similarityRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 20, 1, 200)
    cache.getOrCompute(GraftServer.key("similarity", period, top)) {
      withTimeout(30000, "similarity analysis") {
        rows(cat.analyzer.crossPartySimilarity(top))
      }
    }
  }

  private def pcaRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    // trailing ':' keeps period-prefix invalidation exact ("pca:1:" can
    // never prefix-match a period-10 key)
    cache.getOrCompute(GraftServer.key("similarity_pca", period)) {
      withTimeout(30000, "PCA analysis") {
        rows(cat.analyzer.pcaCoords())
      }
    }
  }

  private def votesRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val search = strParam(q, "search", 200)
    val outcome = strParam(q, "outcome", 20)
    val topic = strParam(q, "topic", 200)
    val page = intParam(q, "page", 1, 1, 1000)
    val lang = langParam(q)
    cache.getOrCompute(
        GraftServer.key("votes", period, search, outcome, topic, page, lang)) {
      val topicKeys = Some(topic).filter(_.nonEmpty).flatMap { t =>
        cat.voteTopics.map(_.filter(col("topic") === t).select("schuze", "bod"))
      }
      val d = cat.analyzer.data
      val pr = graft.psp.VotesBrowser.listVotesPaged(
        d.votes.sparkSession, d.votes, d.voidVotes,
        Some(search).filter(_.nonEmpty), Some(outcome).filter(_.nonEmpty),
        topicKeys, page)
      // `_enrich_vote_rows` (votes_service.py:135-144): localized outcome
      // label on each listed row — serving-layer projection only, so the
      // browser query itself stays oracle-comparable
      paged(pr.copy(rows = pr.rows.withColumn("outcome_label",
        Details.outcomeLabel(col("vysledek"), lang))))
    }
  }

  private def lawsRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val laws = cat.laws.getOrElse(
      throw HttpError(404, s"Period $period has no laws table loaded"))
    val search = strParam(q, "search", 200)
    val status = strParam(q, "status", 200)
    val topic = strParam(q, "topic", 200)
    val page = intParam(q, "page", 1, 1, 1000)
    val lang = langParam(q)
    cache.getOrCompute(
        GraftServer.key("laws", period, search, status, topic, page, lang)) {
      // English listings browse (and topic-filter) the English labels
      // when the TopicPipeline attached them (`law_service.py` topics_en)
      val langLaws =
        if (lang == "en" && laws.columns.contains("topics_en"))
          laws.withColumn("topics",
            when(size(col("topics_en")) > 0, col("topics_en"))
              .otherwise(col("topics")))
        else laws
      // raw `status` stays (reference parity + filter compatibility);
      // `status_label` localizes the canonical trio for en readers
      val res = LawsBrowser.listLawsPaged(
        langLaws, Some(search).filter(_.nonEmpty), Some(status).filter(_.nonEmpty),
        Some(topic).filter(_.nonEmpty), page)
      paged(res.copy(rows = res.rows
        .withColumn("status_label", I18n.statusLabel(col("status"), lang))))
    }
  }

  private def amendmentsRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val bills = cat.amendmentBills.getOrElse(
      throw HttpError(404, s"Period $period has no amendment table loaded"))
    val search = strParam(q, "search", 200)
    val page = intParam(q, "page", 1, 1, 1000)
    cache.getOrCompute(GraftServer.key("amendments", period, search, page)) {
      paged(Amendments.listBillsPaged(
        bills, cat.analyzer.data.tiskLookup, Some(search).filter(_.nonEmpty), page))
    }
  }

  private def coalitionsRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val amendIds = cat.amendVoteIds.getOrElse(
      throw HttpError(404, s"Period $period has no amendment votes loaded"))
    cache.getOrCompute(GraftServer.key("amendment-coalitions", period)) {
      withTimeout(30000, "coalition analysis") {
        val d = cat.analyzer.data
        val (agreement, rebels, cohesion) =
          Coalitions.all(d.mpVotes, d.voidVotes, d.mpInfo, amendIds)
        val out = s"""{"party_agreement":${rows(agreement)},""" +
          s""""rebels":${rows(rebels)},"cohesion":${rows(cohesion)}}"""
        graft.operators.CacheRegistry.drain()
        out
      }
    }
  }

  private def statsRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    // lang is accepted + keyed for parity with the reference's stats page
    // even though the numeric envelope is language-invariant
    cache.getOrCompute(GraftServer.key("stats", period, langParam(q))) {
      rows(cat.analyzer.periodStats())
    }
  }

  /** GET /api/topics: the distinct topic labels the votes/laws filter
    * dropdowns offer (reference `tisk_models.py:147-160`
    * get_all_topic_labels — union over the period's prints, lang-aware,
    * sorted).
    */
  private def topicsRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val lang = langParam(q)
    cache.getOrCompute(GraftServer.key("topics", period, lang)) {
      val fromLaws = cat.laws.toSeq.map { laws =>
        val l =
          if (lang == "en" && laws.columns.contains("topics_en"))
            laws.withColumn("topics",
              when(size(col("topics_en")) > 0, col("topics_en"))
                .otherwise(col("topics")))
          else laws
        LawsBrowser.allTopics(l)
      }
      val fromVotes = cat.voteTopics.toSeq.map { t =>
        val c =
          if (lang == "en" && t.columns.contains("topic_en"))
            coalesce(col("topic_en"), col("topic"))
          else col("topic")
        t.select(c.as("topic"))
      }
      val all = fromLaws ++ fromVotes
      if (all.isEmpty) "[]"
      else rows(all.reduce(_.unionAll(_)).distinct().orderBy("topic"))
    }
  }

  /** GET /api/statuses: the distinct bill statuses the laws filter
    * offers (reference `law_service.py:48-60` get_all_status_labels).
    */
  private def statusesRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val laws = cat.laws.getOrElse(
      throw HttpError(404, s"Period $period has no laws table loaded"))
    cache.getOrCompute(GraftServer.key("statuses", period)) {
      rows(laws.select(col("status")).distinct().orderBy("status"))
    }
  }

  // ------------------------------------------------------- detail routes
  // Reference pages.py:130 (vote), :174 (law), amendments router — the
  // browse loop's click-through surface. Each is a single-key lookup:
  // 404 on an unknown id, lang-keyed caching, 15 s budget.

  /** Serialize a single-row DataFrame as one JSON object; None = 0 rows. */
  private def singleObject(df: DataFrame): Option[String] = {
    val json = rows(df)
    if (json == "[]") None else Some(json.stripPrefix("[").stripSuffix("]"))
  }

  /** Party breakdown in the reference's field names
    * (`amendment_service.py:299-314`): yes/no/abstained/passive/absent/
    * excused/total per party.
    */
  private def namedBreakdown(d: graft.psp.PeriodData, id: Long): DataFrame =
    graft.psp.VotesBrowser.partyBreakdown(d.mpVotes, d.mpInfo, id)
      .select(col("party"),
        col("a_cnt").as("yes"), col("b_cnt").as("no"),
        col("c_cnt").as("abstained"), col("f_cnt").as("passive"),
        col("@_cnt").as("absent"), col("m_cnt").as("excused"),
        col("total_cnt").as("total"))

  /** GET /api/votes/{id} (`votes_service.py:303-319` via pages.py:130):
    * info + party_breakdown + mp_votes.
    */
  private def voteDetailRoute(q: Map[String, String], id: Long): String = {
    val (period, cat) = periodCatalog(q)
    val lang = langParam(q)
    cache.getOrCompute(GraftServer.key("vote_detail", period, id, lang)) {
      withTimeout(15000, "vote detail") {
        val d = cat.analyzer.data
        val info = singleObject(Details.voteInfo(
            d.votes, d.tiskLookup, cat.voteTopics, id, lang))
          .getOrElse(throw HttpError(404, s"Vote $id not found"))
        s"""{"info":$info,""" +
          s""""party_breakdown":${rows(namedBreakdown(d, id))},""" +
          s""""mp_votes":${rows(Details.voteMpList(d.mpVotes, d.mpInfo, id))}}"""
      }
    }
  }

  /** GET /api/laws/{ct} (`law_service.py:247-312` via pages.py:174). */
  private def lawDetailRoute(q: Map[String, String], ct: Int): String = {
    val (period, cat) = periodCatalog(q)
    val laws = cat.laws.getOrElse(
      throw HttpError(404, s"Period $period has no laws table loaded"))
    val lang = langParam(q)
    cache.getOrCompute(GraftServer.key("law_detail", period, ct, lang)) {
      withTimeout(15000, "law detail") {
        singleObject(Details.lawDetail(laws, cat.amendmentBills, ct, lang))
          .getOrElse(throw HttpError(404, s"Law $ct not found"))
      }
    }
  }

  /** GET /api/amendments/{schuze}/{bod}
    * (`amendment_service.py:168-246`): the bill's nested amendment list.
    */
  private def amendmentDetailRoute(q: Map[String, String],
      schuze: Int, bod: Int): String = {
    val (period, cat) = periodCatalog(q)
    val facts = cat.amendmentFacts.getOrElse(
      throw HttpError(404, s"Period $period has no amendment facts loaded"))
    val lang = langParam(q)
    cache.getOrCompute(
        GraftServer.key("amendment_detail", period, schuze, bod, lang)) {
      withTimeout(15000, "amendment detail") {
        val grouped = rows(Details.amendmentDetail(facts, schuze, bod))
        if (grouped == "[]")
          throw HttpError(404, s"No amendments for $schuze/$bod")
        val count = facts
          .filter(col("schuze") === schuze && col("bod") === bod).count()
        s"""{"schuze":$schuze,"bod":$bod,"amendment_count":$count,""" +
          s""""amendments":$grouped}"""
      }
    }
  }

  /** GET /api/amendments/{schuze}/{bod}/mp-votes?vote={id_hlasovani}
    * (`amendment_service.py:275-339`): vote header + party breakdown +
    * per-MP labels for one amendment vote.
    */
  private def amendmentMpVotesRoute(q: Map[String, String],
      schuze: Int, bod: Int): String = {
    val (period, cat) = periodCatalog(q)
    val id = q.get("vote").flatMap(_.toLongOption)
      .getOrElse(throw HttpError(422, "Missing or invalid 'vote' param"))
    cache.getOrCompute(
        GraftServer.key("amendment_mp", period, schuze, bod, id)) {
      withTimeout(15000, "amendment MP votes") {
        val d = cat.analyzer.data
        val header = singleObject(d.votes
            .filter(col("id_hlasovani") === id)
            .select(col("id_hlasovani"), col("pro"), col("proti"),
              col("zdrzel"), col("nehlasoval"), col("vysledek")))
          .getOrElse(throw HttpError(404, s"Vote $id not found"))
        s"""{"vote":$header,""" +
          s""""party_breakdown":${rows(namedBreakdown(d, id))},""" +
          s""""mp_votes":${rows(Details.amendmentMpList(d.mpVotes, d.mpInfo, id))}}"""
      }
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
      // rendered pages memoize like the JSON routes (and drop with the
      // period on refresh); 404s throw before the cache stores anything.
      // Key inputs are VALIDATED FIRST: oversized values 422 before the
      // key is computed, so a client cannot mint one cache entry per
      // arbitrary multi-KB garbage value (entry-cap thrash), and the
      // numeric params must parse in range.
      // "outcome" matches the tightest read any page/fragment body
      // performs (10, the fragments/votes key below) — a looser cap here
      // would let an 11+-char value pass "validated first" and then 422
      // inside key computation, making the invariant honest only by
      // accident
      Seq("page" -> 10, "top" -> 10, "search" -> 200, "status" -> 200,
        "topic" -> 200, "outcome" -> 10)
        .foreach { case (n, cap) => strParam(q, n, cap) }
      if (q.contains("page")) intParam(q, "page", 1, 1, 1000)
      if (q.contains("top")) intParam(q, "top", 30, 1, 200)
      // Each route's key holds ONLY the params that route consumes, and
      // each is NORMALIZED through the same intParam/strParam reads the
      // route body performs — so `page=01` and `page=1` (or an ignored
      // `search=` on a plain page) share one entry instead of churning
      // the cache's entry cap with identical rendered pages.
      val keyed: Seq[String] = route match {
        case "votes" | "laws" | "amendments" =>
          Seq(intParam(q, "page", 1, 1, 1000).toString)
        case "fragments/votes" =>
          Seq(intParam(q, "page", 1, 1, 1000).toString,
            strParam(q, "search", 200), strParam(q, "outcome", 10))
        case "fragments/laws" =>
          Seq(intParam(q, "page", 1, 1, 1000).toString,
            strParam(q, "search", 200), strParam(q, "status", 200),
            strParam(q, "topic", 200))
        case "fragments/amendments" =>
          Seq(intParam(q, "page", 1, 1, 1000).toString,
            strParam(q, "search", 200))
        case "fragments/loyalty" | "fragments/attendance" =>
          Seq(intParam(q, "top", 30, 1, 200).toString)
        case "fragments/similarity" =>
          Seq(intParam(q, "top", 20, 1, 200).toString)
        // index, vote-detail (id is in the route), and the fixed-top
        // chart pages take no query params
        case _ => Nil
      }
      val html = cache.getOrCompute(GraftServer.key(
          "pages", period, (Seq(route, lang) ++ keyed): _*)) { route match {
        case "" =>
          PageRender.page(t("Přehled období", "Period overview"), lang, period,
            PageRender.table(cat.analyzer.periodStats(), lang))
        case "votes" =>
          val page = intParam(q, "page", 1, 1, 1000)
          val pr = graft.psp.VotesBrowser.listVotesPaged(
            d.votes.sparkSession, d.votes, d.voidVotes, None, None, None, page)
          PageRender.page(t("Hlasování", "Votes"), lang, period,
            PageRender.table(pr.rows
              .withColumn("outcome_label",
                Details.outcomeLabel(col("vysledek"), lang)), lang) +
              s"<p>${t("strana", "page")} ${pr.page}/${pr.totalPages}</p>")
        case GraftServer.VoteDetailPath(idStr) =>
          val id = idStr.toLong
          val info = Details.voteInfo(d.votes, d.tiskLookup, cat.voteTopics, id, lang)
          if (info.isEmpty) throw HttpError(404, s"Vote $id not found")
          PageRender.page(t(s"Hlasování $id", s"Vote $id"), lang, period,
            PageRender.table(info, lang) +
              s"<h2>${t("Podle stran", "By party")}</h2>" +
              PageRender.table(namedBreakdown(d, id), lang) +
              s"<h2>${t("Poslanci", "MPs")}</h2>" +
              PageRender.table(Details.voteMpList(d.mpVotes, d.mpInfo, id), lang))
        case "laws" =>
          val laws = cat.laws.getOrElse(
            throw HttpError(404, s"Period $period has no laws table loaded"))
          val page = intParam(q, "page", 1, 1, 1000)
          val pr = LawsBrowser.listLawsPaged(laws, None, None, None, page)
          PageRender.page(t("Zákony", "Laws"), lang, period,
            PageRender.table(pr.rows
              .withColumn("status_label",
                I18n.statusLabel(col("status"), lang)), lang))
        case "amendments" =>
          val bills = cat.amendmentBills.getOrElse(
            throw HttpError(404, s"Period $period has no amendment table loaded"))
          val page = intParam(q, "page", 1, 1, 1000)
          val pr = Amendments.listBillsPaged(bills, d.tiskLookup, None, page)
          PageRender.page(t("Pozměňovací návrhy", "Amendments"), lang, period,
            PageRender.table(pr.rows, lang))
        case "loyalty" =>
          PageRender.page(t("Loajalita", "Loyalty"), lang, period,
            s"""<img src="/api/loyalty.png?period=$period" alt="loyalty">""" +
              PageRender.table(cat.analyzer.loyalty(30), lang))
        case "attendance" =>
          PageRender.page(t("Účast", "Attendance"), lang, period,
            s"""<img src="/api/attendance.png?period=$period" alt="attendance">""" +
              PageRender.table(cat.analyzer.attendance(30), lang))
        case "similarity" =>
          PageRender.page(t("Podobnost", "Similarity"), lang, period,
            s"""<img src="/api/similarity.png?period=$period" alt="pca">""" +
              PageRender.table(cat.analyzer.crossPartySimilarity(20), lang))

        // HTMX-style partials (reference templates/partials/*_list.html +
        // the HTML-fragment responses of routes/voting.py etc.): the
        // listing region alone — found line, localized table, prev/next
        // carrying the filters — for clients that swap only the results
        case "fragments/votes" =>
          val page = intParam(q, "page", 1, 1, 1000)
          val search = strParam(q, "search", 200)
          val outcome = strParam(q, "outcome", 10)
          val pr = graft.psp.VotesBrowser.listVotesPaged(
            d.votes.sparkSession, d.votes, d.voidVotes,
            Some(search).filter(_.nonEmpty), Some(outcome).filter(_.nonEmpty),
            None, page)
          PageRender.listFragment(
            pr.rows.withColumn("outcome_label",
              Details.outcomeLabel(col("vysledek"), lang)),
            pr.total, pr.page, pr.totalPages, lang, "/fragments/votes",
            Map("period" -> period.toString, "search" -> search,
              "outcome" -> outcome))
        case "fragments/laws" =>
          val laws = cat.laws.getOrElse(
            throw HttpError(404, s"Period $period has no laws table loaded"))
          val page = intParam(q, "page", 1, 1, 1000)
          val search = strParam(q, "search", 200)
          val status = strParam(q, "status", 200)
          val topic = strParam(q, "topic", 200)
          val pr = LawsBrowser.listLawsPaged(laws,
            Some(search).filter(_.nonEmpty), Some(status).filter(_.nonEmpty),
            Some(topic).filter(_.nonEmpty), page)
          PageRender.listFragment(
            pr.rows.withColumn("status_label",
              I18n.statusLabel(col("status"), lang)),
            pr.total, pr.page, pr.totalPages, lang, "/fragments/laws",
            Map("period" -> period.toString, "search" -> search,
              "status" -> status, "topic" -> topic))
        case "fragments/amendments" =>
          val bills = cat.amendmentBills.getOrElse(
            throw HttpError(404, s"Period $period has no amendment table loaded"))
          val page = intParam(q, "page", 1, 1, 1000)
          val search = strParam(q, "search", 200)
          val pr = Amendments.listBillsPaged(bills, d.tiskLookup,
            Some(search).filter(_.nonEmpty), page)
          PageRender.listFragment(pr.rows, pr.total, pr.page, pr.totalPages,
            lang, "/fragments/amendments",
            Map("period" -> period.toString, "search" -> search))
        case "fragments/loyalty" =>
          PageRender.table(cat.analyzer.loyalty(
            intParam(q, "top", 30, 1, 200)), lang)
        case "fragments/attendance" =>
          PageRender.table(cat.analyzer.attendance(
            intParam(q, "top", 30, 1, 200)), lang)
        case "fragments/similarity" =>
          PageRender.table(cat.analyzer.crossPartySimilarity(
            intParam(q, "top", 20, 1, 200)), lang)

        case other => throw HttpError(404, s"No page /$other")
      } }
      send(ex, 200, html, "text/html; charset=utf-8")
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
  private def tiskTextRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val ct = intParam(q, "ct", 0, 0, 999999)
    cat.tiskTexts match {
      case None => s"""{"available":false,"detail":"No text service loaded"}"""
      case Some(svc) =>
        if (!svc.hasText(period, ct))
          s"""{"available":false,"detail":"No text for print $ct"}"""
        else {
          val text = svc.texts(cat.analyzer.data.votes.sparkSession, period)
            .filter(col("ct") === ct).select("text")
            .collect().headOption.map(_.getString(0)).getOrElse("")
          s"""{"available":true,"ct":$ct,"text":${jstr(text)}}"""
        }
    }
  }

  // chart PNG endpoints (`routes/charts.py:39-149`): same data prep as
  // the data endpoints, rasterized by ChartRender (JDK-only), memoized
  // separately from the JSON cache
  private val pngCache = new AnalysisCache[Array[Byte]]()

  private def pngRoute(route: String, q: Map[String, String]): Array[Byte] =
    route match {
      case "loyalty.png" =>
        val (period, cat) = periodCatalog(q)
        val top = intParam(q, "top", 20, 1, 200)
        pngCache.getOrCompute(GraftServer.key("png_loyalty", period, top)) {
          withTimeout(20000, "loyalty chart") {
            val rows = cat.analyzer.loyalty(top)
              .select(chartLabel.as("label"), col("rebellion_pct").as("value"))
              .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
            ChartRender.barChart("Rebellion rate by MP", "rebellion %", rows)
          }
        }
      case "attendance.png" =>
        val (period, cat) = periodCatalog(q)
        val top = intParam(q, "top", 20, 1, 200)
        val sort = strParam(q, "sort", 20) match { case "" => "worst"; case s => s }
        val party = strParam(q, "party", 200)
        val field = AttendanceChartField.getOrElse(sort, "attendance_pct")
        pngCache.getOrCompute(GraftServer.key("png_attendance", period, top, sort, party)) {
          withTimeout(20000, "attendance chart") {
            val rows = cat.analyzer
              .attendance(top, sort, Some(party).filter(_.nonEmpty))
              .select(chartLabel.as("label"),
                col(field).cast("double").as("value"))
              .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
            ChartRender.barChart(s"Attendance ($sort)", field, rows)
          }
        }
      case _ => // similarity.png
        val (period, cat) = periodCatalog(q)
        pngCache.getOrCompute(GraftServer.key("png_similarity", period)) {
          withTimeout(30000, "similarity chart") {
            val pts = cat.analyzer.pcaCoords()
              .select(col("party"), col("x"), col("y"))
              .collect()
              .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
            ChartRender.scatterChart("Voting-pattern PCA", "PC1", "PC2", pts)
          }
        }
    }

  // chart DATA endpoints (`routes/charts.py:39-149` minus the raster):
  // same cache keys and row prep as the reference's figures

  private def chartLabel: org.apache.spark.sql.Column =
    concat(col("jmeno"), lit(" "), col("prijmeni"),
      lit(" ("), coalesce(col("party"), lit("?")), lit(")"))

  private def chartLoyaltyRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 20, 1, 200)
    cache.getOrCompute(GraftServer.key("chart_loyalty", period, top)) {
      withTimeout(20000, "loyalty chart") {
        rows(cat.analyzer.loyalty(top)
          .select(chartLabel.as("label"), col("rebellion_pct").as("value")))
      }
    }
  }

  /** `charts.py` chart_meta: sort key → plotted field. */
  private val AttendanceChartField = Map(
    "worst" -> "attendance_pct", "best" -> "attendance_pct",
    "most_active" -> "active", "least_active" -> "active",
    "most_abstained" -> "abstained", "most_excused" -> "excused",
    "most_passive" -> "passive", "most_absent" -> "absent",
    "most_yes" -> "yes_votes", "most_no" -> "no_votes")

  private def chartAttendanceRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    val top = intParam(q, "top", 20, 1, 200)
    val sort = strParam(q, "sort", 20) match { case "" => "worst"; case s => s }
    val party = strParam(q, "party", 200)
    val field = AttendanceChartField.getOrElse(sort, "attendance_pct")
    cache.getOrCompute(GraftServer.key("chart_attendance", period, top, sort, party)) {
      withTimeout(20000, "attendance chart") {
        rows(cat.analyzer.attendance(top, sort, Some(party).filter(_.nonEmpty))
          .select(chartLabel.as("label"), col(field).as("value")))
      }
    }
  }

  private def chartSimilarityRoute(q: Map[String, String]): String = {
    val (period, cat) = periodCatalog(q)
    cache.getOrCompute(GraftServer.key("chart_similarity", period)) {
      withTimeout(30000, "similarity chart") {
        // pcaCoords already serves the chart shape (mp_name, party, x, y)
        rows(cat.analyzer.pcaCoords())
      }
    }
  }
}

object GraftServer {
  /** Reference `config.py` PERIOD_YEARS — the valid electoral periods. */
  val PeriodYears: Map[Int, String] = Map(
    10 -> "2025", 9 -> "2021", 8 -> "2017", 7 -> "2013", 6 -> "2010",
    5 -> "2006", 4 -> "2002", 3 -> "1998", 2 -> "1996", 1 -> "1993")

  val DefaultPeriod = 10

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

  /** Every cache-key prefix a period's results live under. */
  val KeyPrefixes: Seq[String] = Seq(
    "loyalty", "attendance", "similarity", "similarity_pca", "votes",
    "laws", "amendments", "amendment-coalitions", "stats", "topics",
    "statuses", "pages",
    "vote_detail", "law_detail", "amendment_detail", "amendment_mp",
    "chart_loyalty", "chart_attendance", "chart_similarity")

  /** Detail-page path shapes (digit caps keep ids inside Long/Int). */
  private[serving] val VoteDetailPath = "votes/([0-9]{1,18})".r
  private[serving] val LawDetailPath = "laws/([0-9]{1,9})".r
  private[serving] val AmendDetailPath = "amendments/([0-9]{1,9})/([0-9]{1,9})".r
  private[serving] val AmendMpVotesPath =
    "amendments/([0-9]{1,9})/([0-9]{1,9})/mp-votes".r

  /** Rendered-PNG cache prefixes (a separate byte-valued cache). */
  val PngKeyPrefixes: Seq[String] = Seq(
    "png_loyalty", "png_attendance", "png_similarity")

  /** Cache keys join user params with `:` — but `:` is legal inside the
    * params themselves (search strings up to 200 chars), so a raw join is
    * not injective: `search=a:b&outcome=c` and `search=a&outcome=b&topic=c`
    * would collide on `votes:1:a:b:c:1` and one query's cached payload
    * would be served for the other. Percent-escaping `%` and `:` in each
    * segment makes the join injective while keeping the `prefix:period:`
    * shape that [[GraftServer.invalidatePeriod]] scans (the period is an
    * int and never escaped).
    */
  def key(prefix: String, period: Int, parts: Any*): String =
    s"$prefix:$period:" + parts.map(
      _.toString.replace("%", "%25").replace(":", "%3A")).mkString(":")
}
