package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.psp.{Analyzer, Attendance, Details, PeriodData, PeriodLoader, VotesBrowser}
import graft.serving.{GraftServer, PeriodCatalog}

/** One API request: `route` names the psp function behind it. */
final case class Req(route: String, period: Int, params: Seq[(String, String)]) {
  def path: String = route match {
    case "vote_detail" => s"/api/votes/${params.find(_._1 == "id").get._2}"
    case r => s"/api/$r"
  }
  def query: String = (("period" -> period.toString) +: params.filterNot(_._1 == "id"))
    .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
  def uri: String = s"$path?$query"
  def param(k: String): String = params.find(_._1 == k).map(_._2).getOrElse("")
}

/** The `serve_cold` workload over an in-process [[GraftServer]], built
  * as `ServeMain` builds it: a closed loop of one client in which every
  * request key is new, so every request misses `AnalysisCache`. One
  * client, because each missed request already keeps the cores busy with
  * its Spark tasks and the JIT compiling its generated code; more clients
  * would time the OS scheduler's share-out rather than the program.
  *
  * The traced run adds the layer probes: direct calls to the psp and
  * sources functions, and memoized traffic — an open loop at a fixed rate
  * over the keys the window answered (all cached), timed from when each
  * request was due, while each period is re-loaded and swapped in with
  * `refreshPeriod`.
  */
object Serve {
  import Main._

  /** Dump scale per period. The reference's period has about 10^4 votes;
    * at 4 cores one missed request here already takes 1-5 s (mostly fixed
    * planning, codegen and job overhead), so 300 votes keep a run inside
    * the benchmark's time budget while every route still does its work.
    */
  val DumpScale: PspDump.Scale = PspDump.Scale(mps = 200, votes = 300)
  /** Requests per minute per route given to the server: far above what one
    * generator IP sends, so nothing is refused, while every request still
    * passes through `RateLimiter`.
    */
  val RateLimit: Int = 1000000
  val WarmRounds = 1
  /** Warm-up keys come from this fixed seed, not from `--seed`, so every
    * run's window starts from a JIT state compiled for the same plan
    * variants; only the dump and the window's keys vary by seed.
    */
  val WarmSeed = 0x5eedL
  /** Memoized-traffic probe: requests per second, Zipf exponent over the
    * cached keys, seconds, and the fractions of it at which a refresh
    * starts (alternating periods). No usage figures of the reference
    * exist, so rate and skew are assumptions: a rate far below what the
    * server answers from its cache, and a skew that makes a few keys hot.
    */
  val HotRate: Double = 5.0
  val HotZipf: Double = 1.1
  val HotSeconds: Double = 8.0
  val RefreshAt: Seq[Double] = Seq(0.3, 0.65)
  /** Cold route mix: one request per route per cycle. No traffic figures
    * of the reference exist, so the mix is an assumption, chosen neutral:
    * every route weighs the same, and only the parameters vary by seed.
    */
  val ColdMix: Seq[String] = Seq("loyalty", "attendance", "similarity", "votes", "vote_detail")
  /** The party filter: none, or one of the dump's clubs. */
  private val Parties = "" +: PspDump.Parties.map(p => if (p == "ANO2011") "ANO" else p)
  private val Searches = PspDump.TitleWords.flatMap(w =>
    Seq(w, graft.functions.TextNorm.normalizeSearch(w).take(5)))

  /** A request for `route` with parameters drawn uniformly from the
    * route's validated ranges (pages 1-4; a listing clamps a page past
    * its end). A votes request always searches, so the diacritic-strip
    * search path runs.
    */
  def draw(r: SplittableRandom, route: String): Req = {
    val period = PspDump.Periods(r.nextInt(PspDump.Periods.size))
    def pick[A](xs: Seq[A]) = xs(r.nextInt(xs.size))
    def top = (1 + r.nextInt(200)).toString
    val params: Seq[(String, String)] = route match {
      case "loyalty" => Seq("top" -> top, "party" -> pick(Parties))
      case "attendance" => Seq("top" -> top, "sort" -> pick(Attendance.sortConfig.keys.toSeq.sorted),
        "party" -> pick(Parties))
      case "similarity" => Seq("top" -> top)
      case "votes" => Seq("search" -> pick(Searches), "outcome" -> pick(Seq("", "A", "R")),
        "topic" -> "", "page" -> (1 + r.nextInt(4)).toString, "lang" -> pick(Seq("cs", "en")))
      case "vote_detail" => Seq("id" -> (period * 1000000L + 1 + r.nextInt(DumpScale.votes)).toString,
        "lang" -> pick(Seq("cs", "en")))
      case "pca" => Nil
      case "stats" => Seq("lang" -> pick(Seq("cs", "en")))
    }
    Req(route, period, params)
  }

  // ------------------------------------------------------------ direct path

  private def rows(df: DataFrame): Seq[String] =
    df.limit(GraftServer.MaxResponseRows).toJSON.collect().toSeq

  private val mapper = new ObjectMapper()
  private def arr(rs: Seq[String]): String = rs.mkString("[", ",", "]")

  /** The response body a route should produce, from direct calls to the
    * psp functions it runs.
    */
  def direct(d: PeriodData, req: Req, tracer: Tracer): String = {
    val an = new Analyzer(d)
    def party = Some(req.param("party")).filter(_.nonEmpty)
    def top = req.param("top").toInt
    tracer.span(s"psp.${req.route}") {
      req.route match {
        case "loyalty" => arr(rows(an.loyalty(top, party)))
        case "attendance" => arr(rows(an.attendance(top, req.param("sort"), party)))
        case "similarity" => arr(rows(an.crossPartySimilarity(top)))
        case "pca" => arr(rows(an.pcaCoords()))
        case "stats" => arr(rows(an.periodStats()))
        case "votes" =>
          val pr = VotesBrowser.listVotesPaged(d.votes.sparkSession, d.votes, d.voidVotes,
            Some(req.param("search")).filter(_.nonEmpty),
            Some(req.param("outcome")).filter(_.nonEmpty), None, req.param("page").toInt)
          val rs = rows(pr.rows.withColumn("outcome_label",
            Details.outcomeLabel(col("vysledek"), req.param("lang"))))
          s"""{"rows":${arr(rs)},"total":${pr.total},"page":${pr.page},""" +
            s""""per_page":${pr.perPage},"total_pages":${pr.totalPages}}"""
        case "vote_detail" =>
          val id = req.param("id").toLong
          val info = rows(Details.voteInfo(d.votes, d.tiskLookup, None, id, req.param("lang")))
          val breakdown = VotesBrowser.partyBreakdown(d.mpVotes, d.mpInfo, id)
            .select(col("party"), col("a_cnt").as("yes"), col("b_cnt").as("no"),
              col("c_cnt").as("abstained"), col("f_cnt").as("passive"),
              col("@_cnt").as("absent"), col("m_cnt").as("excused"),
              col("total_cnt").as("total"))
          s"""{"info":${info.headOption.getOrElse("null")},""" +
            s""""party_breakdown":${arr(rows(breakdown))},""" +
            s""""mp_votes":${arr(rows(Details.voteMpList(d.mpVotes, d.mpInfo, id)))}}"""
      }
    }
  }

  /** A body in comparable form: numbers to 9 significant digits (sign
    * dropped for PCA components, whose sign SVD leaves free), and row
    * lists sorted where the route defines no row order.
    */
  def canonical(route: String, body: String): String = {
    val pca = route == "pca"
    def canon(n: JsonNode, sortRows: Boolean): String =
      if (n.isArray) {
        val xs = n.elements().asScala.map(canon(_, false)).toSeq
        (if (sortRows) xs.sorted else xs).mkString("[", ",", "]")
      } else if (n.isObject)
        n.fields().asScala.toSeq.sortBy(_.getKey).map { e =>
          // mp_votes ties on (party, surname, name); PCA rows have no order
          Json.str(e.getKey) + ":" + canon(e.getValue, e.getKey == "mp_votes")
        }.mkString("{", ",", "}")
      else if (n.isNumber) {
        val v = if (pca) math.abs(n.asDouble) else n.asDouble
        if (v == 0.0) "0" else new java.math.BigDecimal(v).round(new java.math.MathContext(9)).toString
      } else n.toString
    canon(mapper.readTree(body), pca)
  }

  // --------------------------------------------------------------- workload

  final class Server(val spark: SparkSession, val root: Path, tracer: Tracer) {
    def load(p: Int): PeriodData =
      tracer.span("psp.load")(PeriodLoader.load(spark, root.toString, p))
    def catalog(p: Int): PeriodCatalog = PeriodCatalog(new Analyzer(load(p)))
    val server: GraftServer = new GraftServer(
      PspDump.Periods.map(p => p -> catalog(p)).toMap, 0,
      limits = GraftServer.DefaultLimits.map { case (k, _) => k -> RateLimit })
      .start()
    val base = s"http://127.0.0.1:${server.boundPort}"
  }

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** GET `req`; (status, body). */
  def get(base: String, req: Req, tracer: Tracer): (Int, String) =
    tracer.span(s"serving.${req.route}") {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + req.uri)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }

  /** GET `req` outside the timed window; a non-200 response fails the run. */
  def getOk(base: String, req: Req, tracer: Tracer, res: Result): Unit = {
    val (status, body) = get(base, req, tracer)
    if (status != 200) res.mismatch(s"$status ${req.uri} ${body.take(300)}")
  }

  final class Outcome {
    val attempted = new AtomicLong()
    /** (route, latency) of the 200 responses. */
    val latMs = new ConcurrentLinkedQueue[(String, Double)]()
    def ms: Seq[Double] = latMs.asScala.toSeq.map(_._2)
    val statuses = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val bodies = new ConcurrentLinkedQueue[(Req, String)]()
    val answered = new ConcurrentLinkedQueue[Req]()
    /** Every request URI sent, so probes can pick keys never used. */
    val used: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    /** (ms after the window opened, route, status, latency ms) per request. */
    val timeline = new ConcurrentLinkedQueue[(Double, String, Int, Double)]()
    val failures = new ConcurrentLinkedQueue[String]()
    def count(s: Int): Long = Option(statuses.get(s)).map(_.get).getOrElse(0L)

    /** Records a request sent `atMs` into the window and timed from
      * `fromNs`; returns its status and body.
      */
    def record(req: Req, atMs: Double, fromNs: Long, response: => (Int, String)): (Int, String) = {
      val (status, body) = try response catch { case _: Exception => (-1, "") }
      val ms = (System.nanoTime() - fromNs) / 1e6
      attempted.incrementAndGet()
      timeline.add((atMs, req.route, status, ms))
      statuses.computeIfAbsent(status, _ => new AtomicLong()).incrementAndGet()
      if (status == 200) { latMs.add(req.route -> ms); answered.add(req) }
      else if (failures.size < 5) failures.add(s"$status ${req.uri} ${body.take(300)}")
      (status, body)
    }
  }

  def run(o: Opts, tracer: Tracer, res: Result): Unit = {
    val rnd = new SplittableRandom(o.seed)
    val root = o.out.resolve("psp-dump")
    deleteTree(root)
    val (bytes, genS) = timed(PspDump.generate(root, o.seed, DumpScale))
    res.notes("gen_s") = genS
    res.notes("dump_mb") = bytes / 1048576.0
    res.notes("dump_scale") = Json.obj("periods" -> PspDump.Periods, "mps" -> DumpScale.mps,
      "votes" -> DumpScale.votes, "mp_votes" -> DumpScale.mps * DumpScale.votes)
    res.notes("rate_limit_per_min") = RateLimit
    res.notes("rate_limiter") = "on (GraftServer's RateLimiter checks every request)"

    // ServeMain's session
    val spark = session(o, Seq("spark.sql.legacy.javaCharsets" -> "true"))
    val counters = SparkCounters.install(spark)
    // set-up: both periods loaded and a server started, as ServeMain
    // does; then WarmRounds rounds of one request per route
    val srv = new Server(spark, root, tracer)
    val out = new Outcome
    val warmRnd = new SplittableRandom(WarmSeed)
    val warm = Seq.fill(WarmRounds)(ColdMix).flatten.map(r => draw(warmRnd, r))
    warm.foreach(r => out.used.add(r.uri))
    // one request at a time, as in the window. A warm-up request that
    // outlives its route's compute budget while the JVM is still cold (504)
    // is sent once more; any other failure, or a second timeout, fails the run
    val warmTimeouts = new AtomicLong()
    val (_, warmS) = timed(warm.foreach { r =>
      val (status, body) = get(srv.base, r, tracer)
      if (status == 504) { warmTimeouts.incrementAndGet(); getOk(srv.base, r, tracer, res) }
      else if (status != 200) res.mismatch(s"$status ${r.uri} ${body.take(300)}")
    })
    // JVM start to ready, without the dump generation
    res.e2e("setup_s") = (sinceJvmStart - genS, "s")
    res.notes("warmup_s") = warmS
    res.notes("warmup_timeouts") = warmTimeouts.get

    sanity(srv, res)
    val window = new Window(spark, counters, o.cpus)
    val size0 = srv.server.cache.size
    val answered = coldLoop(o, rnd, srv, tracer, out)
    window.close(res)
    val attempted = out.attempted.get
    res.attempted = attempted
    res.failed = attempted - out.count(200)
    val lat = out.ms
    // every route weighs the same, whichever route the window ended on
    val byRoute = out.latMs.asScala.toSeq.groupMap(_._1)(_._2).values.toSeq
    res.layer("serving.req_p50_ms") = (Stats.median(lat), "ms")
    res.e2e("req_mean_ms") = (Stats.mean(byRoute.map(Stats.mean)), "ms")
    res.e2e("req_geomean_ms") = (Stats.geomean(byRoute.map(Stats.geomean)), "ms")
    res.e2e("req_per_s") = (answered / o.seconds, "1/s")
    res.layer("serving.req_p95_ms") = (Stats.quantile(lat, 0.95), "ms")
    res.notes("fail_ratio") = res.failed.toDouble / math.max(1L, attempted)
    res.notes("samples") = lat.size
    res.layer("serving.status_429") = (out.count(429).toDouble, "count")
    res.layer("serving.status_504") = (out.count(504).toDouble, "count")
    res.layer("serving.status_5xx") = (out.statuses.asScala.collect {
      case (s, n) if s >= 500 && s != 504 => n.get }.sum.toDouble, "count")
    res.notes("misses") = srv.server.cache.size - size0
    res.notes("sql_per_request") = res.layer("spark.sql_execs")._1 / math.max(1L, attempted)
    res.notes("failures") = out.failures.asScala.toSeq
    res.notes("timeline") = out.timeline.asScala.toSeq.sortBy(_._1).map { case (at, r, st, ms) =>
      Json.obj("at_ms" -> at, "route" -> r, "status" -> st, "ms" -> ms) }

    check(o, srv, out, res)
    if (o.trace) {
      layerProbes(o, rnd, srv, tracer, res, out)
      hotProbe(rnd, srv, counters, tracer, res, out)
    }
    srv.server.stop()
    res.e2e("live_heap_mb") = (Jvm.liveHeapMb, "MB")
  }

  /** The `PeriodLoader` sanity rule: votes and MPs present, at most half
    * of the MPs without a party.
    */
  private def sanity(srv: Server, res: Result): Unit =
    PspDump.Periods.foreach { p =>
      val d = srv.load(p)
      val mps = d.mpInfo.count()
      val noParty = d.mpInfo.filter(col("party").isNull).count()
      if (d.votes.isEmpty || mps == 0 || noParty * 2 > mps)
        res.mismatch(s"period $p: ${mps} MPs, $noParty without party")
    }

  /** Runs the timed window: one client sends each request when the last
    * was answered. Returns the requests answered (200), each credited with
    * the share of its time that fell inside the window.
    */
  private def coldLoop(o: Opts, rnd: SplittableRandom, srv: Server, tracer: Tracer,
      out: Outcome): Double = {
    // the seeded stream of keys no request has used, drawn as the client
    // asks (from a split generator, so later draws do not depend on its length)
    val keys = rnd.split()
    val stream = Iterator.continually(ColdMix).flatten.map(r => draw(keys, r))
      .filter(r => out.used.add(r.uri))
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var answered = 0.0
    var i = 0
    while (System.nanoTime() < deadline) {
      val req = stream.next()
      val s0 = System.nanoTime()
      val (status, body) = out.record(req, (s0 - t0) / 1e6, s0, get(srv.base, req, tracer))
      val end = System.nanoTime()
      if (status == 200) answered += (math.min(end, deadline) - s0).toDouble / (end - s0)
      // the checked sample: the stream's first cycle, one key per route
      if (i < ColdMix.size && status == 200) out.bodies.add(req -> body)
      i += 1
    }
    answered
  }

  /** Traced run only: memoized traffic. An open loop at [[HotRate]]
    * re-requests the keys the window answered (all cached), Zipf-ranked in
    * answer order, for [[HotSeconds]]; each request is timed from when it
    * was due. At each of [[RefreshAt]] one period is re-loaded and swapped
    * in with `refreshPeriod` (the daily-refresh write path), alternating
    * periods.
    */
  private def hotProbe(rnd: SplittableRandom, srv: Server, counters: SparkCounters,
      tracer: Tracer, res: Result, cold: Outcome): Unit = {
    val keys = cold.answered.asScala.toIndexedSeq.distinctBy(_.uri)
    if (keys.isEmpty) return
    val cdf = keys.indices.map(i => 1.0 / math.pow(i + 1, HotZipf)).scanLeft(0.0)(_ + _).tail.toArray
    val schedule = Seq.fill((HotSeconds * HotRate).toInt) {
      val at = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      keys(math.min(keys.size - 1, if (at >= 0) at else -at - 1))
    }
    val out = new Outcome
    val lagMs = new ConcurrentLinkedQueue[Double]()
    val invalidated = new AtomicLong()
    val refreshS = new ConcurrentLinkedQueue[Double]()
    val refreshTag = SparkCounters.TagPrefix + "refresh"
    SparkCounters.drain(srv.spark)
    val sql0 = counters.total.sqlExecs.get - counters.forTag(refreshTag).sqlExecs.get
    val size0 = srv.server.cache.size
    val workers = Executors.newCachedThreadPool()
    val t0 = System.nanoTime()
    val refresher = new Thread(() => RefreshAt.zipWithIndex.foreach { case (at, k) =>
      val wait = t0 + (at * HotSeconds * 1e9).toLong - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L)
      val p = PspDump.Periods(k % PspDump.Periods.size)
      refreshS.add(timed(tagged(srv.spark, "refresh") {
        invalidated.addAndGet(srv.server.refreshPeriod(p, srv.catalog(p)))
      })._2)
    }, "refresher")
    refresher.start()
    schedule.zipWithIndex.foreach { case (req, i) =>
      val due = t0 + (i * 1e9 / HotRate).toLong
      var now = System.nanoTime()
      while (now < due) {
        if (due - now > 1000000L) Thread.sleep((due - now) / 1000000L) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      lagMs.add((now - due) / 1e6)
      workers.submit(new Runnable {
        def run(): Unit = out.record(req, (due - t0) / 1e6, due, get(srv.base, req, tracer))
      })
    }
    workers.shutdown()
    workers.awaitTermination(600, TimeUnit.SECONDS)
    refresher.join()
    SparkCounters.drain(srv.spark)
    val sql = counters.total.sqlExecs.get - counters.forTag(refreshTag).sqlExecs.get - sql0
    // entries added, plus the ones each refresh dropped (re-added or not)
    val misses = srv.server.cache.size - size0 + invalidated.get
    val n = out.attempted.get
    res.layer("serving.hit_ratio") = (1.0 - misses.toDouble / math.max(1, n), "ratio")
    res.layer("serving.sql_per_miss") = (sql.toDouble / math.max(1L, misses), "ratio")
    res.layer("serving.req_p99_ms") = (Stats.quantile(out.ms, 0.99), "ms")
    res.layer("serving.refresh_s") = (Stats.median(refreshS.asScala.toSeq), "s")
    res.layer("loadgen.lag_p99_ms") = (Stats.quantile(lagMs.asScala.toSeq, 0.99), "ms")
    res.notes("hot_probe") = Json.obj("keys" -> keys.size, "requests" -> n, "misses" -> misses,
      "refreshes" -> refreshS.size, "failed" -> (n - out.count(200)),
      "rate_per_s" -> HotRate, "seconds" -> HotSeconds)
    res.attempted += n
    res.failed += n - out.count(200)
  }

  /** Compares the sampled responses, one per route with a key the seed
    * drew, with direct calls to the same psp functions over the same dump.
    * A route without a sampled response fails the check.
    */
  private def check(o: Opts, srv: Server, out: Outcome, res: Result): Unit = {
    val data = PspDump.Periods.map(p => p -> PeriodLoader.load(srv.spark, srv.root.toString, p)).toMap
    val sample = out.bodies.asScala.toSeq
    ColdMix.filterNot(r => sample.exists(_._1.route == r))
      .foreach(r => res.mismatch(s"$r: no response to compare with a direct call"))
    parallel(o.cpus, sample) { case (req, body) =>
      val want = canonical(req.route, direct(data(req.period), req, new Tracer(false)))
      val got = canonical(req.route, body)
      if (want != got) res.mismatch(s"${req.uri}: response differs from direct call")
    }
    res.notes("checked_responses") = sample.map(_._1.uri)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Traced run only: direct calls into each layer's public functions. */
  private def layerProbes(o: Opts, rnd: SplittableRandom, srv: Server, tracer: Tracer,
      res: Result, out: Outcome): Unit = {
    val spark = srv.spark
    val root = srv.root.toString
    val p = PspDump.Periods.last
    // serving: sequential re-requests of keys already answered
    val again = out.answered.asScala.toSeq.take(50)
    val hits = again.map { req =>
      getOk(srv.base, req, tracer, res)
      timed(getOk(srv.base, req, tracer, res))._2 * 1e3
    }
    res.layer("serving.hit_ms") = (Stats.median(hits), "ms")
    // psp: the window's route mix on keys no request has used, each called
    // directly and then over HTTP (a miss there too); pca and stats directly
    val data = PspDump.Periods.map(q => q -> srv.load(q)).toMap
    def fresh(routes: Seq[String], n: Int) = Iterator.continually(routes).flatten
      .map(r => draw(rnd, r)).filter(r => out.used.add(r.uri)).take(n).toSeq
    val paired = fresh(ColdMix, 20).map { r =>
      (r, timed(direct(data(r.period), r, tracer))._2 * 1e3,
        timed(getOk(srv.base, r, tracer, res))._2 * 1e3)
    }
    val directMs = paired.map(x => x._1 -> x._2) ++
      fresh(Seq("pca", "stats"), 4).map(r => r -> timed(direct(data(r.period), r, tracer))._2 * 1e3)
    res.layer("serving.http_overhead_ms") = (Stats.median(paired.map(x => x._3 - x._2)), "ms")
    Seq("loyalty", "attendance", "similarity", "pca", "votes", "vote_detail", "stats")
      .foreach { r =>
        res.layer(s"psp.${r}_ms") =
          (Stats.median(directMs.filter(_._1.route == r).map(_._2)), "ms")
      }
    // psp: period load and its two dimension builds
    import graft.sources.{ParquetCache, PspSchemas, UnlReader}
    res.layer("psp.load_s") = (timed(srv.load(p))._2, "s")
    def unl(sub: String, glob: String, schema: org.apache.spark.sql.types.StructType) =
      UnlReader.read(spark, s"$root/$sub/$glob", schema)
    res.layer("psp.mp_info_s") = (timed(tracer.span("psp.mp_info")(noop(
      graft.psp.MpBuilder.buildMpInfo(p, unl("poslanci", "poslanec.unl", PspSchemas.poslanec),
        unl("poslanci", "osoby.unl", PspSchemas.osoby),
        unl("poslanci", "organy.unl", PspSchemas.organy),
        unl("poslanci", "zarazeni.unl", PspSchemas.zarazeni)))))._2, "s")
    res.layer("psp.tisk_lookup_s") = (timed(tracer.span("psp.tisk_lookup")(noop(
      graft.psp.TiskLookup.build(p, unl(s"hl-$p", "hl*s.unl", PspSchemas.hlHlasovani),
        unl("schuze", "schuze.unl", PspSchemas.schuze),
        unl("schuze", "bod_schuze.unl", PspSchemas.bodSchuze),
        unl("tisky", "tisky.unl", PspSchemas.tisky)))))._2, "s")
    // sources: full parse of one period's MP-vote files, and the parquet
    // cache on a miss and on a hit
    val hlDir = srv.root.resolve(s"hl-$p")
    val hlBytes = Files.list(hlDir).iterator().asScala
      .filter(f => f.getFileName.toString.matches("hl.*h.*\\.unl")).map(Files.size).sum
    val parse = timed(tracer.span("sources.unl_parse")(
      noop(unl(s"hl-$p", "hl*h*.unl", PspSchemas.hlPoslanec))))._2
    res.layer("sources.unl_parse_s") = (parse, "s")
    res.layer("sources.unl_mb_per_s") = (hlBytes / 1048576.0 / parse, "MB/s")
    val cacheDir = o.out.resolve("parquet-cache")
    deleteTree(cacheDir)
    def cached() = noop(ParquetCache.getOrParse(spark, cacheDir.resolve("hl.parquet").toString,
      hlDir.toString)(unl(s"hl-$p", "hl*h*.unl", PspSchemas.hlPoslanec)))
    res.layer("sources.parquet_cache_miss_s") =
      (timed(tracer.span("sources.parquet_cache")(cached()))._2, "s")
    res.layer("sources.parquet_cache_hit_s") =
      (timed(tracer.span("sources.parquet_cache")(cached()))._2, "s")
    deleteTree(cacheDir)
  }

  /** Runs `f` over `xs` on `threads` threads and waits for all. */
  def parallel[A](threads: Int, xs: Seq[A])(f: A => Any): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
