package graft.serving

import graft.psp.{Analyzer, PeriodLoader}

/** Runnable serving entry point (the reference's `main_frontend.py`):
  * load one or more periods from an extracted psp.cz dump directory and
  * serve the full /api surface.
  *
  * Usage: runMain graft.serving.ServeMain <dumpRoot> <period[,period...]> [port]
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ServeMain <dumpRoot> <period[,period...]> [port]")
    val root = args(0)
    val periodIds = args(1).split(',').map(_.trim.toInt).toSeq
    val port = if (args.length > 2) args(2).toInt else 8080
    val spark = graft.GraftSession.build()
    val periods = periodIds.map { p =>
      p -> PeriodCatalog(new Analyzer(PeriodLoader.load(spark, root, p)))
    }.toMap
    val server = new GraftServer(periods, port).start()
    // daily maintenance (reference `daily_refresh_service.py`): reload
    // every served period from the dump root at the configured CET hour
    // and swap it in, dropping its cached results. GRAFT_REFRESH_ENABLED=0
    // turns it off; pair with Downloader.downloadPeriod(force = true)
    // upstream when the dump itself should be re-fetched first.
    val refresher = new DailyRefresh(() => periodIds.foreach { p =>
      server.refreshPeriod(p,
        PeriodCatalog(new Analyzer(PeriodLoader.load(spark, root, p))))
    }).start()
    println(s"serving /api on 127.0.0.1:${server.boundPort} " +
      s"(periods ${periodIds.mkString(",")})")
    try Thread.currentThread().join() // serve until killed
    finally refresher.stop()
  }
}
