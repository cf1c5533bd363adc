package graft.psp

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("cross-party similarity: identical voters across parties rank first") {
    val pairs = Similarity.crossPartySimilarity(
      Fixtures.makeMpVotes(spark), Fixtures.makeVoidVotes(spark),
      Fixtures.makeMpInfo(spark), top = 20).collect()
    assert(pairs.nonEmpty)
    // MPs 1,2 (ANO) and 4,6 (ODS) voted identically -> cross-party cosine 1.0
    val top = pairs.head
    assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(top.getAs[String]("mp1_party") != top.getAs[String]("mp2_party"))
    // Dvořák (3 of 5 opposite) must not beat the perfect pairs
    val names = pairs.take(4).flatMap(r =>
      Seq(r.getAs[String]("mp1_name"), r.getAs[String]("mp2_name")))
    assert(!names.contains("Karel Dvořák"))
  }

  test("pca coords: 2 components per MP, parties attached") {
    val coords = Similarity.computePcaCoords(
      Fixtures.makeMpVotes(spark), Fixtures.makeVoidVotes(spark),
      Fixtures.makeMpInfo(spark)).collect()
    assert(coords.length == 6)
    // sign-invariant check: the rebel (Dvořák) must be the farthest from
    // the all-yes cluster on PC1
    val byName = coords.map(r => r.getAs[String]("mp_name") -> r.getAs[Double]("x")).toMap
    val rebelX = math.abs(byName("Karel Dvořák"))
    val loyalX = math.abs(byName("Jan Novák"))
    assert(rebelX > loyalX)
  }

  test("concurrent pcaCoords calls on one period all succeed and agree " +
      "up to component sign") {
    import spark.implicits._
    // 150 votes: enough columns for the distributed ARPACK solver
    val rnd = new scala.util.Random(7)
    val codes = Seq("A", "B", "C", "@")
    val mpVotes = (for (m <- 1 to 60; v <- 1 to 150) yield {
      val code =
        if (rnd.nextDouble() < 0.8) (if ((v + m % 3) % 2 == 0) "A" else "B")
        else codes(rnd.nextInt(codes.size))
      (m.toLong, v.toLong, code)
    }).toDF("id_poslanec", "id_hlasovani", "vysledek")
    val mpInfo = (1 to 60).map(m =>
      (m.toLong, 1000L + m, s"J$m", s"P$m", Seq("ANO", "ODS", "STAN")(m % 3)))
      .toDF("id_poslanec", "id_osoba", "jmeno", "prijmeni", "party")
    val an = new Analyzer(PeriodData(10, Fixtures.makeVotes(spark), mpVotes,
      Fixtures.makeVoidVotes(spark), mpInfo,
      Seq.empty[(Int, Int, String)].toDF("schuze", "bod", "nazev")))

    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val runs = try {
      val futures = (1 to 4).map { _ =>
        pool.submit(() => {
          start.await()
          an.pcaCoords().collect()
            .map(r => r.getAs[String]("mp_name") ->
              (r.getAs[Double]("x"), r.getAs[Double]("y")))
            .sortBy(_._1).toSeq
        })
      }
      start.countDown()
      futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()

    val first = runs.head
    assert(first.size == 60)
    def agree(a: Seq[Double], b: Seq[Double]): Boolean = {
      val sign = math.signum(a.zip(b).map { case (p, q) => p * q }.sum)
      a.zip(b).forall { case (p, q) => math.abs(sign * p - q) < 1e-6 }
    }
    runs.tail.foreach { run =>
      assert(run.map(_._1) == first.map(_._1))
      assert(agree(run.map(_._2._1), first.map(_._2._1)))
      assert(agree(run.map(_._2._2), first.map(_._2._2)))
    }
  }
}
