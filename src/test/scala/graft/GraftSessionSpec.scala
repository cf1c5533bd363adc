package graft

class GraftSessionSpec extends SparkSpec {

  test("the suite's session is the factory's: cpus-many shuffle partitions " +
      "and the codegen cache constant") {
    // `spark` is SparkSpec.session, built before the factory is called
    // here, so these confs are the ones SparkSpec's own build set
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.CodegenCacheEntries == 12000)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(GraftSession.build(cpus = 4) eq spark)
  }

  test("the graft extensions are installed: SQL text resolves strip_diacritics") {
    val got = spark.sql("SELECT strip_diacritics('Třetí čtení') AS s").head().getString(0)
    assert(got == "Treti cteni")
  }
}
