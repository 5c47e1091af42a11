package graft

class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries GraftSession's settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.extensions") ==
      graft.functions.GraftExtensions.CONF)
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("cpus below 1 or not an integer are refused") {
    assert(GraftSession.envCpus(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.envCpus(Some("3")) == 3)
    Seq("0", "-2", "four", "").foreach { v =>
      intercept[IllegalArgumentException](GraftSession.envCpus(Some(v)))
    }
    intercept[IllegalArgumentException](GraftSession(cpus = 0))
  }
}
