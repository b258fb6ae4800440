package graft

/** The one session builder: the keys every entry point relies on, the
  * reuse of a running session, and the checks on the env vars that size
  * it.
  */
class GraftSessionSpec extends SparkSpec {

  test("local(n) carries the entry-point config and reuses a running session") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // a main run inside a caller's session (Verify under perfbench)
    // must get that session, not a second one
    assert(GraftSession.local(4) eq spark)
  }

  test("positive-int env vars: unset takes the default, anything but n > 0 fails") {
    val (name, default) = ("SPARK_GRAFT_CPUS", 32)
    def parse(v: Option[String]) =
      GraftSession.positiveIntVar(v.map(name -> _).toMap, name, default)
    assert(parse(None) == default)
    assert(parse(Some("8")) == 8)
    for (bad <- Seq("0", "-1", "abc")) {
      val e = intercept[IllegalArgumentException](parse(Some(bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"))
    }
  }
}
