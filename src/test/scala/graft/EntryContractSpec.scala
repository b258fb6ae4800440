package graft

/** The driver contract itself: each of the 253 registered queries is
  * declared once with a non-empty oracle, a name declared twice is
  * refused, and the flagship entry returns rows.
  */
class EntryContractSpec extends SparkSpec {

  test("253 distinct query names, each with a non-empty oracle") {
    assert(SparkEntry.queries.size == 253)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"queries with an empty oracle: ${empty.toSeq.sorted}")
  }

  test("a name declared twice is refused, and the message names it") {
    val q = Query("q_twice", (s, dir) => Tables.documents(s, dir), "SELECT 1")
    val other = Query("q_once", (s, dir) => Tables.events(s, dir), "SELECT 2")
    val err = intercept[IllegalArgumentException](Query.byName(Seq(q, other, q)))
    assert(err.getMessage.contains("q_twice"))
    assert(!err.getMessage.contains("q_once"))
  }

  test("flagship entry returns rows on the smoke scale") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1)
  }
}
