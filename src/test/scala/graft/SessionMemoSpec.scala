package graft

import org.apache.spark.sql.SparkSession

class SessionMemoSpec extends SparkTestBase {

  test("same (session, key) computes once and returns the same value") {
    val memo = new SessionMemo[String, AnyRef]()
    var calls = 0
    def get(key: String) = memo(spark, key) { calls += 1; new Object }
    val a = get("sf")
    assert(get("sf") eq a)
    assert(calls == 1)
    assert(!(get("other") eq a))
    assert(calls == 2)
  }

  test("a stopped session's entries are evicted on the next access") {
    // sessions here share the one test SparkContext, so "stopped" is stubbed
    val stopped = scala.collection.mutable.Set.empty[SparkSession]
    val memo = new SessionMemo[Unit, String](stopped.contains)
    val other = spark.newSession()
    assert(memo(other, ())("first") == "first")
    assert(memo(spark, ())("live") == "live")
    assert(memo(other, ())("second") == "first")
    stopped += other
    assert(memo(spark, ())("recomputed") == "live")
    stopped -= other
    assert(memo(other, ())("second") == "second")
  }
}
