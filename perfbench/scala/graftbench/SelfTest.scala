package graftbench

import graft.core.GraftSession

/** Checks the `core.cache_scans` probe against Spark itself: a query over a
  * cached frame must show an InMemoryTableScan in its executed (adaptive)
  * plan, the same query over an uncached frame must not. Prints one JSON
  * line; perfbench/tests/test_cache_scans.py asserts on it.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graftbench-selftest", 2,
      Map("spark.sql.warehouse.dir" -> s"file:${args(0)}/warehouse"))
    try {
      val base = spark.range(0, 10000).selectExpr("id % 7 AS k", "id AS v")
      val uncached = base.groupBy("k").count()
      uncached.collect()
      val cachedBase = base.filter("v >= 0").cache()
      cachedBase.count()
      val cached = cachedBase.groupBy("k").count()
      cached.collect()
      println(Json.encode(Map(
        "uncached" -> PlanProbe.cacheScans(uncached),
        "cached" -> PlanProbe.cacheScans(cached))))
    } finally spark.stop()
  }
}
