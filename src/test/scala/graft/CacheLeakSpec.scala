package graft

/** No registered query leaves a cached frame behind. A `cache()`d Dataset
  * stays in the CacheManager until something unpersists it, so this check
  * does not depend on GC timing the way a leaf-RDD check would. */
class CacheLeakSpec extends SparkSpec {

  test("every registered query at sf0.001, run in turn, leaves the CacheManager empty") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    val queries = SparkEntry.queries
    val names = queries.keys.toSeq.sorted
    val leaked = names.filter { name =>
      queries(name)(spark, sf0001).collect()
      val left = !cacheManager.isEmpty
      // Clear a leak so the next query is judged on its own.
      if (left) spark.catalog.clearCache()
      left
    }
    assert(names.size == 208)
    assert(leaked.isEmpty, s"queries that left cached data: ${leaked.mkString(", ")}")
  }
}
