package graft

import scala.collection.mutable

/** Persisted dedup frames are shared through Spark's CacheManager, which
  * keys cached data by plan: a query that builds a frame an earlier
  * query in the same cache lifetime persisted reads the cached copy
  * instead of the corpus, and a repeat build adds no cache entry. */
class CacheSharingSpec extends SparkSpec {

  private def cacheEntries: Int = org.apache.spark.sql.GraftTestCache.entries(spark)

  /** `documents` scans of `name`'s executions, continuing `seen`. */
  private def docScans(name: String, seen: mutable.Set[Int]): Int =
    ScanCount.countsDuring(spark, name, sf, Seq("documents"), Some(seen))
      .getOrElse("documents", 0)

  test("after d04, d76 and d24 read no documents and d76 adds no cache entry") {
    spark.catalog.clearCache()
    val seen = mutable.Set[Int]()
    assert(docScans("d04_minhash_lsh", seen) == 1)
    assert(cacheEntries == 1, "d04 persists one frame: the band signatures")
    // d76 builds the band-signature frame again and persists nothing else
    assert(docScans("d76_incremental_neardup", seen) == 0)
    assert(cacheEntries == 1, "the second band-signature build added a cache entry")
    assert(docScans("d24_dup_clusters", seen) == 0)
    spark.catalog.clearCache()
  }

  test("after d02, d34 reads no documents") {
    spark.catalog.clearCache()
    val seen = mutable.Set[Int]()
    assert(docScans("d02_dedup_ngram", seen) == 1)
    assert(docScans("d34_lsh_recall", seen) == 0)
    spark.catalog.clearCache()
  }

  test("after clearCache, d04 reads documents once and returns the warm rows") {
    spark.catalog.clearCache()
    def d04() = SparkEntry.queries("d04_minhash_lsh")(spark, sf).collect().toSet
    d04()
    val warm = d04()
    spark.catalog.clearCache()
    assert(ScanCount.countsDuring(spark, "d04_minhash_lsh", sf, Seq("documents"))
      .getOrElse("documents", 0) == 1)
    spark.catalog.clearCache()
    assert(d04() == warm)
    spark.catalog.clearCache()
  }
}
