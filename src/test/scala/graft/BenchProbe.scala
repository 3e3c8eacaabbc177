package graft

/** Dev-loop probe (test scope, not shipped): time one or more queries
  * at sf0.1 and dump their executed plans — the fast path for plan
  * audits without a full Bench run.
  * Usage: sbt "Test/runMain graft.BenchProbe <query> [query ...]" */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- args) {
      // warm at the TARGET dir: pays codegen/JIT and any one-time
      // scratch-fixture build outside the timed region (a different
      // warmup dir would leave the fixture write inside it)
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // Bench parity: Bench clears the cache before every timed pass,
      // so operator-internal persists (d04's band signatures, d35's scored
      // frame) must NOT carry over from the warm run — without this
      // the probe under-reports any query whose cost hides in a
      // persisted subtree.
      spark.catalog.clearCache()
      val t0 = System.nanoTime
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      println(s"PROBETIME $name ${(System.nanoTime - t0) / 1e9}")
      println(df.queryExecution.executedPlan.toString.take(60000))
    }
    spark.stop()
  }
}
