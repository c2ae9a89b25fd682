package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // SAME session as Bench (Harness.session): a rewrite tuned under a
    // different partition count / timezone than Bench's session would be
    // tuned against the wrong plans
    val spark = Harness.session()
    val unknown = args.drop(1).filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[timeq] unknown queries: ${unknown.mkString(", ")}; " +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop(); sys.exit(2)
    }
    for (n <- args.drop(1); rep <- 1 to 6) {
      val t0 = System.nanoTime()
      // toRdd.count(): full final projection (plain count() lets Catalyst
      // prune projection columns); clearCache: each rep builds its own
      // caches, so reps after the first measure the plan, not the cache
      val c = SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
      println(f"[timeq] $n rep$rep: ${(System.nanoTime()-t0)/1e9}%.2f s ($c rows)")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
