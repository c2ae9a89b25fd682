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
    // every job a rep starts, counted beside its wall time: a plan change's
    // "fewer jobs, no slower" then comes from one run
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    for (n <- args.drop(1); rep <- 1 to 6) {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      jobs.set(0)
      val t0 = System.nanoTime()
      // toRdd.count(): full final projection (plain count() lets Catalyst
      // prune projection columns); clearCache: each rep builds its own
      // caches, so reps after the first measure the plan, not the cache
      val c = SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
      val s = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      println(f"[timeq] $n rep$rep: $s%.2f s ($c rows) ${jobs.get} jobs")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
