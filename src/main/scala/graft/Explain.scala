package graft

/** Plan-inspection utility: prints the formatted physical plan of one or all
  * SparkEntry queries. Usage: runMain graft.Explain <sfDir> [queryName].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) Seq(args(1)) else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[explain] unknown queries: ${unknown.mkString(", ")}; " +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop(); sys.exit(2)
    }
    // SPARK_GRAFT_EXPLAIN_MODE=simple prints the starred codegen-stage ids
    // (`*(N) Op`) that match jstack's GeneratedIteratorForCodegenStageN —
    // the profiling loop formatted mode cannot serve
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain(mode)
    }
    spark.stop()
  }
}
