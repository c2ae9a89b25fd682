package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the engine's mains (Bench, Verify, TimeQ,
  * Explain, Prof): every timing, correctness dump and plan print runs under
  * the same partition count, timezone and optimizer rules as Bench.
  *
  *  - `local[cpus]` with shuffle partitions = cpus, where cpus is
  *    `SPARK_GRAFT_CPUS` if set, else the JVM's available processors;
  *  - UTC session timezone, UI off, parquet nanos read as INT64
  *    (`Tables.tsToNanos` normalizes events `ts` from there), WARN logging;
  *  - the window-top-k auto-rewrite ([[graft.plans.TopKPerKey.Rewrite]]) ON
  *    unless `SPARK_GRAFT_REWRITE=0` (round-4 decision record, SCALE.md). */
object Harness {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (!sys.env.get("SPARK_GRAFT_REWRITE").contains("0"))
      graft.plans.TopKPerKey.enableRewrite(spark)
    spark
  }
}
