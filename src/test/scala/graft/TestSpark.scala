package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** One shared session for the whole test run (spark_guide.md: one session
  * per suite; sharing across suites avoids repeated JVM-wide setup). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs, attributed by a local property (so
    * any other thread's jobs are not counted). Jobs submitted from pool
    * threads are missed: see [[jobsDuring]]. */
  def jobsOf(body: => Unit): Int = {
    val key = "graft.spec.probe"
    val tag = java.util.UUID.randomUUID().toString
    counted(_.exists(_.getProperty(key) == tag)) {
      spark.sparkContext.setLocalProperty(key, tag)
      try body finally spark.sparkContext.setLocalProperty(key, null)
    }
  }

  /** Every job the session starts while `body` runs, from any thread — for
    * calls that submit work from `Future`s, whose pool threads may carry a
    * stale inherited local property that [[jobsOf]] would misattribute.
    * The suites run one at a time, so no other test's jobs overlap. */
  def jobsDuring(body: => Unit): Int = counted(_ => true)(body)

  /** `body`, failing if it left an RDD persisted, a relation cached or a
    * session conf changed. */
  def leavesNothing(step: String)(body: => Unit): Unit = {
    import org.scalatest.Assertions.assert
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    val cached = spark.sharedState.cacheManager.isEmpty
    val conf = spark.conf.getAll
    body
    assert(sc.getPersistentRDDs.keySet == rdds, s"$step: an RDD was left persisted")
    assert(spark.sharedState.cacheManager.isEmpty == cached, s"$step: a relation was left cached")
    assert(spark.conf.getAll == conf, s"$step: a session conf was changed")
  }

  /** What a stage-then-swap leaves behind when it fails to clean up: the
    * `*_stage` and `*_old` dirs under local dir `dir` and beside it. */
  def swapLeftovers(dir: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val under = Files.walk(Paths.get(dir)).iterator().asScala.map(_.toString).toSeq
    (under ++ Seq(s"${dir}_stage", s"${dir}_old").filter(p => Files.exists(Paths.get(p))))
      .filter(p => p.endsWith("_stage") || p.endsWith("_old"))
  }

  private def counted(take: Option[java.util.Properties] => Boolean)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (take(Option(e.properties))) { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}
