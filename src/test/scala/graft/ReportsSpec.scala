package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational}

/** Structural invariants of the ops-report operators on sf0.001 — the
  * properties the oracle's value-hash can confirm but not EXPLAIN: error
  * bounds, conservation laws, and range constraints that must hold on any
  * corpus, not just this one. */
class ReportsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def docs = Tables.documents(spark, TestSpark.sf)

  test("bucketed quantile error is within one bucket width per type") {
    val buckets = 64
    val bounds = Tables.events(spark, TestSpark.sf)
      .groupBy("event_type")
      .agg(((max(col("value")) - min(col("value"))) / buckets).as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = Relational.bucketedQuantiles(spark, TestSpark.sf, buckets).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = bounds(r.getString(0))
      assert(r.getAs[Double]("p50_abs_err") <= w + 1e-9,
        s"${r.getString(0)} p50 err ${r.getAs[Double]("p50_abs_err")} > bucket width $w")
      assert(r.getAs[Double]("p95_abs_err") <= w + 1e-9,
        s"${r.getString(0)} p95 err ${r.getAs[Double]("p95_abs_err")} > bucket width $w")
    }
  }

  test("daily-active conservation: new users sum to the distinct base, cumulative is monotone") {
    val rows = Relational.dailyActive(spark, TestSpark.sf)
      .collect().sortBy(_.getAs[Long]("day"))
    val totalUsers = Tables.events(spark, TestSpark.sf)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("n_new")).sum == totalUsers)
    assert(rows.last.getAs[Long]("cum_users") == totalUsers)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_events")))
    assert(rows.map(_.getAs[Long]("cum_users"))
      .sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("triangle census bounds: 3T <= W and clustering in [0, 1]") {
    val r = Dedup.trianglesOfPairs(Dedup.nearDupPairs(docs, threshold = 0.8)).collect()(0)
    val (t, w) = (r.getAs[Long]("n_triangles"), r.getAs[Long]("n_wedges"))
    assert(3 * t <= w, s"3*$t triangles exceed $w wedges — enumeration is broken")
    val c = r.getAs[Double]("clustering")
    assert(c >= 0.0 && c <= 1.0)
  }
}
