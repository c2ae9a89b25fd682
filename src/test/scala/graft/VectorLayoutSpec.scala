package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KMeans, Knn}
import graft.sources.VectorLayout

/** Persisted trained-IVF layout: the stored artifact must return the
  * identical ranking to the in-memory trained path, and the probe must
  * actually prune at the partition level (the point of the layout). */
class VectorLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vlayout").toString
    VectorLayout.write(spark, emb, d, numCentroids = 8, iters = 2)
    d
  }

  test("persisted-layout search returns the identical ranking to the in-memory trained path") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val viaLayout = VectorLayout.search(spark, dir, q, k = 10, nprobe = 3,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    val memory = Knn.topKIvfWith(emb, KMeans.train(emb, k = 8, iters = 2), q,
      k = 10, nprobe = 3, excludeId = Some(0L))
    val viaMemory = memory.collect().map(_.toString).toSeq
    assert(viaLayout == viaMemory)
    // schema parity too: the partition-column read infers cluster as INT
    // unless the projection restores the LongType contract
    assert(VectorLayout.search(spark, dir, q, k = 10, nprobe = 3,
      excludeId = Some(0L)).schema == memory.schema)
  }

  test("probe scan carries a static PartitionFilter on cluster (file-level pruning)") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val plan = VectorLayout.search(spark, dir, q, k = 10, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected a cluster PartitionFilter in:\n$plan")
  }

  test("upserted layout == one-batch assignment against the same codebook (insert + update + move)") {
    val d = java.nio.file.Files.createTempDirectory("graft_vlayout_up").toString
    VectorLayout.write(spark, emb, d, numCentroids = 8, iters = 2)
    val cent = spark.read.parquet(s"$d/centroids")
    // updates: existing ids with reversed embeddings (cluster moves are
    // likely); inserts: fresh ids far above the corpus range
    val upd = emb.filter(col("vec_id") < 10)
      .withColumn("embedding", reverse(col("embedding")))
    val ins = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val batch = upd.unionByName(ins)
    VectorLayout.upsert(spark, d, batch)
    val corpus = emb.filter(col("vec_id") >= 10).unionByName(batch)
    val got = spark.read.parquet(s"$d/cells")
      .withColumn("cluster", col("cluster").cast("long"))
      .select("vec_id", "label", "ed", "nrm", "cluster")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val expected = Knn.ivfAssignWith(corpus, cent)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(got == expected)
    // probes over the upserted layout == the trained probe path over the
    // updated corpus with the same stored codebook
    val q = emb.filter(col("vec_id") === 20).select(col("embedding").as("qv"))
    val viaLayout = VectorLayout.search(spark, d, q, k = 10, nprobe = 3)
      .collect().map(_.toString).toSeq
    val viaMemory = Knn.topKIvfWith(corpus, cent, q, k = 10, nprobe = 3)
      .collect().map(_.toString).toSeq
    assert(viaLayout == viaMemory)
    // recluster-check stat reads the same truth
    val st = VectorLayout.stats(spark, d).collect()
    assert(st.map(_.getAs[Long]("n_vecs")).sum == corpus.count())
    assert(st.forall(r => r.getAs[Double]("mean_sim") <= 1.000001))
  }

  test("a cluster emptied by an upsert move is deleted, not left stale") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_vlayout_mv").toString
    // two tight groups on orthogonal axes; vec 5 sits alone near axis y
    val base = Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (1L, 0, Seq(0.9f, 0.1f)),
      (2L, 0, Seq(0.95f, 0.05f)),
      (5L, 1, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    VectorLayout.write(spark, base, d, numCentroids = 2, iters = 2)
    val cent = spark.read.parquet(s"$d/centroids")
    val before = spark.read.parquet(s"$d/cells")
      .withColumn("cluster", col("cluster").cast("long"))
    val oldCluster = before.filter(col("vec_id") === 5L)
      .select("cluster").head().getLong(0)
    assert(before.filter(col("cluster") === oldCluster).count() == 1,
      "fixture must isolate vec 5 in its own cluster")
    // move vec 5 into the x-axis group: its old cluster becomes empty
    val batch = Seq((5L, 1, Seq(1.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    VectorLayout.upsert(spark, d, batch)
    val after = spark.read.parquet(s"$d/cells")
      .withColumn("cluster", col("cluster").cast("long"))
    assert(after.filter(col("cluster") === oldCluster).count() == 0,
      "stale partition must not resurrect the moved row")
    val expected = Knn.ivfAssignWith(
      base.filter(col("vec_id") =!= 5L).unionByName(batch), cent)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(after.select("vec_id", "label", "ed", "nrm", "cluster")
      .orderBy("vec_id").collect().map(_.toString).toSeq == expected)
  }

  test("stored centroids round-trip exactly (the artifact IS the truth the search reads)") {
    val stored = spark.read.parquet(s"$dir/centroids")
      .orderBy("cid").collect().map(_.toString).toSeq
    val trained = KMeans.train(emb, k = 8, iters = 2)
      .orderBy("cid").collect().map(_.toString).toSeq
    assert(stored == trained)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def held = emb.filter(col("vec_id") % 10 === 7)
  private def q20 = emb.filter(col("vec_id") === 20).select(col("embedding").as("qv"))
  private def answer(d: String): Seq[String] =
    VectorLayout.search(spark, d, q20, k = 10, nprobe = 3).collect().map(_.toString).toSeq
  private def content(d: String): Seq[String] =
    Seq("centroids", "cells").flatMap { rel =>
      val t = spark.read.parquet(s"$d/$rel")
      t.select(t.columns.sorted.map(t.col).toIndexedSeq: _*).collect().map(_.toString).sorted
    }

  test("write, upsert and search leave nothing persisted, cached or set") {
    val d = tmp("graft_vlayout_leak")
    TestSpark.leavesNothing("write")(VectorLayout.write(spark,
      emb.filter(col("vec_id") % 10 =!= 7), d, numCentroids = 8, iters = 2))
    TestSpark.leavesNothing("upsert")(VectorLayout.upsert(spark, d, held))
    TestSpark.leavesNothing("search")(answer(d))
  }

  test("a refused swap-in fails the upsert and the write, keeps the old layout; a replay equals a clean run") {
    val d = tmp("graft_vlayout_fault")
    val clean = tmp("graft_vlayout_clean")
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    Seq(d, clean).foreach(VectorLayout.write(spark, base, _, numCentroids = 8, iters = 2))
    val before = answer(d)
    val stored = content(d)
    val up = intercept[java.io.IOException](
      VectorLayout.upsert(spark, NoSwapInFs.path(spark, d), held))
    assert(up.getMessage.contains("swap-in"), up.getMessage)
    assert(answer(d) == before && content(d) == stored, "the upsert changed the live layout")
    assert(TestSpark.swapLeftovers(d).isEmpty, TestSpark.swapLeftovers(d).toString)
    Seq(d, clean).foreach(VectorLayout.upsert(spark, _, held))
    assert(content(d) == content(clean))
    val upserted = answer(d)
    val wr = intercept[java.io.IOException](VectorLayout.write(spark, emb,
      NoSwapInFs.path(spark, d), numCentroids = 8, iters = 2))
    assert(wr.getMessage.contains("swap-in"), wr.getMessage)
    assert(answer(d) == upserted && content(d) == content(clean),
      "the write changed the live layout")
    assert(TestSpark.swapLeftovers(d).isEmpty, TestSpark.swapLeftovers(d).toString)
    Seq(d, clean).foreach(VectorLayout.write(spark, emb, _, numCentroids = 8, iters = 2))
    assert(content(d) == content(clean))
  }

  test("a layout parked between a swap's renames is recovered by the next search or write") {
    val d = tmp("graft_vlayout_parked")
    VectorLayout.write(spark, emb, d, numCentroids = 8, iters = 2)
    val before = answer(d)
    // an upsert's swap (cells set aside), then a write's (the whole dir)
    for (live <- Seq(s"$d/cells", d)) {
      assert(new java.io.File(live).renameTo(new java.io.File(s"${live}_old")))
      assert(answer(d) == before, s"$live parked")
      assert(TestSpark.swapLeftovers(d).isEmpty, TestSpark.swapLeftovers(d).toString)
    }
    // a write recovers it before its own (here refused) swap-in
    assert(new java.io.File(d).renameTo(new java.io.File(s"${d}_old")))
    intercept[java.io.IOException](VectorLayout.write(spark, emb,
      NoSwapInFs.path(spark, d), numCentroids = 8, iters = 2))
    assert(TestSpark.swapLeftovers(d).isEmpty, TestSpark.swapLeftovers(d).toString)
    assert(new java.io.File(s"$d/cells").isDirectory && answer(d) == before)
  }
}
