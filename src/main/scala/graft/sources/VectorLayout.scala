package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.functions.VecExprs.dotc
import graft.operators.{KMeans, Knn}

/** Persisted trained-IVF vector index — the production seam the trainer
  * feeds: [[KMeans.train]] once per corpus snapshot, write the centroid
  * table beside the cells PARTITIONED BY cluster, and probe with static
  * partition pruning so an nprobe-of-C query reads nprobe/C of the files.
  * This is the artifact [[Knn.topKIvf]]'s scaladoc promises ("a deployment
  * runs this offline and writes the result partitionBy(cluster)"), with
  * the trained centroids persisted so queries never re-derive them —
  * before this seam, [[Knn.topKIvfWith]] retrained per query.
  *
  * Scale shape: `write` is the offline job (T training scans + one layout
  * write); `search` reads the k-row centroid table, ranks it against the
  * query (driver-side collect of nprobe cluster ids — facade-surface
  * collect, k-bounded by construction, the [[graft.Graft]] tolerance), and
  * scans ONLY the probed partitions: the `isin` filter on the partition
  * column is STATIC pruning, visible as `PartitionFilters` in the scan
  * node (spec-asserted), so file-level skipping grows with the corpus
  * while probe cost stays ~nprobe/C of it.
  *
  * Float discipline: centroids round-trip through parquet doubles
  * (lossless), and `search` evaluates the same raw-cosine tree as
  * [[Knn.topKIvfWith]] — spec-proven to return the identical ranking to
  * the in-memory trained path. */
object VectorLayout {

  /** Train and persist: `$dir/centroids` (cid, ce, cn) and `$dir/cells`
    * (vec_id, label, ed, nrm, cluster=partition). */
  def write(spark: SparkSession, index: DataFrame, dir: String,
            numCentroids: Int = 16, iters: Int = 3): Unit = {
    KMeans.train(index, numCentroids, iters)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    // assign against the PERSISTED centroids — the stored artifact is the
    // single source of truth; an in-memory copy could drift from what a
    // later search reads
    val cent = spark.read.parquet(s"$dir/centroids")
    Knn.ivfAssignWith(index, cent)
      .write.mode(SaveMode.Overwrite).partitionBy("cluster")
      .parquet(s"$dir/cells")
  }

  /** Probe the persisted layout: rank the stored centroids against the
    * query ([[Knn.probeCells]], the in-memory path's probe ranking),
    * statically prune to the top-`nprobe` cells, exact-rank within them
    * ([[Knn.ranked]]). Output matches [[Knn.topKIvfWith]]: (vec_id,
    * label, cluster, sim). */
  def search(spark: SparkSession, dir: String, queryVec: DataFrame, k: Int,
             nprobe: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val stored = spark.read.parquet(s"$dir/cells")
    Knn.single(stored, queryVec, "VectorLayout.search",
        StructField("cluster", LongType)) { q =>
      val (_, probeIds) = Knn.probeCells(spark.read.parquet(s"$dir/centroids"), q, nprobe)
      val cells = stored.filter(col("cluster").isin(probeIds: _*))
      val candidates = excludeId
        .map(id => cells.filter(col("vec_id") =!= id)).getOrElse(cells)
      // cluster comes back as a PARTITION column, which Spark's directory
      // inference types IntegerType — cast restores the LongType contract
      // shared with Knn.topKIvfWith (review finding: a union of the two
      // paths' outputs would otherwise fail analysis)
      Knn.ranked(candidates, q, k, col("cluster").cast("long").as("cluster"))
    }
  }

  /** The stored cells with the partition column's LongType contract
    * restored (directory inference types it INT — the CLAUDE.md partition
    * -column rule; every internal consumer reads through this seam). */
  private def cells(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/cells")
      .withColumn("cluster", col("cluster").cast("long"))

  /** Incremental upsert — the maintenance path a production vector index
    * needs between retrains (round-6 verdict #4; [[write]] alone is a
    * write-once snapshot). Semantics: last-writer-wins per vec_id against
    * the STORED centroids — new and updated vectors are assigned with the
    * same [[graft.operators.Knn.ivfAssignWith]] expression the batch build
    * uses, so an upserted layout is INDISTINGUISHABLE from assigning the
    * updated corpus against the same codebook in one batch (spec-pinned).
    * Training drift — the stored centroids slowly mismatching the data —
    * is deliberately NOT hidden here: it is what [[stats]] measures, and
    * the deployment answer is a retrain + fresh [[write]].
    *
    * Scale shape: the rewrite is confined to AFFECTED cluster partitions
    * (those receiving new rows plus those holding prior versions of the
    * upserted ids) under dynamic partition overwrite — cost scales with
    * the batch's cluster footprint, never the index size. An affected
    * partition left EMPTY (its only rows moved clusters) is deleted
    * explicitly — dynamic overwrite cannot express an empty partition,
    * and leaving the stale directory would resurrect replaced rows.
    * Driver-side collects are bounded by the affected-cluster count
    * (≤ 2·C), the same facade tolerance as [[search]]'s probe list. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    import graft.operators.Knn
    val cent = spark.read.parquet(s"$dir/centroids")
    val assigned = Knn.ivfAssignWith(batch, cent)
    val stored = cells(spark, dir)
    val ids = batch.select("vec_id").distinct()
    val affected = assigned.select("cluster").distinct()
      .union(stored.join(ids, Seq("vec_id"), "left_semi").select("cluster").distinct())
      .distinct()
    // survivors of affected partitions + the freshly assigned batch;
    // affected is cluster-cardinality (tiny) — broadcast semi-join is the
    // correct shape, no pin needed
    // MATERIALIZE the rewrite before touching the directory it reads from
    // (round-7 ADVICE): the plan below scans $dir/cells, and the dynamic
    // overwrite replaces those very partition dirs — without the eager
    // checkpoint the uncheckpointed plan would re-execute over a
    // half-replaced directory (and run 3×: writtenIds collect + the write
    // + the assignment). After the checkpoint, the write reads executor
    // blocks, never the directory being overwritten.
    val rewritten = stored
      .join(affected, Seq("cluster"), "left_semi")
      .join(ids, Seq("vec_id"), "left_anti")
      .select("vec_id", "label", "ed", "nrm", "cluster")
      .unionByName(assigned.select("vec_id", "label", "ed", "nrm", "cluster"))
      .localCheckpoint(true)
    val affectedIds = affected.collect().map(_.getLong(0)).toSet
    val writtenIds = rewritten.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSet
    // scope the overwrite mode around this eager, self-contained write
    // only (the StreamOps conf pattern: never leak session conf from a
    // lazily-evaluated operator)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try rewritten.write.mode(SaveMode.Overwrite).partitionBy("cluster")
      .parquet(s"$dir/cells")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    (affectedIds -- writtenIds).foreach { cid =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/cells/cluster=$cid"), true)
      ()
    }
  }

  /** Recluster-check stat over the CURRENT layout: per-cluster fill and
    * mean member→centroid cosine (decimal order-free mean — the ivfStats
    * float discipline). A deployment snapshots this at [[write]] time and
    * re-reads it after upsert batches; falling coherence or fill skew is
    * the retrain trigger the [[upsert]] scaladoc points at. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val cent = spark.read.parquet(s"$dir/centroids")
    cells(spark, dir)
      .join(cent, col("cluster") === col("cid"))
      .withColumn("csim", dotc(col("ed"), col("ce")) / (col("nrm") * col("cn")))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("csim").cast("decimal(28,12)")) / count(lit(1)))
          .cast("double").as("mean_sim"))
      .select(col("cluster"), col("n_vecs"), round(col("mean_sim"), 6).as("mean_sim"))
      .orderBy(asc("cluster"))
  }
}
