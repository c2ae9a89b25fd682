package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.functions.VecExprs.{bestCentroid, dotc}
import graft.operators.{KMeans, Knn, NnDescent}

/** Persisted trained-IVF layout — the production seam the trainer feeds:
  * train once per corpus snapshot, write the centroid table beside the
  * cells PARTITIONED BY cluster, and probe with static partition pruning
  * so an nprobe-of-C query reads nprobe/C of the files. Before this seam,
  * [[Knn.topKIvfWith]] retrained per query.
  *
  * One cell layout serves two callers: the vector layout here (cells keyed
  * by `vec_id`, vector `ed`) and the code-index search layout of
  * [[IndexBuild.writeSearchLayout]] (cells keyed by element id, displaced
  * per `file_path`, vector `embedding`). Each keeps its own training and
  * rank tail; the cell assignment ([[assigned]]), the cell write
  * ([[writeCells]]), the upsert ([[upsertCells]]) and the probed-cell read
  * ([[probe]]) exist once, here.
  *
  * Commit: every write stages a whole relation and puts it live with one
  * [[SignatureLayout.swapIn]] — the layout dir for a write, `cells` for an
  * upsert — so a failed or crashed call leaves the previous layout
  * readable, and every reader and writer first runs swap recovery
  * ([[open]]) on the layout dir and on `cells`.
  *
  * Scale shape: `write` is the offline job (T training rounds + one layout
  * write); a search collects the ≤ C centroid rows once, ranks them against
  * the query on the driver ([[Knn.probeCells]]), and scans ONLY the probed
  * partitions: the `isin` filter on the partition column is STATIC
  * pruning, visible as `PartitionFilters` in the scan node (spec-asserted).
  *
  * Float discipline: centroids round-trip through parquet doubles
  * (lossless), and the vector layout's search evaluates the same raw-cosine
  * tree as [[Knn.topKIvfWith]] — spec-proven to return the identical
  * ranking to the in-memory trained path. */
object VectorLayout {

  /** Train ([[KMeans.train]]) and persist: `$dir/centroids` (cid, ce, cn)
    * and `$dir/cells` (vec_id, label, ed, nrm, cluster=partition), staged
    * and swapped in as one dir ([[writeCells]]). The layout owns `dir`:
    * the whole dir is replaced, and a failed write leaves the previous
    * layout readable. */
  def write(spark: SparkSession, index: DataFrame, dir: String,
            numCentroids: Int = 16, iters: Int = 3): Unit =
    writeCells(spark, dir, KMeans.train(index, numCentroids, iters), vectors(index), "ed")

  /** Probe the persisted layout: rank the stored centroids against the
    * query, statically prune to the top-`nprobe` cells, exact-rank within
    * them ([[Knn.ranked]]). Output matches [[Knn.topKIvfWith]]: (vec_id,
    * label, cluster, sim). */
  def search(spark: SparkSession, dir: String, queryVec: DataFrame, k: Int,
             nprobe: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val stored = cells(spark, dir)
    Knn.single(stored, queryVec, "VectorLayout.search",
        StructField("cluster", LongType)) { q =>
      val probed = probe(stored, dir, q, nprobe)
      val candidates = excludeId
        .map(id => probed.filter(col("vec_id") =!= id)).getOrElse(probed)
      Knn.ranked(candidates, q, k, col("cluster"))
    }
  }

  /** Incremental upsert — the maintenance path between retrains.
    * Last-writer-wins per vec_id against the STORED centroids: the batch is
    * assigned with the same expression the write uses, so an upserted
    * layout is INDISTINGUISHABLE from assigning the updated corpus against
    * the same codebook in one batch (spec-pinned). Training drift — the
    * stored centroids slowly mismatching the data — is deliberately NOT
    * hidden here: it is what [[stats]] measures, and the deployment answer
    * is a retrain + fresh [[write]]. A no-op when no layout exists at
    * `dir`. The new cells are staged and swapped in, so a failed upsert
    * leaves the previous layout readable; the cost is O(layout), as
    * [[upsertCells]] says. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame): Unit =
    upsertCells(spark, dir, vectors(batch), batch.select("vec_id"), "ed")

  /** Recluster-check stat over the CURRENT layout: per-cluster fill and
    * mean member→centroid cosine (decimal order-free mean — the ivfStats
    * float discipline). A deployment snapshots this at [[write]] time and
    * re-reads it after upsert batches; falling coherence or fill skew is
    * the retrain trigger the [[upsert]] scaladoc points at. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir)
      .join(spark.read.parquet(s"$dir/centroids"), col("cluster") === col("cid"))
      .withColumn("csim", dotc(col("ed"), col("ce")) / (col("nrm") * col("cn")))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("csim").cast("decimal(28,12)")) / count(lit(1)))
          .cast("double").as("mean_sim"))
      .select(col("cluster"), col("n_vecs"), round(col("mean_sim"), 6).as("mean_sim"))
      .orderBy(asc("cluster"))

  /** The vector layout's cell rows: (vec_id, label, ed, nrm). */
  private def vectors(index: DataFrame): DataFrame =
    Knn.prepped(index).select("vec_id", "label", "ed", "nrm")

  // ------------------------------------------------------- the cell layout

  /** The layout at `dir` after swap recovery of the dir and of its `cells`:
    * the stored cells with the partition column's LongType restored
    * (directory inference types it INT — the CLAUDE.md partition-column
    * rule), or None when no layout is there. Probed on the path's own
    * FileSystem. Every reader and the upsert open the layout here. */
  private def open(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = new Path(dir).toString
    SignatureLayout.recoverPath(spark, root)
    SignatureLayout.recoverPath(spark, s"$root/cells")
    val cent = new Path(s"$root/centroids")
    if (!cent.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cent)) None
    else Some(spark.read.parquet(s"$root/cells")
      .withColumn("cluster", col("cluster").cast("long")))
  }

  /** [[open]] for a reader: a missing layout is an error. */
  private[sources] def cells(spark: SparkSession, dir: String): DataFrame =
    open(spark, dir).getOrElse(throw new java.io.FileNotFoundException(s"no IVF layout at $dir"))

  /** `rows` (carrying the vector column `vec` and its norm `nrm`) plus each
    * row's argmax-cosine centroid id as `cluster` — the codegen'd
    * BestCentroid against the collected centroid rows as a literal
    * ([[Knn.centroidsLit]]), no broadcast relation. */
  private def assigned(rows: DataFrame, cents: Seq[Row], vec: String): DataFrame =
    rows.withColumn("cluster", bestCentroid(Knn.centroidsLit(cents), col(vec), col("nrm")))

  /** `body` writes `stage`, then one [[SignatureLayout.swapIn]] puts it at
    * `live`. The stage never outlives the call, committed or not. */
  private def staged(spark: SparkSession, live: String, stage: String)(body: => Unit): Unit = {
    val p = new Path(stage)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    try { body; SignatureLayout.swapIn(spark, live, stage) }
    finally { fs.delete(p, true); () }
  }

  /** The one layout write: stage `centroids` (the trained `cent`, whose
    * last round checkpoint is released once written) and `cells` (`rows`
    * assigned against the centroids READ BACK from the stage — the
    * persisted artifact is the truth a later search reads) under
    * `<dir>_stage`, then swap the whole dir in at once: a crash can never
    * leave cells assigned under another codebook. A layout parked by an
    * earlier crashed swap is recovered first, so a failed write leaves it
    * readable. */
  private[sources] def writeCells(spark: SparkSession, dir: String, cent: DataFrame,
                                  rows: DataFrame, vec: String): Unit = {
    val root = new Path(dir).toString
    val stage = s"${root}_stage"
    SignatureLayout.recoverPath(spark, root)
    staged(spark, root, stage) {
      try cent.write.parquet(s"$stage/centroids") finally NnDescent.release(cent)
      val cents = Knn.centroidRows(spark.read.parquet(s"$stage/centroids"))
      assigned(rows, cents, vec).write.partitionBy("cluster").parquet(s"$stage/cells")
    }
  }

  /** The one upsert: the stored cells minus those whose `displaced` key
    * (a one-column relation: `vec_id`, or the search layout's `file_path`)
    * matches, plus `rows` assigned against the stored centroids, staged as
    * a whole new `cells` and swapped in. A no-op when no layout exists.
    *
    * O(layout), by choice: `q_knn_ivf_upsert`'s batches touch every
    * cluster (15 of 15 at sf0.01 and sf0.1, SCALE.md §4), and the
    * streaming re-index that maintains the search layout rewrites all of
    * `code_elements` in the same micro-batch, so confining the rewrite to
    * the touched clusters would save little, and would need a
    * multi-partition commit of its own (a per-cluster swap leaves
    * `cluster=N_old` dirs that partition discovery reads). The plan reads
    * the live `cells` and writes a different dir, so it needs no
    * checkpoint, and an emptied cluster is simply not staged. */
  private[sources] def upsertCells(spark: SparkSession, dir: String, rows: DataFrame,
                                   displaced: DataFrame, vec: String): Unit =
    open(spark, dir).foreach { stored =>
      val root = new Path(dir).toString
      val cents = Knn.centroidRows(spark.read.parquet(s"$root/centroids"))
      staged(spark, s"$root/cells", s"$root/cells_stage") {
        stored.join(displaced, displaced.columns.toSeq, "left_anti")
          .unionByName(assigned(rows, cents, vec).select(stored.columns.map(col).toIndexedSeq: _*))
          .write.partitionBy("cluster").parquet(s"$root/cells_stage")
      }
    }

  /** The one probed-cell read: the `stored` cells ([[cells]]) of the
    * `nprobe` centroids of `dir` nearest `q` ([[Knn.probeCells]]), as a
    * static filter on the partition column. */
  private[sources] def probe(stored: DataFrame, dir: String, q: Array[Double],
                             nprobe: Int): DataFrame = {
    val (_, ids) = Knn.probeCells(stored.sparkSession.read.parquet(s"$dir/centroids"), q, nprobe)
    stored.filter(col("cluster").isin(ids: _*))
  }
}
