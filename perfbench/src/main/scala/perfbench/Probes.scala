package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.operators.{CorpusOps, Curation, Dedup}
import graft.sources.IndexBuild

/** Layer probes for traced runs: composed entry points re-run stage by stage
  * on the run's own inputs, each stage timed as its own span. They run after
  * the timed loops and never touch the artifacts the loops maintain. */
object Probes {
  private def stage[T](name: String)(body: => T): (T, Double) =
    Util.timed(Trace.span(name)(body))

  /** `IndexBuild.run`'s stages, on `tree` into the fresh directory `out`. */
  def indexBuild(spark: SparkSession, tree: String, out: String): Map[String, Any] = {
    import spark.implicits._
    val (files, scanS) = stage("IndexBuild.scanFiles") {
      val f = IndexBuild.scanFiles(spark, tree).cache(); f.count(); f }
    val (chunked, chunkS) = stage("IndexBuild.chunkedElements") {
      val c = IndexBuild.chunkedElements(files).cache(); c.count(); c }
    val (embedded, embS) = stage("IndexBuild.embedElements") {
      val e = IndexBuild.embedElements(chunked).cache(); e.count(); e }
    val (_, upS) = stage("IndexBuild.upsertIndex") {
      IndexBuild.upsertIndex(spark, out, embedded,
        currentFiles = Some(files.map(_._1).toDF("file_path"))) }
    val (_, sumS) = stage("IndexBuild.buildSummaries") {
      IndexBuild.buildSummaries(files, spark.read.parquet(s"$out/code_elements"))
        .write.mode("overwrite").parquet(s"$out/file_summaries") }
    val frac = embedded.count().toDouble / chunked.count()
    spark.sharedState.cacheManager.clearCache()
    Map("IndexBuild.scanFiles_s" -> scanS, "IndexBuild.chunkedElements_s" -> chunkS,
      "IndexBuild.embedElements_s" -> embS, "IndexBuild.upsertIndex_s" -> upS,
      "IndexBuild.buildSummaries_s" -> sumS, "IndexBuild.embedded_frac" -> frac)
  }

  /** `Graft.ingestBatch` whole, then its stages one by one on the same batch,
    * each against its own copy of the index `idx`. */
  def ingestBatch(spark: SparkSession, idx: String, batch: Seq[(String, String)],
                  scratch: String): Map[String, Any] = {
    import spark.implicits._
    Util.copyTree(idx, s"$scratch/whole")
    val (_, wholeS) = stage("Graft.ingestBatch") {
      Graft.ingestBatch(spark, s"$scratch/whole", batch.toDS()).count() }
    val copy = s"$scratch/staged"
    Util.copyTree(idx, copy)
    val (fresh, beS) = stage("IndexBuild.buildElements") {
      val f = IndexBuild.buildElements(batch.toDS()).cache(); f.count(); f }
    val corpus = spark.read.parquet(s"$copy/code_elements")
      .join(fresh.select("file_path").distinct(), Seq("file_path"), "left_anti")
      .select(col("id").as("doc_id"), col("content").as("text"))
    val batchDocs = fresh.select(col("id").as("doc_id"), col("content").as("text"))
    val (dups, mhS) = stage("Dedup.minhashAgainst") {
      Dedup.minhashAgainst(batchDocs, corpus, 0.9).select(col("batch_doc").as("id"))
        .distinct().localCheckpoint() }
    val (_, upS) = stage("IndexBuild.upsertIndex") {
      IndexBuild.upsertIndex(spark, copy, fresh.join(dups, Seq("id"), "left_anti"),
        refreshFiles = Some(fresh.select("file_path"))) }
    spark.sharedState.cacheManager.clearCache()
    Map("Graft.ingestBatch_s" -> wholeS, "IndexBuild.buildElements_s" -> beS,
      "Dedup.minhashAgainst_s" -> mhS, "IndexBuild.upsertIndex_s" -> upS,
      "IndexBuild.files_live" -> Util.parquetFiles(s"$copy/code_elements"))
  }

  /** The near-duplicate detector family, one call each. */
  val dedupVariants: IndexedSeq[(String, DataFrame => DataFrame, String)] = IndexedSeq(
    ("Dedup.minhash", d => Dedup.minhash(d, threshold = 0.8), "q_dedup_minhash"),
    ("Dedup.ngramJaccardCapped", d => Dedup.ngramJaccardCapped(d, threshold = 0.5, maxDf = 20),
      "q_dedup_ngram_capped"),
    ("Dedup.ngramJaccardCappedAdaptive", d => Dedup.ngramJaccardCappedAdaptive(d, threshold = 0.5),
      "q_dedup_ngram_adaptive"),
    ("Dedup.ngramJaccardBudgetAuto", d => Dedup.ngramJaccardBudgetAuto(d, threshold = 0.5),
      "q_dedup_ngram_budget"),
    ("Dedup.ngramContainment", d => Dedup.ngramContainment(d, threshold = 0.8),
      "q_dedup_containment"),
    ("Dedup.simhashAuto", d => Dedup.simhashAuto(d, threshold = 0.5), "q_dedup_simhash"))

  /** `Graft.prepareTrainingSet` whole, its stages one by one, and the dedup
    * variants, over `docs`. */
  def curation(spark: SparkSession, docs: DataFrame): Map[String, Any] = {
    val (_, prepS) = stage("Graft.prepareTrainingSet") {
      Graft.prepareTrainingSet(docs).count() }
    val (pairs, pairsS) = stage("Dedup.nearDupPairs") {
      val x = Dedup.nearDupPairs(docs.select("doc_id", "text"), 0.8).localCheckpoint(); x.count(); x }
    val (kept, keptS) = stage("Curation.keptWith") {
      val (k, hs) = Curation.keptWith(docs, 0.45, 0.8, Some(pairs))
      val x = k.localCheckpoint(); x.count(); hs.foreach(_.unpersist()); x }
    val (assign, splitS) = stage("Dedup.splitAssignment") {
      val x = Dedup.splitAssignment(kept, pairs, 10).localCheckpoint(); x.count(); x }
    val (_, packS) = stage("CorpusOps.packSequences") {
      CorpusOps.packSequences(kept.join(assign.filter(col("split") === "train")
        .select("doc_id"), "doc_id"), 512).count() }
    spark.sharedState.cacheManager.clearCache()
    val variants = dedupVariants.map { case (name, f, _) =>
      val (_, s) = stage(name) { f(docs).collect() }
      spark.sharedState.cacheManager.clearCache()
      s"${name}_s" -> s
    }
    Map("Graft.prepareTrainingSet_s" -> prepS, "Dedup.nearDupPairs_s" -> pairsS,
      "Curation.keptWith_s" -> keptS, "Dedup.splitAssignment_s" -> splitS,
      "CorpusOps.packSequences_s" -> packS, "docs" -> docs.count()) ++ variants
  }
}
