package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{Diagnostics, SymbolNav}
import graft.sources.{IndexBuild, Sandbox}

/** User-facing facade: the reference's tool surface, one method per tool,
  * so a user of `ADK-noUI-vectorDB` can switch by name. Each method is a
  * thin delegation to the operator library — the facade adds no logic, it
  * only fixes the entry-point names and argument shapes to the reference's
  * (tool signatures cited per method). Results are DataFrames rather than
  * formatted strings; `IndexOps.searchFormatted` renders the reference's
  * "Result N (similarity: X.XXX):" text blocks when string output is
  * wanted (Q8).
  */
object Graft {

  /** `index_codebase_tool()` — indexing_tool.py:5; full build: scan →
    * chunk → embed → upsert both index tables + JSON-able report row. */
  def indexCodebase(spark: SparkSession, rootDir: String, indexDir: String): DataFrame =
    IndexBuild.run(spark, rootDir, indexDir)

  /** A local relation: collecting it runs no job (an empty RDD's collect
    * still posts one). */
  private def emptyResult(spark: SparkSession, schemaDDL: String): DataFrame =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      StructType.fromDDL(schemaDDL))

  private val SearchSchema =
    "id STRING, name STRING, element_type STRING, file_path STRING, similarity DOUBLE"

  /** `search_code_tool(query, max_results, element_types)` —
    * vector_search_tool.py:272; filtered kNN over `code_elements`. The
    * reference accepts a comma-separated element-type list and filters on
    * the first; `fileType` exposes the filter the reference declared but
    * never honored (quirk SURVEY §2.9#1, fixed here). */
  def searchCode(spark: SparkSession, indexDir: String, query: String,
                 maxResults: Int = 10,
                 elementTypes: Seq[String] = Nil,
                 fileType: Option[String] = None): DataFrame =
    IndexBuild.tableOrEmpty(spark, s"$indexDir/code_elements") match {
      case Some(idx) => IndexBuild.searchElementsTable(idx, query, maxResults,
        elementType = elementTypes.headOption, fileType = fileType)
      case None => emptyResult(spark, SearchSchema)
    }

  /** [[searchCode]] rendered as the reference's actual tool output — the
    * joined "Result N (similarity: X.XXX):" text (vector_search_tool
    * .py:60-78): the string a reference caller receives today. */
  def searchCodeText(spark: SparkSession, indexDir: String, query: String,
                     maxResults: Int = 10,
                     elementTypes: Seq[String] = Nil,
                     fileType: Option[String] = None): String =
    IndexBuild.tableOrEmpty(spark, s"$indexDir/code_elements") match {
      case Some(idx) =>
        val blocks = IndexBuild.searchElementsText(idx, query, maxResults,
            elementTypes.headOption, fileType)
          .collect().map(_.getAs[String]("result_text"))
        // reference parity (vector_search_tool.py:50-51, 78-80): each block
        // ends separator + newline before the '\n'.join — a BLANK line
        // between results and a trailing newline — and the zero-hit answer
        // is the "No results found" string, not "" (round-4 review)
        if (blocks.isEmpty) s"No results found for query: '$query'"
        else blocks.mkString("", "\n\n", "\n")
      case None => "No code index found. Please run indexing first."
    }

  /** `search_files_tool(query, max_results)` — vector_search_tool.py:289;
    * kNN over `file_summaries`. */
  def searchFiles(spark: SparkSession, indexDir: String, query: String,
                  maxResults: Int = 5): DataFrame =
    IndexBuild.tableOrEmpty(spark, s"$indexDir/file_summaries") match {
      case Some(summaries) => IndexBuild.searchSummaries(summaries, query, maxResults)
      case None => emptyResult(spark,
        "file_path STRING, file_type STRING, element_count BIGINT, similarity DOUBLE")
    }

  /** `get_file_context_tool(file_path, max_elements)` —
    * vector_search_tool.py:297; a file's elements in source order. */
  def getFileContext(spark: SparkSession, indexDir: String, filePath: String,
                     maxElements: Int = 20): DataFrame =
    IndexBuild.tableOrEmpty(spark, s"$indexDir/code_elements") match {
      case Some(idx) => idx
        .filter(col("file_path") === filePath)
        .orderBy(asc("start_line"), asc("id"))
        .limit(maxElements)
        .select(col("id"), col("name"), col("element_type"),
          col("start_line"), col("end_line"), col("docstring"))
      case None => emptyResult(spark,
        "id STRING, name STRING, element_type STRING, start_line INT, end_line INT, docstring STRING")
    }

  /** `get_diagnostics_tool(file_path, content)` — lsp_tool.py:417; the
    * real per-extension rule banks over one file's lines. */
  def getDiagnostics(spark: SparkSession, filePath: String, content: String): DataFrame = {
    import spark.implicits._
    Diagnostics.codeDiagnostics(Seq((filePath, content)).toDF("file_path", "content"))
  }

  /** `validate_code_tool(file_path, new_content)` — lsp_tool.py:451;
    * shadow-workspace verdict: no error-severity findings. */
  def validateCode(spark: SparkSession, filePath: String, newContent: String): Boolean =
    getDiagnostics(spark, filePath, newContent).collect()
      .forall(_.getAs[Long]("error_count") == 0L)

  /** `go_to_definition_tool` / `find_references_tool` — lsp_tool.py:429/
    * :440, as the relational analog (SURVEY §2.6): definition sites and
    * reference counts for the given symbols over a documents corpus. */
  def symbolNavigation(documents: DataFrame, symbols: Seq[String]): DataFrame =
    SymbolNav.defsAndRefs(documents, symbols)

  /** `read_file(file_path)` — file_system_tool.py:12, sandboxed. */
  def readFile(sandbox: Sandbox, path: String): Either[String, String] =
    sandbox.readFile(path)

  /** `write_file(file_path, content)` — file_system_tool.py:24, sandboxed. */
  def writeFile(sandbox: Sandbox, path: String, content: String): Either[String, java.nio.file.Path] =
    sandbox.writeFile(path, content)

  /** Composed ingest pipeline — the production flow the per-stage
    * operators exist for, run end-to-end on one batch: new files →
    * chunk + embed ([[IndexBuild.buildElements]]) → near-dup gate against
    * the EXISTING index ([[graft.operators.Dedup.minhashAgainst]]) →
    * benchmark decontamination
    * ([[graft.operators.CorpusOps.decontaminateAgainst]], when `bench` is
    * given) → upsert survivors ([[IndexBuild.upsertIndex]], crash-safe
    * swap). Spec-proven ≡ running the stages sequentially (FacadeSpec);
    * each stage is independently oracle-gated (q_reindex_delta /
    * q_dedup_incremental / q_decontam).
    *
    * Gate semantics: the near-dup corpus side is the existing elements of
    * OTHER files only — a re-submitted file must REPLACE its previous
    * elements through the upsert's per-file last-writer-wins, never be
    * gated out by its own older version. An element failing both gates
    * reports as `near_dup` (gate order, documented not incidental).
    *
    * Returns the per-element disposition report (id, file_path, action ∈
    * ingested | near_dup | contaminated), `localCheckpoint`ed BEFORE the
    * upsert runs — the gates read the same table the upsert swaps out, so
    * the report must be materialized first (ordering is load-bearing).
    * Scratch caches the stages create (the batch/corpus shingle relations
    * and the chunked batch) are released before returning via the cache
    * HANDLES the `-With` stage variants expose — the buildSummariesWith
    * precedent; library callers get no harness cache-clear, and FacadeSpec
    * asserts the cache manager is empty after return.
    *
    * Scale shape: the batch side is small by construction (today's crawl);
    * the corpus side of the gate is the persisted band index
    * ([[IndexBuild.writeBucketed]] is its bucketed form), probed new×old
    * only — never old×old, which is the point vs re-running full dedup
    * per ingest. */
  /** Composed training-set preparation — the batch counterpart of
    * [[ingestBatch]], run once per corpus snapshot: quality gate + exact
    * dedup + near-dup removal ([[graft.operators.Curation]]'s funnel) →
    * leakage-safe train/val split over the SAME near-dup pair graph
    * ([[graft.operators.Dedup.splitAssignment]]) → sequence packing of
    * the train split ([[graft.operators.CorpusOps.packSequences]]).
    * Every stage is independently oracle-gated (q_curation /
    * q_leakage_split / q_pack_sequences); FacadeSpec proves the
    * composition ≡ the stages run sequentially plus the conservation
    * invariants (doc counts, token totals, zero straddling pairs).
    *
    * The near-dup pair relation is computed ONCE (the [[graft.operators
    * .Dedup.nearDupPairs]] materialize-once seam) and feeds both the
    * curation funnel (via its `pairs` parameter, semi-join-restricted
    * inside) and the split clustering — re-running the signature+verify
    * pipeline per stage is exactly what the seam exists to avoid. The
    * returned manifest is `localCheckpoint`ed BEFORE the scratch caches
    * release (the [[ingestBatch]] ordering discipline).
    *
    * Returns the per-doc manifest: (doc_id, lang, split, ntok, offset,
    * first_seq, n_seqs) — offset/first_seq/n_seqs NULL for val docs (they
    * are held out of packing by definition). */
  def prepareTrainingSet(documents: DataFrame,
                         minQuality: Double = 0.45,
                         nearDupThreshold: Double = 0.8,
                         valPct: Int = 10,
                         seqLen: Int = 512): DataFrame = {
    import graft.operators.{CorpusOps, Curation, Dedup}
    val (pairs0, pairHandles) = Dedup.nearDupPairsWith(
      documents.select(col("doc_id"), col("text")), nearDupThreshold)
    val pairs = pairs0.cache()
    val (kept, stageCaches) =
      Curation.keptWith(documents, minQuality, nearDupThreshold, Some(pairs))
    try {
      // pair membership is per-pair: restrict the full-corpus graph to the
      // kept docs by semi-joining both endpoints (the nearDupPairs
      // restriction contract) before clustering — a dropped doc must not
      // glue two kept clusters together through itself
      val keptIds = kept.select("doc_id")
      val keptPairs = pairs
        .join(keptIds.withColumnRenamed("doc_id", "d1").hint("merge"), Seq("d1"), "left_semi")
        .join(keptIds.withColumnRenamed("doc_id", "d2").hint("merge"), Seq("d2"), "left_semi")
      val assign = Dedup.splitAssignment(kept, keptPairs, valPct)
      val packed = CorpusOps.packSequences(
        kept.join(assign.filter(col("split") === "train").select("doc_id"), "doc_id"),
        seqLen)
      assign
        .join(kept.select("doc_id", "lang"), "doc_id")
        .join(packed.select("doc_id", "offset", "first_seq", "n_seqs"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("split"), col("ntok"),
          col("offset"), col("first_seq"), col("n_seqs"))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally {
      stageCaches.foreach(_.unpersist())
      pairHandles.foreach(_.unpersist())
      pairs.unpersist()
      ()
    }
  }

  def ingestBatch(spark: SparkSession, indexDir: String,
                  newFiles: org.apache.spark.sql.Dataset[(String, String)],
                  bench: Option[DataFrame] = None,
                  dedupThreshold: Double = 0.9,
                  maxContamFrac: Double = 0.5): DataFrame = {
    import graft.operators.{CorpusOps, Dedup}
    val fresh = IndexBuild.buildElements(newFiles).cache()
    val batchDocs = fresh.select(col("id").as("doc_id"), col("content").as("text"))
    val existing = IndexBuild.tableOrEmpty(spark, s"$indexDir/code_elements")
    val corpusDocs = existing.map(
      _.join(fresh.select("file_path").distinct(), Seq("file_path"), "left_anti")
        .select(col("id").as("doc_id"), col("content").as("text")))
    val stageCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val none = fresh.select("id").limit(0)
      val dupIds = corpusDocs match {
        case Some(c) =>
          val (pairs, caches) = Dedup.minhashAgainstWith(batchDocs, c, dedupThreshold)
          stageCaches ++= caches
          pairs.select(col("batch_doc").as("id")).distinct()
        case None => none
      }
      val contamIds = bench match {
        // gate on the RAW integer-derived ratio, never the display-rounded
        // contam_frac column (CLAUDE.md: rank/filter on raw doubles —
        // round(…, 6) can pull a just-over-threshold doc back under it)
        case Some(b) =>
          val (overlap, tsh) = CorpusOps.decontaminateAgainstWith(batchDocs, b)
          stageCaches += tsh
          overlap
            .filter(col("n_overlap").cast("double") / col("n_shingles") > maxContamFrac)
            .select(col("doc_id").as("id")).distinct()
        case None => none
      }
      val report = fresh.select(col("id"), col("file_path"))
        .join(dupIds.withColumn("near_dup", lit(true)), Seq("id"), "left")
        .join(contamIds.withColumn("contam", lit(true)), Seq("id"), "left")
        .select(col("id"), col("file_path"),
          when(col("near_dup"), "near_dup")
            .when(col("contam"), "contaminated")
            .otherwise("ingested").as("action"))
        .orderBy("id")
        .localCheckpoint()
      val survivors = fresh.join(
        report.filter(col("action") === "ingested").select("id"),
        Seq("id"), "left_semi")
      // refreshFiles = the WHOLE batch's paths, not survivors': a
      // re-submitted file whose new elements are all gated must still have
      // its stale old elements deleted (the file's current content is what
      // the gates rejected — serving its superseded version would be the
      // exact stale-element leak the upsert exists to prevent)
      IndexBuild.upsertIndex(spark, indexDir, survivors,
        refreshFiles = Some(fresh.select("file_path")))
      report
    } finally {
      // unpersist by HANDLE: each gate stage returns its cached scratch
      // relations (minhashAgainstWith / decontaminateAgainstWith — the
      // buildSummariesWith precedent), so the release cannot silently
      // become a no-op if a stage changes shingle width or normalization.
      // FacadeSpec asserts the cache manager is empty after this returns.
      stageCaches.foreach(_.unpersist())
      fresh.unpersist()
      ()
    }
  }

  /** Train a BPE vocabulary on a corpus snapshot — the tokenizer-training
    * companion to [[prepareTrainingSet]] (learn once, then tokenize every
    * later batch with [[tokenizeWith]]). Returns the learned merge list
    * ([[graft.operators.Bpe.learn]]'s (it, s1, s2, merged, pair_count)). */
  def trainTokenizer(documents: DataFrame, merges: Int = 8): DataFrame =
    graft.operators.Bpe.learn(documents, merges)

  /** Tokenize a batch under a FROZEN learned merge list — the per-batch
    * apply path; `merges` is [[trainTokenizer]]'s output and `rounds`
    * must not exceed its row count. */
  def tokenizeWith(documents: DataFrame, merges: DataFrame, rounds: Int,
                   topN: Int = 30): DataFrame =
    graft.operators.Bpe.applyMerges(documents, merges, rounds, topN)

  /** Train and persist the IVF vector layout for a corpus snapshot —
    * centroids + cluster-partitioned cells ([[graft.sources.VectorLayout]]);
    * [[searchVectorLayout]] probes it with static partition pruning. */
  def buildVectorLayout(spark: SparkSession, index: DataFrame, dir: String,
                        numCentroids: Int = 16, iters: Int = 3): Unit =
    graft.sources.VectorLayout.write(spark, index, dir, numCentroids, iters)

  def searchVectorLayout(spark: SparkSession, dir: String, queryVec: DataFrame,
                         k: Int, nprobe: Int = 4,
                         excludeId: Option[Long] = None): DataFrame =
    graft.sources.VectorLayout.search(spark, dir, queryVec, k, nprobe, excludeId)
}
