package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Embedder
import graft.functions.VecExprs.cosineTo
import graft.operators.{CodeChunker, CodeElement}

/** End-to-end index build pipeline — the reference's `index_codebase` flow
  * (SURVEY.md §3.1; /root/reference/coding_agent/tools/indexing_agent.py:
  * 104-124 scan, 332-361 element store, 314-330/363-373 summaries,
  * indexing_manager.py:79-83 report):
  *
  *   scan (S1/S2) → chunk (C1-C6 flatMap) → doc projection (C8) →
  *   embed (E2) → upsert parquet index (S6) ⊕ file summaries (S7) ⊕ report (S8)
  *
  * Spark shape: the scan is a distributed `binaryFile` read with an
  * extension glob (leaf-name match at listing time) and an ignore-dir
  * PATH FILTER — a post-scan row filter, not listing-time pruning:
  * binaryFile pushes down only length/modtime predicates, so an ignored
  * tree (node_modules full of matching .js) is still listed and read,
  * then discarded. Correctness is unaffected; a deployment that pays
  * real I/O for ignored trees enumerates the top-level directories minus
  * IgnoreDirs and loads each separately. Chunk+embed are map-side;
  * the only shuffles are the per-file summary agg and the upsert dedup
  * window. Per-file failures become error rows instead of aborting the build
  * (the reference collected errors into a list it never filled —
  * SURVEY.md §2.9#2).
  */
object IndexBuild {

  val IgnoreDirs = Seq(".git", "__pycache__", "node_modules", ".venv", "venv", ".adk_index")

  /** S1/S2: recursive codebase scan for the reference's extension set. */
  def scanFiles(spark: SparkSession, rootDir: String): Dataset[(String, String)] = {
    import spark.implicits._
    val pruneRx = IgnoreDirs.map(d => s"/${java.util.regex.Pattern.quote(d)}/").mkString("|")
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.{py,js,ts,tsx,jsx,md}")
      .load(rootDir)
      .filter(!col("path").rlike(pruneRx))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val rel = p.stripPrefix("file:").stripPrefix(rootDir).stripPrefix("/")
        (rel, new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** C8: searchable-document projection (indexing_agent.py:342-346). */
  def documentOf(e: CodeElement): String = {
    val base = s"${e.name} ${e.element_type}\n${e.content}"
    if (e.docstring.nonEmpty) s"$base\n${e.docstring}" else base
  }

  /** Chunk + doc projection + content-addressed id ("path:start:hash",
    * indexing_agent.py:350) — everything EXCEPT the embedding, which is the
    * expensive step and is applied only to rows that need it. */
  def chunkedElements(files: Dataset[(String, String)]): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    CodeChunker.chunk(files)
      .map(e => (e.name, e.element_type, e.file_path, e.start_line,
        e.end_line, e.content, e.docstring, e.hash, documentOf(e)))
      .toDF("name", "element_type", "file_path", "start_line", "end_line",
        "content", "docstring", "hash", "document")
      .withColumn("id", concat_ws(":", col("file_path"), col("start_line"), col("hash")))
      // derived file_type on ELEMENTS too (not just summaries) so both the
      // element_type and file_type metadata filters work — the reference
      // stores only file_path here, making its own file_type filter a no-op
      // on code_elements (quirk SURVEY.md §2.9#1, fully fixed)
      .withColumn("file_type", regexp_extract(col("file_path"), "(\\.[^.]+)$", 1))
  }

  /** Embed the given element rows (adds `embedding` AND its precomputed L2
    * `nrm`). Norms are a pure function of the stored vector, so they are
    * paid ONCE at index-build time and read back by every search — at
    * cluster scale that removes a full O(N·D) pass from each query against
    * a static index ([[searchElementsTable]] uses the stored column when
    * present). */
  def embedElements(withDoc: DataFrame): DataFrame = {
    import graft.functions.VecExprs.dotc
    Embedder.embed(withDoc.select(col("id").as("doc_id"), col("document").as("text")))
      .withColumnRenamed("doc_id", "id")
      .withColumn("nrm", sqrt(dotc(col("embedding"), col("embedding"))))
      .join(withDoc, "id")
  }

  /** Chunk + embed everything (fresh build path). */
  def buildElements(files: Dataset[(String, String)]): DataFrame =
    embedElements(chunkedElements(files))

  /** S6/Q9: upsert into a parquet index — read-union-LWW-overwrite with a
    * temp-path swap (parquet cannot be read and overwritten in one job).
    * Re-indexed files REPLACE their previous elements (delete-insert per
    * file), fixing the reference's stale-element leak (SURVEY.md §2.9#4). */
  /** `currentFiles`: when the caller has scanned the FULL tree (a whole
    * [[run]]), the complete (file_path) set — surviving old rows are then
    * additionally restricted to it, so deletions propagate. Incremental
    * callers (streaming micro-batches) pass None: a partial view must
    * never prune files it simply didn't see.
    *
    * `refreshFiles`: the set of (file_path) whose old elements must be
    * dropped, when it is WIDER than `fresh`'s own paths — e.g.
    * [[graft.Graft.ingestBatch]] passes the whole batch's paths while
    * `fresh` holds only the gate survivors, so a re-submitted file whose
    * new elements were all gated still sheds its stale old elements
    * instead of serving a superseded version forever. None (the default)
    * = derive from `fresh`, the plain re-index contract. */
  def upsertIndex(spark: SparkSession, indexDir: String, fresh: DataFrame,
                  currentFiles: Option[DataFrame] = None,
                  refreshFiles: Option[DataFrame] = None): Unit = {
    val target = s"$indexDir/code_elements"
    val merged = tableOrEmpty(spark, target) match {
      case None => fresh
      case Some(old) =>
        val refreshedFiles = refreshFiles.getOrElse(fresh).select("file_path").distinct()
        val kept0 = ensureNrm(old).join(refreshedFiles, Seq("file_path"), "left_anti")
        val kept = currentFiles.map(cf =>
          kept0.join(cf.select("file_path").distinct(), Seq("file_path"), "left_semi"))
          .getOrElse(kept0)
        kept.unionByName(fresh)
    }
    val tmp = s"$indexDir/code_elements_tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    SignatureLayout.swapIn(spark, target, tmp)
  }

  /** Schema reconcile for legacy index tables built before norms were
    * stored: the search paths derive `nrm` on demand for such relations,
    * and so must the MERGE paths, or re-running a build over a pre-nrm
    * index dir aborts with an unresolved column instead of upgrading it
    * (round-4 review). */
  private def ensureNrm(df: DataFrame): DataFrame =
    // derive only when the table carries embeddings at all: upsertIndex
    // also merges embedding-free element tables (q_reindex_delta's
    // chunk-level equivalence), which must pass through untouched
    if (df.columns.contains("nrm") || !df.columns.contains("embedding")) df
    else df.withColumn("nrm",
      sqrt(graft.functions.VecExprs.dotc(col("embedding"), col("embedding"))))

  /** The one "open an index table or None" rule: the live table at `path`
    * after swap recovery, or None when there is no index (missing
    * directory, or no data file in it). Every reader of a table that may
    * be absent opens it here — the Graft search tools (which degrade to an
    * empty, correctly-typed result like the reference's "No code index
    * found…", vector_search_tool.py:34-35), [[graft.Graft.ingestBatch]],
    * [[upsertIndex]] and [[run]].
    *
    * Job-free open: `spark.read.parquet` runs a schema-inference job on
    * every call, which on the search path costs more than the search's own
    * scan. Without schema merging, Spark's inference reads exactly one
    * data file's footer anyway; this reads that footer on the driver
    * ([[footerSchema]]) and hands the schema to the reader. A directory
    * with no data file directly under it (emptied, only `_SUCCESS`) is no
    * index: every index writer leaves a flat table.
    *
    * Filesystem-agnostic (round-4 review): existence is probed through the
    * path's Hadoop FileSystem — a java.nio check on the raw string returned
    * false for every hdfs://'/s3a:// index IndexBuild happily writes,
    * silently reporting 0 hits. Swap recovery runs first: a crash parked
    * between [[SignatureLayout.swapIn]]'s renames must read as "index
    * present (recovered)", not "never indexed" — for a merge that would
    * silently drop every previously indexed file, for [[run]] re-embed the
    * whole tree. Any
    * other read failure propagates (a broad catch here turned a transient
    * failure into "no index", truncating the table to one call's fresh
    * subset; round-4 review). */
  private[graft] def tableOrEmpty(spark: SparkSession, path: String): Option[DataFrame] = {
    SignatureLayout.recoverPath(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else footerSchema(spark, fs, p).map(s => spark.read.schema(s).parquet(path))
  }

  /** The schema `spark.read.parquet` infers for a flat table directory,
    * read from the footer of its first data file (hidden `_`/`.` names
    * skipped, as Spark's file index does) — the one file non-merging
    * inference touches. Spark-written footers carry the Spark schema,
    * which `readSchemaFromFooter` prefers over converting the parquet
    * schema. None when the directory holds no data file directly. */
  private[graft] def footerSchema(spark: SparkSession, fs: FileSystem, dir: Path): Option[StructType] =
    fs.listStatus(dir).iterator
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath).minByOption(_.getName)
      .map { file =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, fs.getConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }

  /** Small-file compaction for an index table: every incremental upsert /
    * streaming micro-batch appends its own parquet files, and at cluster
    * scale the accumulated small files dominate scan cost (footer reads +
    * task-per-file scheduling — the classic small-files problem). Rewrites
    * the table into `max(1, ceil(bytes / targetFileBytes))` files via the
    * same temp-path swap as [[upsertIndex]]; content is untouched
    * (row-count-invariant, spec-asserted). A deployment runs this as the
    * maintenance job between ingest windows. */
  def compact(spark: SparkSession, indexDir: String, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val target = s"$indexDir/$table"
    SignatureLayout.recoverPath(spark, target)
    val t = new Path(target)
    val bytes = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(t).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = s"$indexDir/${table}_compact_tmp"
    spark.read.parquet(target).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    SignatureLayout.swapIn(spark, target, tmp)
  }

  /** Q9 end-to-end, oracle-gated: incremental re-index equivalence. Builds
    * a real parquet index from the documents corpus (one "file" per doc,
    * text-chunk elements — the chunker with an exact SQL mirror), then
    * MUTATES a deterministic subset (doc_id % 7 == 0 gets appended text —
    * the reference's content-hash change-detection trigger,
    * indexing_agent.py:28-31,350), re-chunks ONLY the mutated files, and
    * merges them through the production delete-insert [[upsertIndex]].
    * Emits per-file element accounting of the STORED index; the DuckDB
    * oracle computes the same accounting on the post-mutation corpus
    * directly, so a pass proves merged-index ≡ full-rebuild — stale
    * elements leaked (reference quirk SURVEY.md §2.9#4) or fresh rows
    * dropped would break counts or the hash extrema.
    *
    * Scale shape: the upsert is an anti-join + union keyed by file_path
    * (shuffle bounded by the index, not the corpus); the mutated-subset
    * re-chunk is the incremental path — re-index cost scales with the
    * diff. The scratch index lives in a temp dir, is read back with the
    * result materialized (localCheckpoint), then deleted.
    */
  def reindexDelta(spark: SparkSession, documents: DataFrame): DataFrame = {
    import graft.operators.Chunkers
    def elementsOf(d: DataFrame): DataFrame =
      Chunkers.textChunks(d)
        .withColumn("file_path",
          concat(lit("doc_"), col("doc_id").cast("string"), lit(".txt")))
        .withColumn("id", concat_ws(":", col("file_path"), col("chunk_idx"), col("hash")))
    val indexDir = java.nio.file.Files.createTempDirectory("graft_reindex").toString
    try {
      upsertIndex(spark, indexDir, elementsOf(documents))
      val mutated = documents.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" reindexed extra tokens")))
      upsertIndex(spark, indexDir, elementsOf(mutated))
      spark.read.parquet(s"$indexDir/code_elements")
        .groupBy("file_path")
        .agg(count(lit(1)).as("n_elements"),
          sum("n_tokens").as("n_tokens"),
          min("hash").as("min_hash"),
          max("hash").as("max_hash"))
        .orderBy("file_path")
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(indexDir))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** DuckDB mirror of [[reindexDelta]]: the same accounting computed on the
    * post-mutation corpus directly (equivalence by construction). */
  def duckReindexDelta(table: String): String =
    s"""WITH v2 AS (SELECT doc_id,
       |                   CASE WHEN doc_id % 7 = 0
       |                        THEN text || ' reindexed extra tokens'
       |                        ELSE text END AS text
       |            FROM $table),
       |ch AS (SELECT * FROM (${graft.operators.Chunkers.duckTextChunks("v2")}) t)
       |SELECT 'doc_' || doc_id || '.txt' AS file_path,
       |       count(*)::BIGINT AS n_elements,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       min(hash) AS min_hash, max(hash) AS max_hash
       |FROM ch GROUP BY 1 ORDER BY file_path""".stripMargin

  /** C9/S7: per-file summary table, with the summary string embedded so the
    * table is kNN-searchable (the reference embeds exactly this template
    * string — indexing_agent.py:365-366).
    *
    * Cache lifecycle: the per-file base aggregate is `.cache()`d and stays
    * alive with the returned lazy plan — same contract as [[
    * graft.operators.Dedup]]'s header: the harness clears session caches per
    * query; a library caller clears them once the result is materialized
    * ([[run]] does so itself — it is eager and owns its caches). */
  def buildSummaries(files: Dataset[(String, String)], elements: DataFrame): DataFrame =
    buildSummariesWith(files, elements)._1

  /** [[buildSummaries]] plus a handle on its cached per-file base
    * aggregate, so an EAGER caller ([[run]]) can unpersist it once the
    * summaries are written — without the handle, each build in a library
    * caller's loop would strand a new file-cardinality cache entry (the
    * plans differ per build, so plan-equality unpersist can't find them). */
  private[sources] def buildSummariesWith(
      files: Dataset[(String, String)], elements: DataFrame): (DataFrame, DataFrame) = {
    val spark = files.sparkSession
    import spark.implicits._
    val fileLines = files.map { case (p, c) => (p, c.split("\n", -1).length.toLong) }
      .toDF("file_path", "line_count")
    val byType = elements.groupBy("file_path", "element_type").agg(count(lit(1)).as("n"))
    // cached: the summary-embedding branch and the final join both read it
    // (CLAUDE.md cache-shared-subtrees rule; consumers are a projection
    // feed and the probe side of a file-keyed join — no build-side hazard)
    val base = byType.groupBy("file_path")
      .agg(
        sum("n").cast("long").as("element_count"),
        concat_ws(", ",
          transform(array_sort(collect_list(struct(col("element_type"), col("n")))),
            x => concat(x.getField("element_type"), lit(": "), x.getField("n")))).as("elements_by_type_str"))
      .join(fileLines, "file_path")
      .withColumn("file_type", regexp_extract(col("file_path"), "(\\.[^.]+)$", 1))
      .withColumn("summary",
        concat(lit("File "), col("file_path"), lit(" contains "),
          col("element_count"), lit(" code elements")))
      .cache()
    val emb = Embedder.embed(
      base.select(col("file_path").as("doc_id"), col("summary").as("text")))
      .withColumnRenamed("doc_id", "file_path")
      .withColumn("nrm", sqrt(graft.functions.VecExprs.dotc(col("embedding"), col("embedding"))))
    (base.join(emb, "file_path"), base)
  }

  /** Full build: returns the report row (S8 shape: files/elements/errors
    * plus `elements_embedded` — how many actually paid the embedding cost).
    *
    * Incremental skip (SURVEY.md §4): ids are content-addressed, so a
    * left-anti join of the freshly chunked ids against the existing index
    * isolates the NEW/changed elements — only those are embedded; unchanged
    * elements of re-scanned files keep their stored embeddings via a
    * semi-join. Embedding is the expensive operator (model inference on a
    * real deployment), so re-index cost scales with the diff, not the tree.
    */
  def run(spark: SparkSession, rootDir: String, indexDir: String): DataFrame = {
    import spark.implicits._
    // cached: chunking, summary line counts, and the file count all
    // consume it — uncached, every branch re-reads the whole tree's bytes
    // (measured as 3× corpus I/O on a fresh build; round-4 review)
    val files = scanFiles(spark, rootDir).cache()
    val chunked = chunkedElements(files).cache()
    try {
    val (elements, nEmbedded) = tableOrEmpty(spark, s"$indexDir/code_elements") match {
      case None =>
        val all = embedElements(chunked)
        (all, chunked.count())
      case Some(old0) =>
        val old = ensureNrm(old0)
        val toEmbed = chunked.join(old.select("id"), Seq("id"), "left_anti")
        val kept = old.join(chunked.select("id"), Seq("id"), "left_semi")
        val fresh = embedElements(toEmbed)
        (kept.select(fresh.columns.map(col): _*).unionByName(fresh), toEmbed.count())
    }
    // a full-tree run KNOWS the complete current file set: pass it so the
    // merge also drops elements of files deleted since the last run —
    // without this they linger forever and code_elements diverges from
    // file_summaries (round-4 review; spec-covered in IndexBuildSpec)
    upsertIndex(spark, indexDir, elements,
      currentFiles = Some(files.map(_._1).toDF("file_path")))
    val (summaries, summaryBase) =
      buildSummariesWith(files, spark.read.parquet(s"$indexDir/code_elements"))
    summaries.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/file_summaries")
    // the write above materialized the summaries; release their cached
    // per-file base now, not via the finally (which releases only the
    // relations run() itself created) — same per-build-leak rationale
    summaryBase.unpersist()
    val nFiles = files.count()
    val nElements = spark.read.parquet(s"$indexDir/code_elements").count()
    val report = Seq((nFiles, nElements, nEmbedded, 0L))
      .toDF("files_indexed", "elements_indexed", "elements_embedded", "errors")
    report.coalesce(1).write.mode(SaveMode.Overwrite).json(s"$indexDir/indexing_report")
    report
    } finally {
      // run() is EAGER (everything above is written/counted), so it can
      // release its own corpus-cardinality scratch — a library caller's
      // agent loop must not accumulate block-manager entries per build
      // (ADVICE round 4; curateKept/clustersOfPairs precedent)
      chunked.unpersist(); files.unpersist(); ()
    }
  }

  /** Q1 search core over any `code_elements`-shaped relation (columns id,
    * name, element_type, file_path, file_type, embedding): metadata
    * pre-filters (pushed to the scan when the relation is a parquet read)
    * then cosine top-k against the query vector — `TakeOrderedAndProject`,
    * the same partial top-k kernel as [[graft.operators.Knn.topK]]. The
    * query side is driver-local: [[Embedder.queryVector]] (the embedder's
    * own expressions) enters the plan as a literal and its norm
    * constant-folds, so a search over a stored index is ONE job — a scan
    * stage ending in the top-k. Shared by [[searchIndex]] (stored index)
    * and the oracle analog `IndexOps.searchElements` (freshly built corpus
    * elements), so the oracle gate exercises the flagship path itself, not
    * a twin. `rankedElements` keeps every index column plus `sim_raw`;
    * [[searchElementsTable]] projects the tabular shape,
    * [[searchElementsText]] renders the reference's string blocks. */
  private def rankedElements(index: DataFrame, queryVec: Array[Double], k: Int,
                             elementType: Option[String],
                             fileType: Option[String]): DataFrame = {
    val pre0 = elementType.map(t => index.filter(col("element_type") === t)).getOrElse(index)
    val pre1 = fileType.map(t => pre0.filter(col("file_type") === t)).getOrElse(pre0)
    // the norm stored at build time (embedElements), derived only for
    // relations that don't carry one
    ensureNrm(pre1)
      .withColumn("sim_raw", cosineTo(queryVec, col("embedding"), col("nrm")))
      .orderBy(desc("sim_raw"), asc("id"))
      .limit(k)
  }

  private def hitsTable(ranked: DataFrame): DataFrame =
    ranked.select(col("id"), col("name"), col("element_type"), col("file_path"),
      round(col("sim_raw"), 6).as("similarity"))

  def searchElementsTable(index: DataFrame, queryText: String, k: Int,
                          elementType: Option[String] = None,
                          fileType: Option[String] = None): DataFrame =
    hitsTable(rankedElements(index, Embedder.queryVector(index.sparkSession, queryText),
      k, elementType, fileType))

  /** The reference's ACTUAL tool output: ranked hits rendered as
    * "Result N (similarity: X.XXX):" blocks (vector_search_tool.py:60-78)
    * through the shared Q8 formatter. The rank window runs over the k
    * surviving rows only, never the index. */
  def searchElementsText(index: DataFrame, queryText: String, k: Int,
                         elementType: Option[String] = None,
                         fileType: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("sim_raw"), asc("id"))
    graft.operators.IndexOps.formatHits(
      rankedElements(index, Embedder.queryVector(index.sparkSession, queryText),
          k, elementType, fileType)
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("sim", round(col("sim_raw"), 6)))
  }

  /** Q1 over a built index: query text → embed → filtered top-k (the
    * reference's `semantic_search` against OUR index tables). Both metadata
    * filters work on elements — element_type AND file_type (the reference's
    * own file_type filter was a no-op on code_elements, quirk SURVEY §2.9#1).
    */
  def searchIndex(spark: SparkSession, indexDir: String, queryText: String, k: Int,
                  elementType: Option[String] = None,
                  fileType: Option[String] = None): DataFrame =
    searchElementsTable(spark.read.parquet(s"$indexDir/code_elements"),
      queryText, k, elementType, fileType)

  /** Train + persist an IVF layout over the code-elements index —
    * `$indexDir/vector_layout/{centroids, cells}` — wiring the
    * [[VectorLayout]] cell layout into the flagship search surface.
    * Elements have STRING ids, so seeding uses the k
    * lexicographically-first ids (TakeOrderedAndProject — the sanctioned
    * global top-k shape, never an unpartitioned rank window) numbered
    * through a [[graft.functions.BoundedWindow]] over the k-row seed
    * relation, then the shared [[graft.operators.KMeans.lloyd]] loop; the
    * layout is written and swapped in by [[VectorLayout.writeCells]].
    * Cells carry the FULL element columns + nrm, partitioned by cluster,
    * so a probe reads only the layout (static PartitionFilters), never
    * joins back to code_elements. */
  def writeSearchLayout(spark: SparkSession, indexDir: String,
                        numCentroids: Int = 16, iters: Int = 3): Unit = {
    val els = ensureNrm(spark.read.parquet(s"$indexDir/code_elements"))
    val e = els.select(col("id"), col("embedding").cast("array<double>").as("ed"), col("nrm"))
    val seeds = e.orderBy(asc("id")).limit(numCentroids)
    // tag must be a REAL column (a lit folds and EliminateWindowPartitions
    // re-empties the spec — the warning comes back; BoundedWindow scaladoc)
    val w = graft.functions.BoundedWindow.boundedGlobal(col("id"), asc("id"))
    val cent0 = seeds
      .withColumn("cid", (row_number().over(w) - 1).cast("long"))
      .select(col("cid"), col("ed").as("ce"), col("nrm").as("cn"))
    VectorLayout.writeCells(spark, layoutDir(indexDir),
      graft.operators.KMeans.lloyd(e.select(col("ed"), col("nrm")), cent0, iters),
      els, "embedding")
  }

  private def layoutDir(indexDir: String): String = s"$indexDir/vector_layout"

  /** Incremental maintenance of the search layout — [[VectorLayout.upsert]]
    * for the string-keyed code-elements cells, through the same
    * [[VectorLayout.upsertCells]]: the fresh elements are assigned against
    * the STORED centroids, and every stored cell of a touched file is
    * displaced (FILE-granular, the [[upsertIndex]] delete-insert
    * contract: an element deleted from a re-indexed file cannot linger).
    * No-op when no layout exists (callers need not probe first).
    *
    * `touchedFiles`: the file_path set the re-index batch TOUCHED, when it
    * is wider than `fresh`'s own paths — a re-indexed file that now yields
    * ZERO elements is absent from `fresh`, and deriving the displacement
    * set from element rows would leave its stale cells lingering (round-7
    * ADVICE). None = derive from `fresh`, the plain contract. */
  def upsertSearchLayout(spark: SparkSession, indexDir: String,
                         fresh: DataFrame,
                         touchedFiles: Option[DataFrame] = None): Unit =
    VectorLayout.upsertCells(spark, layoutDir(indexDir), ensureNrm(fresh),
      touchedFiles.getOrElse(fresh).select("file_path"), "embedding")

  /** [[searchIndex]] through the persisted trained layout: the
    * [[VectorLayout.probe]]d cells of the `nprobe` centroids nearest the
    * query embedding, then the SAME filter + exact-top-k kernel over them.
    * Approximate by the standard IVF contract (recall loss bounded to
    * unprobed clusters; exhaustive nprobe ≡ [[searchIndex]], spec-pinned).
    * Metadata filters apply AFTER pruning — cells carry every element
    * column, so no join back. */
  def searchIndexIvf(spark: SparkSession, indexDir: String, queryText: String,
                     k: Int, nprobe: Int = 4,
                     elementType: Option[String] = None,
                     fileType: Option[String] = None): DataFrame = {
    // embedded ONCE: the same vector probes the centroids and ranks the cells
    val queryVec = Embedder.queryVector(spark, queryText)
    val dir = layoutDir(indexDir)
    val cells = VectorLayout.probe(VectorLayout.cells(spark, dir), dir, queryVec, nprobe)
      .drop("cluster") // the partition column — not part of the contract
    hitsTable(rankedElements(cells, queryVec, k, elementType, fileType))
  }

  /** Write both index tables BUCKETED by file_path (same bucket count), so
    * every per-file join in the query surface — elements ⋈ summaries,
    * def/ref, structure aggregation — is co-located: Spark's bucketed-scan
    * join needs NO Exchange on either side. This is the cluster-scale
    * layout decision (bucket pruning + shuffle-free joins grow with table
    * size; the one-time bucketed write does not change query semantics).
    * `sortBy` inside buckets also removes the join's Sort at read time.
    */
  def writeBucketed(spark: SparkSession, indexDir: String, tablePrefix: String,
                    buckets: Int = 8): Unit = {
    def one(name: String): Unit =
      spark.read.parquet(s"$indexDir/$name")
        .write.mode(SaveMode.Overwrite).format("parquet")
        .option("path", s"$indexDir/bucketed_$name")
        .bucketBy(buckets, "file_path").sortBy("file_path")
        .saveAsTable(s"${tablePrefix}_$name")
    one("code_elements")
    one("file_summaries")
  }

  /** Q2 over a built index: kNN against an opened `file_summaries` table
    * (the reference's `find_files_by_content`, vector_search_tool.py:81-147)
    * — same driver-local query vector and top-k kernel as [[searchIndex]],
    * file granularity. */
  def searchSummaries(summaries: DataFrame, queryText: String, k: Int): DataFrame =
    // summaries store their norm at build time (buildSummaries); derived
    // only for pre-nrm tables
    ensureNrm(summaries)
      .withColumn("sim_raw", cosineTo(Embedder.queryVector(summaries.sparkSession, queryText),
        col("embedding"), col("nrm")))
      .orderBy(desc("sim_raw"), asc("file_path"))
      .limit(k)
      .select(col("file_path"), col("file_type"), col("element_count"),
        round(col("sim_raw"), 6).as("similarity"))
}
