package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's collection/query surface re-expressed relationally
  * (SURVEY.md §2.4): metadata filters (Q3/Q4), point lookup (Q5), per-file
  * structure aggregation (Q6), upsert/last-writer-wins merge (Q9), counts
  * (Q10/S9), and the file-summary builder (C9,
  * /root/reference/coding_agent/tools/indexing_agent.py:314-330).
  *
  * Elements come from the chunkers; `documents` plays the file tree. Every
  * operator is a single filter/agg/window shape whose shuffle key is the
  * natural partition key (doc_id), so the plans scale by partitioning alone.
  */
object IndexOps {

  /** C9: per-document summary with count-by-type map flattened to the
    * reference's "type: n, type: n" string (sorted for determinism; the
    * reference stringifies because Chroma metadata can't hold maps —
    * indexing_agent.py:316-321; we keep the string projection for parity). */
  def fileSummaries(documents: DataFrame): DataFrame = {
    val elements = Chunkers.textChunks(documents)
      .select(col("doc_id"), col("element_type"))
      .unionByName(Chunkers.markdownSections(documents)
        .select(col("doc_id"), lit("markdown_section").as("element_type")))
    val byType = elements.groupBy("doc_id", "element_type").agg(count(lit(1)).as("n"))
    byType
      .groupBy("doc_id")
      .agg(
        sum("n").cast("long").as("element_count"),
        concat_ws(", ",
          transform(array_sort(collect_list(struct(col("element_type"), col("n")))),
            x => concat(x.getField("element_type"), lit(": "), x.getField("n")))).as("elements_by_type_str"))
      .join(documents.select(col("doc_id"), col("source").as("file_type"),
        col("n_chars").cast("long").as("line_count")), "doc_id")
      .withColumn("summary",
        concat(lit("File doc_"), col("doc_id"), lit(" contains "),
          col("element_count"), lit(" code elements")))
      .select("doc_id", "file_type", "line_count", "element_count",
        "elements_by_type_str", "summary")
      .orderBy("doc_id")
  }

  def duckFileSummaries(table: String): String =
    s"""WITH ch AS (${Chunkers.duckTextChunks(table).replace("ORDER BY doc_id, chunk_idx", "")}),
       |ms AS (${Chunkers.duckMarkdownSections(table).replace("ORDER BY doc_id, section_idx", "")}),
       |el AS (SELECT doc_id, element_type FROM ch
       |       UNION ALL SELECT doc_id, 'markdown_section' FROM ms),
       |bt AS (SELECT doc_id, element_type, count(*) AS n FROM el GROUP BY 1, 2),
       |ag AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS element_count,
       |              string_agg(element_type || ': ' || n, ', ' ORDER BY element_type) AS elements_by_type_str
       |       FROM bt GROUP BY doc_id)
       |SELECT d.doc_id, d.source AS file_type, d.n_chars::BIGINT AS line_count,
       |       ag.element_count, ag.elements_by_type_str,
       |       'File doc_' || d.doc_id || ' contains ' || ag.element_count || ' code elements' AS summary
       |FROM ag JOIN $table d USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Q2: kNN over file summaries — the reference's `find_files_by_content`
    * (vector_search_tool.py:81-147): each file's searchable doc is its
    * summary text, the query string is embedded with the same (hashing)
    * embedder, ranking is cosine with doc_id tiebreak. The query side is a
    * driver-local literal ([[graft.functions.Embedder.queryVector]]); the
    * index side is the map-side histogram + one (doc_id,bucket) agg — no
    * shuffle wider than the summaries. */
  def knnSummaries(documents: DataFrame, queryText: String, k: Int): DataFrame = {
    import graft.functions.{Embedder, VecExprs}
    val q = Embedder.queryVector(documents.sparkSession, queryText)
    val sums = fileSummaries(documents)
      .select(col("doc_id"),
        concat_ws(" ", col("summary"), col("elements_by_type_str")).as("text"))
    Embedder.embed(sums)
      .withColumn("nrm", sqrt(VecExprs.dotc(col("embedding"), col("embedding"))))
      .withColumn("sim_raw", VecExprs.cosineTo(q, col("embedding"), col("nrm")))
      .orderBy(desc("sim_raw"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("sim_raw"), 6).as("sim"))
  }

  def duckKnnSummaries(table: String, queryText: String, k: Int): String = {
    import graft.functions.Embedder.duckBucket
    import graft.functions.TextFns.duckTokens
    val qlit = "'" + queryText.replace("'", "''") + "'"
    s"""WITH fs AS (${duckFileSummaries(table).replace("ORDER BY doc_id", "")}),
       |tx AS (SELECT doc_id, summary || ' ' || elements_by_type_str AS text FROM fs),
       |h AS (SELECT doc_id, ${duckBucket("tok")} AS bucket, count(*)::BIGINT AS cnt
       |      FROM (SELECT doc_id, unnest(${duckTokens("text")}) AS tok FROM tx)
       |      GROUP BY 1, 2),
       |qh AS (SELECT ${duckBucket("tok")} AS bucket, count(*)::BIGINT AS cnt
       |       FROM (SELECT unnest(${duckTokens(qlit)}) AS tok) GROUP BY 1),
       |qn AS (SELECT sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS qnorm FROM qh),
       |nrm AS (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS n FROM h GROUP BY doc_id),
       |dots AS (SELECT a.doc_id, CAST(sum(a.cnt * b.cnt) AS DOUBLE) AS dot
       |         FROM h a JOIN qh b USING (bucket) GROUP BY a.doc_id),
       |s AS (SELECT nrm.doc_id, coalesce(d.dot, 0.0) / (nrm.n * qn.qnorm) AS sim_raw
       |      FROM nrm LEFT JOIN dots d ON d.doc_id = nrm.doc_id CROSS JOIN qn)
       |SELECT doc_id, round(sim_raw, 6) AS sim
       |FROM s ORDER BY sim_raw DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Corpus analog of the flagship index table (round-2 verdict #4): the
    * documents table played as a code tree — file_path `doc_<id>.{py,js,md}`
    * — with its text chunks as `code_elements` rows carrying the real
    * pipeline's derived columns: content-addressed id (path:idx:hash, cf.
    * IndexBuild.chunkedElements), regexp file_type, the searchable-document
    * projection (C8, indexing_agent.py:342-346 "name type\\ncontent"), and
    * the hashed embedding. Every step is the IndexBuild shape over an
    * oracle-mirrorable chunker, so the flagship search core
    * ([[graft.sources.IndexBuild.searchElementsTable]]) becomes verifiable
    * end to end, filters included. */
  def elementsFromDocs(documents: DataFrame): DataFrame = {
    import graft.functions.Embedder
    val ext = when(col("doc_id") % 3 === 0, ".py")
      .when(col("doc_id") % 3 === 1, ".js")
      .otherwise(".md")
    val els = Chunkers.textChunks(documents)
      .withColumn("file_path", concat(lit("doc_"), col("doc_id"), ext))
      .withColumn("file_type", regexp_extract(col("file_path"), "(\\.[^.]+)$", 1))
      .withColumn("id", concat_ws(":", col("file_path"), col("chunk_idx"), col("hash")))
      .withColumn("document",
        concat(col("name"), lit(" "), col("element_type"), lit("\n"), col("content")))
    val emb = Embedder.embed(
      els.select(col("id").as("doc_id"), col("document").as("text")))
      .withColumnRenamed("doc_id", "id")
    els.join(emb, "id")
  }

  /** q_search_index: the flagship search — both metadata filters live —
    * over the corpus-analog element table (quirk §2.9#1 proven fixed:
    * file_type actually prunes code_elements). */
  def searchElements(documents: DataFrame, queryText: String, k: Int,
                     elementType: String, fileType: String): DataFrame =
    graft.sources.IndexBuild.searchElementsTable(
      elementsFromDocs(documents), queryText, k, Some(elementType), Some(fileType))

  /** SQL mirror of [[searchElements]]. Filters BEFORE the histogram — per-id
    * embeddings are independent, so filter-then-embed ≡ embed-then-filter —
    * and LEFT-JOINs the dot products so zero-bucket-overlap elements rank at
    * similarity 0 instead of vanishing (the duckKnnSummaries lesson). */
  def duckSearchElements(table: String, queryText: String, k: Int,
                         elementType: String, fileType: String): String = {
    import graft.functions.Embedder.duckBucket
    import graft.functions.TextFns.duckTokens
    val qlit = "'" + queryText.replace("'", "''") + "'"
    // every string parameter gets the same quote-escaping as queryText —
    // a filter value containing ' would otherwise break or subvert the
    // oracle SQL (round-4 review)
    val etLit = elementType.replace("'", "''")
    val ftLit = fileType.replace("'", "''")
    s"""WITH ch AS (${Chunkers.duckTextChunks(table).replace("ORDER BY doc_id, chunk_idx", "")}),
       |e2 AS (SELECT file_path || ':' || chunk_idx || ':' || hash AS id, name, element_type,
       |              file_path, file_type,
       |              name || ' ' || element_type || chr(10) || content AS document
       |       FROM (SELECT *,
       |               'doc_' || doc_id ||
       |               CASE WHEN doc_id % 3 = 0 THEN '.py'
       |                    WHEN doc_id % 3 = 1 THEN '.js' ELSE '.md' END AS file_path,
       |               CASE WHEN doc_id % 3 = 0 THEN '.py'
       |                    WHEN doc_id % 3 = 1 THEN '.js' ELSE '.md' END AS file_type
       |             FROM ch)),
       |f AS (SELECT * FROM e2 WHERE element_type = '$etLit' AND file_type = '$ftLit'),
       |h AS (SELECT id, ${duckBucket("tok")} AS bucket, count(*)::BIGINT AS cnt
       |      FROM (SELECT id, unnest(${duckTokens("document")}) AS tok FROM f) GROUP BY 1, 2),
       |nrm AS (SELECT id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS n FROM h GROUP BY id),
       |qh AS (SELECT ${duckBucket("tok")} AS bucket, count(*)::BIGINT AS cnt
       |       FROM (SELECT unnest(${duckTokens(qlit)}) AS tok) GROUP BY 1),
       |qn AS (SELECT sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS qnorm FROM qh),
       |dots AS (SELECT a.id, CAST(sum(a.cnt * b.cnt) AS DOUBLE) AS dot
       |         FROM h a JOIN qh b USING (bucket) GROUP BY a.id),
       |s AS (SELECT nrm.id, coalesce(d.dot, 0.0) / (nrm.n * qn.qnorm) AS sim_raw
       |      FROM nrm LEFT JOIN dots d ON d.id = nrm.id CROSS JOIN qn)
       |SELECT f.id, f.name, f.element_type, f.file_path, round(s.sim_raw, 6) AS similarity
       |FROM s JOIN f ON f.id = s.id
       |ORDER BY s.sim_raw DESC, f.id LIMIT $k""".stripMargin
  }

  /** Q8 truncation rule (vector_search_tool.py:70-76): cut at `n` chars and
    * append "..." — only when over the limit. */
  private def trunc(c: org.apache.spark.sql.Column, n: Int) =
    when(length(c) > n, concat(substring(c, 1, n), lit("..."))).otherwise(c)

  /** Q8: the reference's result-formatting projection
    * (vector_search_tool.py:59-79): "Result N (similarity: X.XXX):" header
    * — the `:.3f` similarity rendered INTO the text — name/type/file/lines
    * metadata block, docstring truncated at 100 chars, content truncated at
    * 300, "-"*50 separator. The 3-decimal rendering goes through
    * `round(sim_raw, 3)` → `decimal(10,3)` → string: HALF_UP in both
    * engines with the scale preserved ("0.820", not "0.82"), computed from
    * the RAW similarity so no double-rounding through the displayed
    * 6-decimal column can flip the 3rd decimal. Requires a `sim_raw`
    * column alongside the display `sim`. */
  def formatHits(hits: DataFrame): DataFrame =
    hits.select(col("rank"), col("sim"),
      concat(
        lit("Result "), col("rank"),
        lit(" (similarity: "),
        round(col("sim_raw"), 3).cast("decimal(10,3)").cast("string"),
        lit("):\n"),
        lit("  Name: "), col("name"), lit("\n"),
        lit("  Type: "), col("element_type"), lit("\n"),
        lit("  File: "), col("file_path"), lit("\n"),
        lit("  Lines: "), col("start_line"), lit("-"), col("end_line"), lit("\n"),
        when(col("docstring").isNotNull && col("docstring") =!= "",
          concat(lit("  Docstring: "), trunc(col("docstring"), 100), lit("\n")))
          .otherwise(lit("")),
        lit("  Content:\n"), trunc(col("content"), 300), lit("\n"),
        lit("-" * 50)).as("result_text"))
      .orderBy("rank")

  /** Q1+Q8 end to end: top-k cosine hits against doc 0's embedding, joined
    * back to the corpus and pushed through [[formatHits]]. */
  def searchFormatted(documents: DataFrame, k: Int): DataFrame = {
    import graft.functions.{Embedder, VecExprs}
    val emb = Embedder.embed(documents)
    val q = emb.filter(col("doc_id") === 0)
      .select(col("embedding").as("qe"))
      .withColumn("qn", sqrt(VecExprs.dotc(col("qe"), col("qe"))))
    val top = emb.filter(col("doc_id") =!= 0)
      .withColumn("nrm", sqrt(VecExprs.dotc(col("embedding"), col("embedding"))))
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", VecExprs.dotc(col("embedding"), col("qe")) / (col("nrm") * col("qn")))
      .orderBy(desc("sim_raw"), asc("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(graft.functions.BoundedWindow
          .boundedGlobal(col("doc_id"), desc("sim_raw"), asc("doc_id"))).cast("long"))
    val hits = top.join(documents, "doc_id")
      .select(col("rank"), col("sim_raw"), round(col("sim_raw"), 6).as("sim"),
        concat(lit("doc_"), col("doc_id")).as("name"),
        lit("document").as("element_type"),
        concat(lit("doc_"), col("doc_id"), lit(".txt")).as("file_path"),
        lit(1L).as("start_line"), col("n_chars").cast("long").as("end_line"),
        col("text").as("docstring"), col("text").as("content"))
    formatHits(hits)
  }

  def duckSearchFormatted(table: String, k: Int): String = {
    import graft.functions.Embedder.duckBucketHistogram
    s"""WITH h AS (${duckBucketHistogram(table)}),
       |nrm AS (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS n FROM h GROUP BY doc_id),
       |q AS (SELECT bucket, cnt FROM h WHERE doc_id = 0),
       |qn AS (SELECT n AS qnorm FROM nrm WHERE doc_id = 0),
       |dots AS (SELECT a.doc_id, CAST(sum(a.cnt * b.cnt) AS DOUBLE) AS dot
       |         FROM h a JOIN q b ON a.bucket = b.bucket
       |         WHERE a.doc_id <> 0 GROUP BY a.doc_id),
       |s AS (SELECT nrm.doc_id, coalesce(d.dot, 0.0) / (nrm.n * qn.qnorm) AS sim_raw
       |      FROM nrm LEFT JOIN dots d ON d.doc_id = nrm.doc_id CROSS JOIN qn
       |      WHERE nrm.doc_id <> 0),
       |top AS (SELECT doc_id, sim_raw,
       |               row_number() OVER (ORDER BY sim_raw DESC, doc_id) AS rank
       |        FROM s ORDER BY sim_raw DESC, doc_id LIMIT $k)
       |SELECT t.rank, round(t.sim_raw, 6) AS sim,
       |  'Result ' || t.rank || ' (similarity: ' ||
       |  CAST(CAST(round(t.sim_raw, 3) AS DECIMAL(10,3)) AS VARCHAR) || '):' || chr(10) ||
       |  '  Name: doc_' || t.doc_id || chr(10) ||
       |  '  Type: document' || chr(10) ||
       |  '  File: doc_' || t.doc_id || '.txt' || chr(10) ||
       |  '  Lines: 1-' || d.n_chars || chr(10) ||
       |  CASE WHEN d.text IS NOT NULL AND d.text <> ''
       |       THEN '  Docstring: ' ||
       |            CASE WHEN length(d.text) > 100 THEN substr(d.text, 1, 100) || '...'
       |                 ELSE d.text END || chr(10)
       |       ELSE '' END ||
       |  '  Content:' || chr(10) ||
       |  CASE WHEN length(d.text) > 300 THEN substr(d.text, 1, 300) || '...'
       |       ELSE d.text END || chr(10) ||
       |  repeat('-', 50) AS result_text
       |FROM top t JOIN $table d USING (doc_id)
       |ORDER BY rank""".stripMargin
  }

  /** Q3: metadata filter + deterministic limit over chunk elements. */
  def elementsByPredicate(documents: DataFrame, contains: String, limit: Int): DataFrame =
    Chunkers.textChunks(documents)
      .filter(col("element_type") === "text_chunk" && col("content").contains(contains))
      .select("doc_id", "chunk_idx", "name", "content", "hash")
      .orderBy("doc_id", "chunk_idx")
      .limit(limit)

  def duckElementsByPredicate(table: String, contains: String, limit: Int): String =
    s"""WITH ch AS (${Chunkers.duckTextChunks(table).replace("ORDER BY doc_id, chunk_idx", "")})
       |SELECT doc_id, chunk_idx, name, content, hash
       |FROM ch WHERE element_type = 'text_chunk'
       |  AND contains(content, '${contains.replace("'", "''")}')
       |ORDER BY doc_id, chunk_idx LIMIT $limit""".stripMargin

  /** Q4+Q6: one document's structure, grouped by element type with a sorted
    * name list (vector_search_tool.py:245-264's bucket-by-type view). */
  def fileStructure(documents: DataFrame, docId: Long): DataFrame = {
    val els = Chunkers.textChunks(documents).select(col("doc_id"), col("element_type"), col("name"))
      .unionByName(Chunkers.markdownSections(documents)
        .select(col("doc_id"), lit("markdown_section").as("element_type"), col("heading").as("name")))
    els.filter(col("doc_id") === docId)
      .groupBy("element_type")
      .agg(count(lit(1)).as("n"),
        concat_ws(", ", array_sort(collect_list(col("name")))).as("names_str"))
      .orderBy("element_type")
  }

  def duckFileStructure(table: String, docId: Long): String =
    s"""WITH ch AS (${Chunkers.duckTextChunks(table).replace("ORDER BY doc_id, chunk_idx", "")}),
       |ms AS (${Chunkers.duckMarkdownSections(table).replace("ORDER BY doc_id, section_idx", "")}),
       |el AS (SELECT doc_id, element_type, name FROM ch
       |       UNION ALL SELECT doc_id, 'markdown_section', heading FROM ms)
       |SELECT element_type, count(*)::BIGINT AS n,
       |       string_agg(name, ', ' ORDER BY name) AS names_str
       |FROM el WHERE doc_id = $docId GROUP BY element_type ORDER BY element_type""".stripMargin

  /** Q5: point lookup by id set. */
  def pointLookup(documents: DataFrame, ids: Seq[Long]): DataFrame =
    documents.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("content_hash"))
      .orderBy("doc_id")

  def duckPointLookup(table: String, ids: Seq[Long]): String =
    s"""SELECT doc_id, lang, source, n_chars, md5(text) AS content_hash
       |FROM $table WHERE doc_id IN (${ids.mkString(", ")}) ORDER BY doc_id""".stripMargin

  /** Q9: upsert as last-writer-wins merge. Version 2 re-ingests every 10th
    * document with modified content; the window picks max version per key
    * (the reference's `collection.upsert`, indexing_agent.py:356-361, with
    * the stale-element leak fixed — SURVEY.md §2.9#4). */
  def upsertMerge(documents: DataFrame): DataFrame = {
    val v1 = documents.select(col("doc_id"), col("text"), lit(1L).as("version"))
    val v2 = documents.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), upper(col("text")).as("text"), lit(2L).as("version"))
    val w = Window.partitionBy("doc_id").orderBy(desc("version"))
    v1.unionByName(v2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("version"), md5(col("text")).as("content_hash"))
      .orderBy("doc_id")
  }

  def duckUpsertMerge(table: String): String =
    s"""WITH v AS (SELECT doc_id, text, 1 AS version FROM $table
       |           UNION ALL
       |           SELECT doc_id, upper(text), 2 FROM $table WHERE doc_id % 10 = 0),
       |r AS (SELECT doc_id, version::BIGINT AS version, md5(text) AS content_hash,
       |             row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
       |      FROM v)
       |SELECT doc_id, version, content_hash FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Q10/S9: collection stats — row counts and key cardinalities. */
  def collectionStats(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val d = documents.agg(
      lit("documents").as("collection"),
      count(lit(1)).as("n_rows"),
      countDistinct(col("lang")).as("n_keys"))
    val e = embeddings.agg(
      lit("embeddings").as("collection"),
      count(lit(1)).as("n_rows"),
      countDistinct(col("label")).as("n_keys"))
    d.unionByName(e).orderBy("collection")
  }

  def duckCollectionStats(docTable: String, embTable: String): String =
    s"""SELECT * FROM (
       |  SELECT 'documents' AS collection, count(*)::BIGINT AS n_rows,
       |         count(DISTINCT lang)::BIGINT AS n_keys FROM $docTable
       |  UNION ALL
       |  SELECT 'embeddings', count(*)::BIGINT, count(DISTINCT label)::BIGINT FROM $embTable
       |) ORDER BY collection""".stripMargin
}
