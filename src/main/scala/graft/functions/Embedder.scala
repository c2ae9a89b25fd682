package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{duckTokens, tokenizable, tokens}

/** Deterministic hashing embedder — the engine's substitute for the
  * reference's neural encoder (E1-E3,
  * /root/reference/coding_agent/tools/indexing_agent.py:50,353 —
  * `SentenceTransformer('all-MiniLM-L6-v2')`). Contract preserved:
  * `String -> fixed-dim vector`, identical at index time and query time, so
  * every downstream semantic (filter, top-k, upsert, grouping) is unchanged;
  * only ranking *quality* differs (SURVEY.md §7.1 declared deviation —
  * neural inference is out of scope for a zero-egress engine).
  *
  * Scheme: token -> bucket via the first 3 hex nibbles of md5 (0..4095)
  * mod `dim`; the embedding is the bucket-count histogram. Counts are exact
  * integers, so cosine over these vectors is bit-identical between Spark's
  * dense-array kernel and the oracle's sparse dot-product join — the
  * embedder itself is oracle-verifiable end to end.
  *
  * At scale the whole pipeline is map-side (tokenize+hash) plus one
  * (doc_id, bucket) aggregation; no shuffle wider than the output.
  *
  * The query side is driver-local ([[queryVector]]): the same tokenize +
  * bucket expressions over a one-row local relation, counted into a dense
  * array that search plans carry as a literal — no job of its own.
  */
object Embedder {

  /** Embedding dimensionality — aligned with the reference's pinned
    * all-MiniLM-L6-v2 contract (indexing_agent.py:50: 384 dims). The
    * hashing scheme is dimension-agnostic and every query + oracle is
    * parameterized by this constant (round-2 verdict #5). */
  val Dim = 384

  /** Hex-nibble value via position in the hex alphabet (no hex→int cast —
    * DuckDB has none; `locate`/`strpos` exist in both engines). */
  private def nib(m: Column, i: Int): Column =
    call_function("locate", substring(m, i, 1), lit("0123456789abcdef")) - 1

  private def duckNib(m: String, i: Int): String =
    s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1)"

  def bucket(token: Column): Column = {
    val m = md5(token)
    ((nib(m, 1) * 256 + nib(m, 2) * 16 + nib(m, 3)) % Dim).cast("int")
  }

  def duckBucket(token: String): String = {
    val m = s"md5($token)"
    s"CAST((${duckNib(m, 1)} * 256 + ${duckNib(m, 2)} * 16 + ${duckNib(m, 3)}) % $Dim AS INT)"
  }

  /** (doc_id, [carry...,] bucket, cnt) histogram rows — the sparse
    * embedding. `carry` passes metadata columns (e.g. lang) through the
    * aggregation so group-level consumers need no join back. */
  def bucketHistogram(documents: DataFrame, carry: Seq[String] = Nil): DataFrame =
    documents
      .select(col("doc_id") +: carry.map(col) :+ explode(tokens(col("text"))).as("tok"): _*)
      .select(col("doc_id") +: carry.map(col) :+ bucket(col("tok")).as("bucket"): _*)
      .groupBy("doc_id", carry :+ "bucket": _*)
      .agg(count(lit(1)).as("cnt"))

  def duckBucketHistogram(table: String, carry: Seq[String] = Nil): String = {
    val cs = carry.map(c => s"$c, ").mkString
    val groupCols = (1 to carry.size + 2).mkString(", ")
    s"""SELECT doc_id, $cs${duckBucket("tok")} AS bucket, count(*)::BIGINT AS cnt
       |FROM (SELECT doc_id, ${cs}unnest(${duckTokens("text")}) AS tok FROM $table)
       |GROUP BY $groupCols""".stripMargin
  }

  /** Dense-embedding CTE chain for DuckDB mirrors: `h` (sparse histogram)
    * → `emb(doc_id, e DOUBLE[])` → `nrm`. The dense list is the oracle
    * twin of [[embed]]'s output and feeds `list_dot_product`-based
    * verification (array-native — no per-candidate histogram joins, the
    * restructure that made the sf1 embed-dedup oracle feasible). */
  def duckDenseEmbCtes(table: String): String =
    s"""h AS MATERIALIZED (${duckBucketHistogram(table)}),
       |emb AS MATERIALIZED (
       |  SELECT doc_id, list(CAST(coalesce(cnt, 0) AS DOUBLE) ORDER BY i) AS e
       |  FROM (SELECT d.doc_id, r.i, h.cnt
       |        FROM (SELECT DISTINCT doc_id FROM h) d
       |        CROSS JOIN (SELECT unnest(range(0, $Dim)) AS i) r
       |        LEFT JOIN h ON h.doc_id = d.doc_id AND h.bucket = r.i)
       |  GROUP BY doc_id),
       |nrm AS MATERIALIZED (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS n FROM h GROUP BY doc_id)""".stripMargin

  /** Dense `array<double>` embeddings (unnormalized integer counts; exact).
    * Output: (doc_id, embedding). Cosine normalizes at distance time, so
    * the stored integers keep the oracle path exact.
    *
    * Densification is the codegen'd [[VecExprs.sparseToDense]] — the
    * earlier `transform(sequence(0, Dim-1), b => element_at(map, b))`
    * paid Dim interpreted lambda calls per document, which at Dim=384
    * dominated every embedder query. */
  def embed(documents: DataFrame): DataFrame =
    bucketHistogram(documents)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("bucket"), col("cnt"))).as("bc"))
      .select(col("doc_id"),
        graft.functions.VecExprs.sparseToDense(col("bc"), Dim).as("embedding"))

  /** The query-side twin of [[embed]]: `text`'s dense embedding, computed
    * on the driver. The SAME [[TextFns.tokens]] + [[bucket]] expressions run
    * over a one-row local relation — `ConvertToLocalRelation` folds that
    * projection at optimization time, so the collect launches no job — and
    * the buckets are counted here into the `Dim`-length array. Element for
    * element equal to the `embed` row of the same text (spec-pinned), so
    * search plans take it as a literal (`typedLit`) instead of a one-row
    * embed subplan (a shuffle job) joined in by broadcast (a second job).
    * An untokenizable text has no ranking and fails the `require`. */
  def queryVector(spark: SparkSession, text: String): Array[Double] = {
    require(tokenizable(text),
      s"query text tokenizes to nothing: '$text' — empty query vector has no ranking")
    import spark.implicits._
    val buckets = Seq(text).toDF("text")
      .select(transform(tokens(col("text")), bucket(_)))
      .head().getSeq[Int](0)
    val v = new Array[Double](Dim)
    buckets.foreach(b => v(b) += 1.0)
    v
  }
}
