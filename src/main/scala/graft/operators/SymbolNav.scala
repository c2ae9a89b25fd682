package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{duckTokens, tokens}

/** Relational def/ref navigation (SURVEY.md §2.6 L2-L3). The reference
  * proxies an external language server
  * (/root/reference/coding_agent/tools/lsp_tool.py:280-342); the declared
  * relational analog is: the first occurrence of a symbol in corpus order
  * is its definition site, every other occurrence a reference. Executed
  * distributed: token explode is map-side, and definition site, reference
  * count and spread are one aggregation keyed by token.
  */
object SymbolNav {

  /** L2+L3 for a watchlist of symbols: definition site (first occurrence in
    * (doc_id, pos) order) plus reference counts and spread, one row per
    * symbol that occurs, ordered by token. `doc_id` must be a key of
    * `documents`: `n_docs` counts the rows holding a symbol.
    *
    * One exchange, keyed by token: the definition site is
    * `min(struct(doc_id, pos))`, `n_refs` a count, and `n_docs` counts
    * the occurrences that are their row's first of that token
    * (`array_position` over the row's own tokens) — no window, no distinct
    * aggregate. The map side stays scaled out over the corpus and partial
    * aggregation leaves at most |symbols| rows per map task; the result has
    * at most |symbols| rows, so it is collected, ordered on the driver and
    * returned as a local relation instead of paying a range-sampling job
    * for a distributed sort. */
  def defsAndRefs(documents: DataFrame, symbols: Seq[String]): DataFrame = {
    val agg = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // _outer: a plain posexplode of an attribute lets the optimizer infer
      // size(toks) > 0 and push it below the projection, tokenizing every
      // document twice; an empty array's null token fails the isin anyway
      .select(col("doc_id"), col("toks"), posexplode_outer(col("toks")).as(Seq("pos", "token")))
      .filter(col("token").isin(symbols: _*))
      // flagged before the aggregate, so no row it sorts carries `toks`
      .select(col("token"), col("doc_id"), col("pos"),
        (array_position(col("toks"), col("token")) === col("pos") + 1).as("first"))
      .groupBy("token")
      .agg(
        min(struct(col("doc_id"), col("pos"))).as("def"),
        (count(lit(1)) - 1).cast("long").as("n_refs"),
        count(when(col("first"), 1)).as("n_docs"))
      .select(col("token"), col("def.doc_id").as("def_doc"),
        col("def.pos").cast("long").as("def_pos"), col("n_refs"), col("n_docs"))
    // tokens are [a-z0-9]+, so String order is Spark's binary string order
    val rows = agg.collect().sortBy(_.getString(0))
    documents.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  def duckDefsAndRefs(table: String, symbols: Seq[String]): String = {
    // quote-escaped, and an empty watchlist yields FALSE instead of the
    // unparseable `IN ()` — matching the Spark side's empty-isin result
    // (round-4 review)
    val lst =
      if (symbols.isEmpty) "SELECT NULL WHERE FALSE"
      else symbols.map(s => s"'${s.replace("'", "''")}'").mkString(", ")
    s"""WITH occ AS (SELECT doc_id,
       |                    unnest(${duckTokens("text")}) AS token,
       |                    unnest(generate_series(0, len(${duckTokens("text")}) - 1)) AS pos
       |             FROM $table),
       |f AS (SELECT * FROM occ WHERE token IN ($lst)),
       |r AS (SELECT token, doc_id, pos,
       |             row_number() OVER (PARTITION BY token ORDER BY doc_id, pos) AS rn
       |      FROM f)
       |SELECT token,
       |       min(CASE WHEN rn = 1 THEN doc_id END) AS def_doc,
       |       CAST(min(CASE WHEN rn = 1 THEN pos END) AS BIGINT) AS def_pos,
       |       (count(*) - 1)::BIGINT AS n_refs,
       |       count(DISTINCT doc_id)::BIGINT AS n_docs
       |FROM r GROUP BY token ORDER BY token""".stripMargin
  }
}
