package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-line diagnostics rule engine (SURVEY.md §2.5; reference
  * /root/reference/coding_agent/tools/lsp_tool.py:97-278): a dispatcher
  * picks a ruleset by file kind (D1), per-line predicates emit
  * warnings/errors (D2-D4), and a per-file aggregation builds the report
  * (D5). The shadow-workspace validation (D6, lsp_tool.py:344-373) is the
  * same pipeline run over proposed content with `valid = error_count == 0`.
  *
  * Documents stand in for files; their 10-token chunks are the "lines"
  * (single-line corpus). Rules are pure `when()` predicates — the whole
  * engine is one generate → filter → aggregate program, embarrassingly
  * parallel over doc_id.
  *
  * Rulesets (thresholds tuned to this corpus, structure faithful to the
  * reference): "py"-style rules for lang=en (print-call, wildcard-import
  * analog), "js"-style for lang=de (console.log analog), generic rules for
  * every doc (long line, trailing whitespace analog, short doc).
  */
object Diagnostics {

  private val LongLine = 70

  /** One rule of a bank: a (severity, message) struct when `cond` holds,
    * else null. A bank is an array of rules over one row's columns. */
  private def rule(cond: Column, severity: String, msg: Column): Column =
    when(cond, struct(lit(severity).as("severity"), msg.as("message")))

  /** The findings a bank fired: its non-null entries. */
  private def fired(bank: Column): Column = filter(bank, x => x.isNotNull)

  private def severityCount(severity: String): Column =
    sum(when(col("severity") === severity, 1).otherwise(0)).cast("long")

  /** D5's deterministic message digest: (line_no, severity, message)
    * structs sorted, rendered `line_no:severity:message`, joined by "; ". */
  private def digest(findings: Column): Column =
    concat_ws("; ",
      transform(array_sort(findings),
        x => concat(x.getField("line_no"), lit(":"), x.getField("severity"),
          lit(":"), x.getField("message"))))

  /** Per-line rule evaluation over chunk-lines. Returns one row per emitted
    * message: (doc_id, line_no, severity, message).
    *
    * All rules evaluate in ONE pass: per line, an array of
    * when(cond, struct(severity, message)) entries is built, nulls filtered,
    * and the survivors exploded — the chunker/join subtree executes once,
    * not once per rule (a union-of-filters re-reads the input per branch),
    * and the whole rule bank stays inside one codegen stage.
    */
  def lineDiagnostics(documents: DataFrame): DataFrame = {
    val lines = Chunkers.textChunks(documents)
      .join(documents.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("chunk_idx").as("line_no"), col("content").as("line"))
    val ruleBank = array(
      rule(length(col("line")) > LongLine, "warning",
        concat(lit(s"Line exceeds $LongLine characters ("), length(col("line")), lit(")"))),
      rule(col("lang") === "en" && col("line").contains("key"), "warning",
        lit("py: suspicious call marker 'key'")),
      rule(col("lang") === "de" && col("line").contains("merge"), "warning",
        lit("js: suspicious call marker 'merge'")),
      // no regex backreferences anywhere: DuckDB's RE2 lacks them, so the
      // oracle could not mirror a \1-style repeated-word rule
      rule(col("line").contains("slow") && col("line").contains("fast"),
        "error", lit("Contradictory speed markers")))
    lines
      .select(col("doc_id"), col("line_no"), explode(fired(ruleBank)).as("r"))
      .select(col("doc_id"), col("line_no"),
        col("r.severity").as("severity"), col("r.message").as("message"))
  }

  /** D5: per-document report with severity counts and a deterministic
    * message digest. `valid` is the D6 shadow-workspace verdict. */
  def report(documents: DataFrame): DataFrame =
    lineDiagnostics(documents)
      .groupBy("doc_id")
      .agg(
        severityCount("error").as("error_count"),
        severityCount("warning").as("warning_count"),
        digest(collect_list(struct(col("line_no"), col("severity"), col("message"))))
          .as("messages"))
      .withColumn("valid", (col("error_count") === 0).cast("boolean"))
      .orderBy("doc_id")

  /** D6: shadow-workspace validation (lsp_tool.py:344-373) — run the full
    * rule pipeline on PROPOSED content as a one-row virtual document; no
    * filesystem copy is needed because the engine's diagnostics are a pure
    * function of (lang, content). `valid` = zero error-severity findings
    * (the reference's uppercase-"ERROR" substring scan almost always
    * returned true — SURVEY.md §2.9#6; we count from the structured
    * severity column instead). */
  def validate(spark: org.apache.spark.sql.SparkSession, lang: String,
               content: String): Boolean = {
    import spark.implicits._
    val proposed = Seq((0L, lang, content)).toDF("doc_id", "lang", "text")
    val rows = report(proposed).collect()
    rows.isEmpty || rows.head.getAs[Boolean]("valid")
  }

  // ---------------------------------------------------------------------------
  // The reference's REAL rule banks (lsp_tool.py:141-156 python, :202-230
  // js/ts, :250-267 generic), written once as Column functions of the
  // values they read ([[lineRules]], [[syntaxRules]], [[fileRules]]) and
  // evaluated in two shapes: exploded over a (file_path, ext, line_no,
  // line) relation (the corpus-scale oracle path, [[codeReportFromDocs]]),
  // and row-wise over one (file_path, content) row per file
  // ([[codeDiagnostics]], the per-call tool path).
  // Deviations, declared: the ast.parse syntax check and the pyflakes
  // subprocess (lsp_tool.py:133-180) need a Python runtime — out of scope;
  // the error channel they fed is kept live by a relational
  // syntax-plausibility check instead ([[syntaxDiagnostics]]: per-file
  // delimiter-balance + triple-quote-parity aggregates, error severity); and
  // stripping covers the ASCII whitespace set ([[Ws]]), where Python's
  // str.strip() also strips the \x1c-\x1f separators and Unicode spaces
  // (identical between Spark and DuckDB, which is what the oracle requires).
  // ---------------------------------------------------------------------------

  private val JsExts = Seq("js", "ts", "tsx", "jsx")
  /** The ASCII whitespace set: space, \t, \n, \r, \x0b, \x0c. Spark's
    * one-argument trim strips spaces only. */
  private val Ws = " \t\n\r\u000b\u000c"
  /** [[Ws]] in DuckDB, whose string literals process no escapes. */
  private val DuckWs = Ws.map(c => s"chr(${c.toInt})").mkString("(", " || ", ")")
  private def isPy(ext: Column): Column = ext === "py"
  private def isJs(ext: Column): Column = ext.isin(JsExts: _*)
  private def isCode(ext: Column): Column = isPy(ext) || isJs(ext)
  private def isGeneric(ext: Column): Column = !isPy(ext) && !isJs(ext)

  /** D2/D3/D4 per-line rule bank, dispatched on `ext` (the reference's
    * `get_diagnostics` file-extension dispatch, lsp_tool.py:97-115): one
    * rule per entry, null where it does not fire, over one line's text. */
  def lineRules(line: Column, ext: Column): Column = {
    val sl = trim(line, Ws)
    val semiCount = size(split(sl, ";", -1)) - 1
    array(
      // python: lsp_tool.py:146-156
      rule(isPy(ext) && sl.startsWith("import ") && !sl.contains(" as ") && sl.contains("*"),
        "warning", lit("Wildcard import detected")),
      rule(isPy(ext) && line.contains("print(") && !sl.startsWith("#"),
        "warning", lit("print() statement found (consider logging)")),
      // long-line >120 appears in BOTH the py and js banks with the same text
      rule(isCode(ext) && length(line) > 120,
        "warning", concat(lit("Line too long ("), length(line), lit(" chars)"))),
      // js/ts: lsp_tool.py:205-230
      rule(isJs(ext) && line.contains("console.log(") && !sl.startsWith("//"),
        "warning", lit("console.log() found")),
      rule(isJs(ext) && sl.endsWith(";") && semiCount > 1,
        "warning", lit("Multiple statements on one line")),
      rule(isJs(ext) && sl =!= "" && !sl.startsWith("//") && !sl.startsWith("/*") &&
        !sl.endsWith(";") && !sl.endsWith("{") && !sl.endsWith("}") && !sl.endsWith(",") &&
        !sl.contains("if (") && !sl.contains("for (") && !sl.contains("while ("),
        "warning", lit("Missing semicolon?")),
      // generic: lsp_tool.py:253-260
      rule(isGeneric(ext) && length(line) > 200,
        "warning", concat(lit("Very long line ("), length(line), lit(" chars)"))),
      rule(isGeneric(ext) && rtrim(line, Ws) =!= line, "warning", lit("Trailing whitespace")))
  }

  /** Characters of `text` inside non-overlapping occurrences of `s`:
    * the occurrence count times `s`'s length. */
  private def cnt(text: Column, s: String): Column =
    length(text) - length(replace(text, lit(s), lit("")))

  /** The syntax-plausibility inputs of a text, in [[syntaxRules]]' order:
    * net `()`, `[]`, `{}` balance (opens − closes) and the `\"\"\"` count.
    * Additive over the lines of a file: splitting on "\n" removes no
    * delimiter and no quote, so a file's values are the sums of its
    * lines'. */
  private def delimiterCounts(text: Column): Seq[Column] = Seq(
    cnt(text, "(") - cnt(text, ")"),
    cnt(text, "[") - cnt(text, "]"),
    cnt(text, "{") - cnt(text, "}"),
    (cnt(text, "\"\"\"") / lit(3)).cast("long"))

  /** Error-severity syntax-plausibility bank (round-2 verdict #3): a
    * stand-in for the reference's `ast.parse` error path
    * (lsp_tool.py:133-139), which needs a Python runtime. A file whose net
    * delimiter balance — Σ opens − Σ closes per `()`/`[]`/`{}` pair — is
    * nonzero, or (python) whose `\"\"\"` count is odd, cannot parse. Over
    * one file's totals ([[delimiterCounts]]); callers apply it to code files
    * (py + js family) only, like the reference's parser-backed checks. */
  def syntaxRules(paren: Column, bracket: Column, brace: Column, tq: Column,
                  ext: Column): Column =
    array(
      rule(paren =!= 0 || bracket =!= 0 || brace =!= 0, "error",
        concat(lit("Syntax error: unbalanced delimiters (paren="), paren,
          lit(", bracket="), bracket, lit(", brace="), brace, lit(")"))),
      rule(ext === "py" && tq % 2 =!= 0, "error",
        lit("Syntax error: unterminated triple-quoted string")))

  /** File-level generic bank (lsp_tool.py:262-267): empty file, missing
    * trailing newline — independent predicates, both can fire. */
  def fileRules(content: Column, ext: Column): Column =
    array(
      rule(isGeneric(ext) && trim(content, Ws) === "", "warning", lit("File is empty")),
      rule(isGeneric(ext) && !content.endsWith("\n"), "warning",
        lit("File doesn't end with newline")))

  /** [[lineRules]] exploded over (file_path, ext, line_no, line) rows.
    * Output one row per finding: (file_path, line_no, severity, message). */
  def codeLineDiagnostics(lines: DataFrame): DataFrame =
    lines
      .select(col("file_path"), col("line_no"),
        explode(fired(lineRules(col("line"), col("ext")))).as("r"))
      .select(col("file_path"), col("line_no"),
        col("r.severity").as("severity"), col("r.message").as("message"))

  /** [[syntaxRules]] over the line relation: the per-file totals are one
    * map-side counting pass plus the same keyed aggregation the report
    * already pays. This is what makes `error_count` and `valid=false` carry
    * real signal: the line-rule banks are warning-only. Input: (file_path,
    * ext, line_no, line); output rows at line_no 0. */
  def syntaxDiagnostics(lines: DataFrame): DataFrame = {
    val Seq(paren, bracket, brace, tq) = delimiterCounts(col("line"))
    lines.filter(isCode(col("ext")))
      .groupBy(col("file_path"), col("ext"))
      .agg(sum(paren).as("paren"), sum(bracket).as("bracket"), sum(brace).as("brace"),
        sum(tq).as("tq"))
      .select(col("file_path"), lit(0L).as("line_no"),
        explode(fired(syntaxRules(col("paren"), col("bracket"), col("brace"), col("tq"),
          col("ext")))).as("r"))
      .select(col("file_path"), col("line_no"),
        col("r.severity").as("severity"), col("r.message").as("message"))
  }

  /** [[fileRules]] over (file_path, ext, content) rows. line_no 0 sorts
    * them ahead of line findings. */
  def codeFileDiagnostics(files: DataFrame): DataFrame =
    files
      .select(col("file_path"), lit(0L).as("line_no"),
        explode(fired(fileRules(col("content"), col("ext")))).as("r"))
      .select(col("file_path"), col("line_no"),
        col("r.severity").as("severity"), col("r.message").as("message"))

  /** D5 over real files: per-file report with the severity counts and sorted
    * message digest. */
  def codeReport(diag: DataFrame): DataFrame =
    diag
      .groupBy("file_path")
      .agg(
        severityCount("error").as("error_count"),
        severityCount("warning").as("warning_count"),
        digest(collect_list(struct(col("line_no"), col("severity"), col("message"))))
          .as("messages"))
      .withColumn("valid", (col("error_count") === 0).cast("boolean"))
      .orderBy("file_path")

  /** The tool entry (`Graft.getDiagnostics`): (file_path, content) rows —
    * real files, real newlines — to the [[codeReport]] of
    * `codeLineDiagnostics ∪ codeFileDiagnostics ∪ syntaxDiagnostics` over
    * their lines, with the same columns, types, order and message text, and
    * no row for a file without findings. `file_path` must be a key of
    * `files`: each row is reported on its own, where the relational
    * composition would merge two rows sharing a path.
    *
    * Row-wise: every bank runs inside one projection of the file's row —
    * [[lineRules]] over `split(content, "\n", -1)` with `transform`,
    * [[fileRules]] and [[syntaxRules]] over the whole content (whose
    * [[delimiterCounts]] equal the sum over its lines), the findings sorted
    * with `array_sort` — so the plan has no exchange but the final order.
    * Over the tool's one-row local relation the projection and filter fold
    * into a local relation (`ConvertToLocalRelation`) and the sort of one
    * row is dropped (`OptimizeOneRowPlan`): a call runs no Spark job. Over
    * a distributed input the optimizer pushes the no-findings filter below
    * the projection, evaluating the banks twice per row; a corpus-scale
    * report is [[codeReportFromDocs]]' exploded shape. */
  def codeDiagnostics(files: DataFrame): DataFrame = {
    val c = col("content")
    val e = col("ext")
    val Seq(paren, bracket, brace, tq) = delimiterCounts(c)
    def at(findings: Column, lineNo: Column): Column =
      transform(findings, r => struct(lineNo.as("line_no"),
        r.getField("severity").as("severity"), r.getField("message").as("message")))
    val findings = concat(
      flatten(transform(split(c, "\n", -1),
        (l, i) => at(fired(lineRules(l, e)), (i + 1).cast("long")))),
      at(fired(fileRules(c, e)), lit(0L)),
      at(filter(syntaxRules(paren, bracket, brace, tq, e),
        r => r.isNotNull && isCode(e)), lit(0L)))
    def nOf(severity: String): Column =
      size(filter(col("f"), x => x.getField("severity") === severity)).cast("long")
    files
      .select(col("file_path"), c, regexp_extract(col("file_path"), "\\.([^.]+)$", 1).as("ext"))
      .select(col("file_path"), findings.as("f"))
      .filter(size(col("f")) > 0)
      .select(col("file_path"), nOf("error").as("error_count"),
        nOf("warning").as("warning_count"), digest(col("f")).as("messages"))
      .withColumn("valid", (col("error_count") === 0).cast("boolean"))
      .orderBy("file_path")
  }

  /** Documents-as-files view for the oracle: each text chunk is a "line",
    * doc_id mod 3 picks the extension, and a deterministic decoration makes
    * every rule reachable on this corpus (print(, console.log, trailing
    * whitespace, wildcard import, multi-statement). Mirrored verbatim in
    * [[duckCodeReport]]. */
  def docsAsFiles(documents: DataFrame): DataFrame = {
    val ch = Chunkers.textChunks(documents)
    val ext = when(col("doc_id") % 3 === 0, "py")
      .when(col("doc_id") % 3 === 1, "js")
      .otherwise("txt")
    val m = col("chunk_idx") % 6
    val line = when(m === 0, concat(lit("print(\""), col("content"), lit("\")")))
      .when(m === 1, concat(lit("console.log(\""), col("content"), lit("\");")))
      .when(m === 2, concat(col("content"), lit("  ")))
      .when(m === 3, lit("import *"))
      .when(m === 4, lit("const a = 1; const b = 2;"))
      // every 7th doc gets one unclosed paren on its m=5 lines, so the
      // error-severity syntax channel (syntaxDiagnostics) fires on a
      // deterministic minority of code files and valid=false is observable
      // in the oracle gate — not just in unit fixtures
      .otherwise(when(col("doc_id") % 7 === 0, concat(lit("( "), col("content")))
        .otherwise(col("content")))
    ch.select(col("doc_id"), col("chunk_idx"), ext.as("ext"), line.as("line"))
      .select(concat(lit("doc_"), col("doc_id"), lit("."), col("ext")).as("file_path"),
        col("ext"), (col("chunk_idx") + 1).as("line_no"), col("line"))
  }

  /** q_diagnostics_code: the real rule banks over the documents-as-files
    * view. Chunk-joined lines never end in a newline, so every generic file
    * carries the missing-trailing-newline warning — the file-level rule is
    * exercised, deterministically, on both engines. */
  def codeReportFromDocs(documents: DataFrame): DataFrame = {
    // cached: three union branches read it (the chunker's interpreted
    // transform makes recompute the expensive part); consumers are filters
    // and unions — no join build side, so no estimate hazard
    val v = docsAsFiles(documents).cache()
    val fileLevel = v.filter(col("ext") === "txt").select("file_path").distinct()
      .select(col("file_path"), lit(0L).as("line_no"),
        lit("warning").as("severity"),
        lit("File doesn't end with newline").as("message"))
    codeReport(codeLineDiagnostics(v)
      .unionByName(fileLevel)
      .unionByName(syntaxDiagnostics(v)))
  }

  def duckCodeReport(table: String): String = {
    val js = "('js','ts','tsx','jsx')"
    val code = "('py','js','ts','tsx','jsx')"
    s"""WITH ch AS (${Chunkers.duckTextChunks(table).replace("ORDER BY doc_id, chunk_idx", "")}),
       |v AS (SELECT 'doc_' || doc_id || '.' || ext AS file_path, ext,
       |             chunk_idx + 1 AS line_no, line
       |      FROM (SELECT doc_id, chunk_idx,
       |              CASE WHEN doc_id % 3 = 0 THEN 'py'
       |                   WHEN doc_id % 3 = 1 THEN 'js' ELSE 'txt' END AS ext,
       |              CASE WHEN chunk_idx % 6 = 0 THEN 'print("' || content || '")'
       |                   WHEN chunk_idx % 6 = 1 THEN 'console.log("' || content || '");'
       |                   WHEN chunk_idx % 6 = 2 THEN content || '  '
       |                   WHEN chunk_idx % 6 = 3 THEN 'import *'
       |                   WHEN chunk_idx % 6 = 4 THEN 'const a = 1; const b = 2;'
       |                   WHEN doc_id % 7 = 0 THEN '( ' || content
       |                   ELSE content END AS line
       |            FROM ch)),
       |msg AS (
       |  SELECT file_path, line_no, 'warning' AS severity, 'Wildcard import detected' AS message
       |  FROM v WHERE ext = 'py' AND starts_with(trim(line, $DuckWs), 'import ')
       |           AND NOT contains(trim(line, $DuckWs), ' as ') AND contains(trim(line, $DuckWs), '*')
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'print() statement found (consider logging)'
       |  FROM v WHERE ext = 'py' AND contains(line, 'print(') AND NOT starts_with(trim(line, $DuckWs), '#')
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'Line too long (' || length(line) || ' chars)'
       |  FROM v WHERE ext IN $code AND length(line) > 120
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'console.log() found'
       |  FROM v WHERE ext IN $js AND contains(line, 'console.log(')
       |           AND NOT starts_with(trim(line, $DuckWs), '//')
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'Multiple statements on one line'
       |  FROM v WHERE ext IN $js AND ends_with(trim(line, $DuckWs), ';')
       |           AND len(string_split(trim(line, $DuckWs), ';')) - 1 > 1
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'Missing semicolon?'
       |  FROM v WHERE ext IN $js AND trim(line, $DuckWs) <> ''
       |           AND NOT starts_with(trim(line, $DuckWs), '//') AND NOT starts_with(trim(line, $DuckWs), '/*')
       |           AND NOT ends_with(trim(line, $DuckWs), ';') AND NOT ends_with(trim(line, $DuckWs), '{')
       |           AND NOT ends_with(trim(line, $DuckWs), '}') AND NOT ends_with(trim(line, $DuckWs), ',')
       |           AND NOT contains(trim(line, $DuckWs), 'if (') AND NOT contains(trim(line, $DuckWs), 'for (')
       |           AND NOT contains(trim(line, $DuckWs), 'while (')
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'Very long line (' || length(line) || ' chars)'
       |  FROM v WHERE ext NOT IN $code AND length(line) > 200
       |  UNION ALL
       |  SELECT file_path, line_no, 'warning', 'Trailing whitespace'
       |  FROM v WHERE ext NOT IN $code AND rtrim(line, $DuckWs) <> line
       |  UNION ALL
       |  SELECT DISTINCT file_path, 0 AS line_no, 'warning', 'File doesn''t end with newline'
       |  FROM v WHERE ext NOT IN $code
       |  UNION ALL
       |  SELECT file_path, 0 AS line_no, 'error',
       |         'Syntax error: unbalanced delimiters (paren=' || paren ||
       |         ', bracket=' || bracket || ', brace=' || brace || ')'
       |  FROM (SELECT file_path,
       |          sum((length(line) - length(replace(line, '(', ''))) -
       |              (length(line) - length(replace(line, ')', '')))) AS paren,
       |          sum((length(line) - length(replace(line, '[', ''))) -
       |              (length(line) - length(replace(line, ']', '')))) AS bracket,
       |          sum((length(line) - length(replace(line, '{', ''))) -
       |              (length(line) - length(replace(line, '}', '')))) AS brace
       |        FROM v WHERE ext IN $code GROUP BY file_path)
       |  WHERE paren <> 0 OR bracket <> 0 OR brace <> 0
       |  UNION ALL
       |  SELECT file_path, 0 AS line_no, 'error', 'Syntax error: unterminated triple-quoted string'
       |  FROM (SELECT file_path,
       |          sum((length(line) - length(replace(line, '${"\"\"\""}', ''))) // 3) AS tq
       |        FROM v WHERE ext = 'py' GROUP BY file_path)
       |  WHERE tq % 2 <> 0)
       |SELECT file_path,
       |  CAST(sum(CASE WHEN severity = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
       |  CAST(sum(CASE WHEN severity = 'warning' THEN 1 ELSE 0 END) AS BIGINT) AS warning_count,
       |  string_agg(line_no || ':' || severity || ':' || message, '; '
       |             ORDER BY line_no, severity, message) AS messages,
       |  (sum(CASE WHEN severity = 'error' THEN 1 ELSE 0 END) = 0) AS valid
       |FROM msg GROUP BY file_path ORDER BY file_path""".stripMargin
  }

  def duckReport(table: String): String =
    s"""WITH ch AS (${Chunkers.duckTextChunks(table).replace("ORDER BY doc_id, chunk_idx", "")}),
       |ln AS (SELECT c.doc_id, d.lang, c.chunk_idx AS line_no, c.content AS line
       |       FROM ch c JOIN $table d ON d.doc_id = c.doc_id),
       |msg AS (
       |  SELECT doc_id, line_no, 'warning' AS severity,
       |         'Line exceeds $LongLine characters (' || length(line) || ')' AS message
       |  FROM ln WHERE length(line) > $LongLine
       |  UNION ALL
       |  SELECT doc_id, line_no, 'warning', 'py: suspicious call marker ''key'''
       |  FROM ln WHERE lang = 'en' AND contains(line, 'key')
       |  UNION ALL
       |  SELECT doc_id, line_no, 'warning', 'js: suspicious call marker ''merge'''
       |  FROM ln WHERE lang = 'de' AND contains(line, 'merge')
       |  UNION ALL
       |  SELECT doc_id, line_no, 'error', 'Contradictory speed markers'
       |  FROM ln WHERE contains(line, 'slow') AND contains(line, 'fast'))
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN severity = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
       |  CAST(sum(CASE WHEN severity = 'warning' THEN 1 ELSE 0 END) AS BIGINT) AS warning_count,
       |  string_agg(line_no || ':' || severity || ':' || message, '; '
       |             ORDER BY line_no, severity, message) AS messages,
       |  (sum(CASE WHEN severity = 'error' THEN 1 ELSE 0 END) = 0) AS valid
       |FROM msg GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
