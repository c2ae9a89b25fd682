package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Diagnostics

/** The reference's REAL diagnostics rules (lsp_tool.py:141-156, :202-230,
  * :250-267) over real file content: every rule fires on these fixtures and
  * every negative guard (comment prefixes, ' as ' imports, line endings that
  * suppress the missing-semicolon heuristic) is covered. */
class DiagnosticsCodeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val pyFile =
    """import *
      |import numpy as np_star  # has ' as ' and '*'? no star; guard below
      |print("hi")
      |# print("commented out")
      |x = 1
      |""".stripMargin + "y = " + ("1 + " * 40) + "1\n" // > 120 chars

  private val jsFile =
    """console.log("boot");
      |// console.log("commented")
      |let a = 1; let b = 2;
      |const x = 1
      |if (x > 0) {
      |}
      |""".stripMargin

  private val txtFile = "trailing spaces   \nok line\n" + ("z" * 201) // no final newline

  // net +1 paren (split across lines), odd """ count -> both error rules fire
  private val brokenPy =
    "def f(:\n    s = \"\"\"unterminated\n    return (1 + 2\n"

  // balanced parens, net +1 brace -> delimiter rule alone fires
  private val brokenJs = "function f() {\n  return 1;\n"

  private val fixtures = Seq(
    ("check.py", pyFile),
    ("app.js", jsFile),
    ("broken.py", brokenPy),
    ("broken.js", brokenJs),
    ("notes.rst", txtFile),
    ("empty.cfg", ""))

  private def reports = {
    import spark.implicits._
    Diagnostics.codeDiagnostics(fixtures.toDF("file_path", "content")).collect()
      .map(r => r.getAs[String]("file_path") -> r).toMap
  }

  test("python rules: wildcard import, print(), long line; comment guard") {
    val msgs = reports("check.py").getAs[String]("messages")
    assert(msgs.contains("1:warning:Wildcard import detected"))
    assert(msgs.contains("3:warning:print() statement found (consider logging)"))
    assert(msgs.contains("Line too long ("))
    // commented-out print on line 4 must NOT fire
    assert(!msgs.contains("4:warning:print()"))
    // `import numpy as np_star` has ' as ' -> wildcard guard holds
    assert(!msgs.contains("2:warning:Wildcard"))
    assert(reports("check.py").getAs[Long]("warning_count") == 3)
  }

  test("js rules: console.log, multi-statement, missing semicolon; guards") {
    val msgs = reports("app.js").getAs[String]("messages")
    assert(msgs.contains("1:warning:console.log() found"))
    assert(!msgs.contains("2:warning:console.log")) // '//' comment guard
    assert(msgs.contains("3:warning:Multiple statements on one line"))
    assert(msgs.contains("4:warning:Missing semicolon?"))
    // 'if (' line and '{'/'}' endings suppress the semicolon heuristic
    assert(!msgs.contains("5:warning:Missing") && !msgs.contains("6:warning:Missing"))
  }

  test("generic rules: trailing whitespace, very long line, file-level checks") {
    val msgs = reports("notes.rst").getAs[String]("messages")
    assert(msgs.contains("1:warning:Trailing whitespace"))
    assert(msgs.contains("3:warning:Very long line (201 chars)"))
    assert(msgs.contains("0:warning:File doesn't end with newline"))
    val empty = reports("empty.cfg").getAs[String]("messages")
    assert(empty.contains("0:warning:File is empty"))
    assert(empty.contains("0:warning:File doesn't end with newline"))
  }

  test("line rules strip the ASCII whitespace set, as str.strip() does") {
    import spark.implicits._
    val lf = "let a = 1;\nconsole.log(a);\n"
    val files = Seq(("lf.js", lf), ("crlf.js", lf.replace("\n", "\r\n")),
      ("tail.txt", "tail \r\nok\r\n"))
    val got = Diagnostics.codeDiagnostics(files.toDF("file_path", "content")).collect()
      .map(r => r.getAs[String]("file_path") -> r).toMap
    def body(f: String) = got(f).toSeq.drop(1)
    assert(got("lf.js").schema.fieldNames.head == "file_path")
    // CRLF reports exactly what its LF copy reports: no "Missing semicolon?"
    assert(body("crlf.js") == body("lf.js"))
    assert(!got("crlf.js").getAs[String]("messages").contains("Missing semicolon"))
    assert(got("tail.txt").getAs[String]("messages").contains("1:warning:Trailing whitespace"))
  }

  test("clean files are valid: line-rule banks are warning-only") {
    val clean = Seq("check.py", "app.js", "notes.rst", "empty.cfg")
    assert(clean.forall(reports(_).getAs[Boolean]("valid")))
    assert(clean.forall(reports(_).getAs[Long]("error_count") == 0L))
  }

  test("syntax channel: unbalanced delimiters and odd triple-quotes are errors") {
    val py = reports("broken.py")
    val pyMsgs = py.getAs[String]("messages")
    assert(pyMsgs.contains(
      "0:error:Syntax error: unbalanced delimiters (paren=2, bracket=0, brace=0)"))
    assert(pyMsgs.contains("0:error:Syntax error: unterminated triple-quoted string"))
    assert(py.getAs[Long]("error_count") == 2L)
    assert(!py.getAs[Boolean]("valid"))

    val js = reports("broken.js")
    assert(js.getAs[String]("messages").contains(
      "0:error:Syntax error: unbalanced delimiters (paren=0, bracket=0, brace=1)"))
    assert(js.getAs[Long]("error_count") == 1L)
    assert(!js.getAs[Boolean]("valid"))
  }

  /** The relational composition `codeDiagnostics` replaced: files exploded
    * into lines, the three finding relations unioned, one keyed report. */
  private def composed(files: DataFrame): DataFrame = {
    val withExt = files.withColumn("ext",
      regexp_extract(col("file_path"), "\\.([^.]+)$", 1))
    val lines = withExt
      .select(col("file_path"), col("ext"),
        posexplode(split(col("content"), "\n", -1)).as(Seq("idx", "line")))
      .select(col("file_path"), col("ext"),
        (col("idx") + 1).cast("long").as("line_no"), col("line"))
    Diagnostics.codeReport(Diagnostics.codeLineDiagnostics(lines)
      .unionByName(Diagnostics.codeFileDiagnostics(withExt))
      .unionByName(Diagnostics.syntaxDiagnostics(lines)))
  }

  test("row-wise codeDiagnostics == the exploded union + keyed report, row for row") {
    import spark.implicits._
    val pieces = Seq("import *", "import numpy as np", "print(\"x\")", "# print(1)",
      "console.log(1);", "// console.log(2)", "let a = 1; let b = 2;", "const x = 1",
      "if (x) {", "}", "{", "[", "]", "(", ")", "\"\"\"", "s = \"\"\"a\"\"\" + \"\"\"",
      "trailing   ", "x" * 130, "y" * 210, "", "ok")
    val exts = Seq(".py", ".js", ".ts", ".tsx", ".jsx", ".txt", ".md", ".cfg", "")
    val rnd = new scala.util.Random(11)
    val generated = (0 until 60).map { i =>
      val eol = if (rnd.nextInt(4) == 0) "\r\n" else "\n"
      val body = Seq.fill(rnd.nextInt(8))(pieces(rnd.nextInt(pieces.size))).mkString(eol)
      (f"gen/f$i%02d${exts(i % exts.size)}", body + (if (rnd.nextBoolean()) eol else ""))
    }
    val extra = Seq(
      ("clean.py", "x = 1\n"), // no finding
      ("empty.py", ""), // empty content, code file: no finding either
      ("crlf.js", "let a = 1;\r\nconsole.log(a);\r\nif (a) {\r\n}\r\n"),
      ("crlf.txt", "tail \r\nok  \r\nend"), // \r is not a space to rtrim
      ("Makefile", "all:\n\tbuild   \n"), // no extension: generic rules
      ("dir.d/README", "no newline"))
    val files = (fixtures ++ extra ++ generated).toDF("file_path", "content").repartition(5)
    assert(files.rdd.getNumPartitions == 5)
    val got = Diagnostics.codeDiagnostics(files)
    val want = composed(files)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w)
    val paths = g.map(_.getAs[String]("file_path"))
    assert(!paths.contains("clean.py") && !paths.contains("empty.py"))
    assert(Seq("crlf.js", "crlf.txt", "Makefile", "dir.d/README").forall(paths.contains))
    assert(g.exists(!_.getAs[Boolean]("valid")))
  }
}
