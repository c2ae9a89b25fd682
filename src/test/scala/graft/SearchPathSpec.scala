package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.jobsOf
import graft.functions.Embedder
import graft.sources.IndexBuild

/** The search read path's fixed cost: the query vector is computed on the
  * driver ([[Embedder.queryVector]]) and the index schema comes from one
  * parquet footer ([[IndexBuild.tableOrEmpty]]), so each search tool call
  * is ONE Spark job — pinned here by counting job starts — and neither
  * shortcut changes an answer. The row-wise diagnostics plan folds to a
  * local relation (no job) and symbol navigation is one token-keyed
  * exchange (a map-stage job and a result job). */
class SearchPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val projectDir =
    Paths.get(getClass.getResource("/sample_project").toURI).toString
  private lazy val indexDir = {
    val d = Files.createTempDirectory("graft_searchpath_idx").toString
    Graft.indexCodebase(spark, projectDir, d).collect()
    d
  }

  private def embedRow(t: String): Array[Double] = {
    import spark.implicits._
    Embedder.embed(Seq((0L, t)).toDF("doc_id", "text"))
      .head().getSeq[Double](1).toArray
  }

  test("queryVector equals the embed row element for element") {
    import spark.implicits._
    // two distinct tokens sharing a bucket: 1,000 tokens over 384 buckets
    // must collide somewhere
    val collision = (0 until 1000).map(i => s"tok$i").toDF("tok")
      .select(col("tok"), Embedder.bucket(col("tok")).as("b"))
      .groupBy("b").agg(sort_array(collect_list("tok")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .head().getSeq[String](1).take(2).mkString(" ")
    val rnd = new scala.util.Random(7)
    val long = Seq.fill(5000)(s"w${rnd.nextInt(3000)}").mkString(" ")
    val texts = Seq(
      "Process Data FROM the CSV Reader",
      "parse 2024 v1 x86_64 utf8 42",
      "a--b,,c;;d!!!e   f\t\tg\n\nh",
      "Café naïve Straße ΣΊΣΥΦΟΣ über señor",
      "def def def return return self self self self",
      collision,
      long)
    texts.foreach { t =>
      val q = Embedder.queryVector(spark, t)
      val e = embedRow(t)
      assert(q.length == Embedder.Dim && e.length == Embedder.Dim, t.take(40))
      assert(q.indices.forall(i => q(i) == e(i)), s"mismatch for '${t.take(40)}'")
    }
    assert(Embedder.queryVector(spark, collision).exists(_ == 2.0))
    assert(Embedder.queryVector(spark, long).sum == 5000.0)
    Seq("", "!!! ---", "日本語 — …").foreach { t =>
      intercept[IllegalArgumentException](Embedder.queryVector(spark, t))
    }
  }

  test("each search tool call runs one Spark job; a missing index runs none") {
    indexDir // build outside the counted calls
    val file = Graft.searchCode(spark, indexDir, "data", maxResults = 1)
      .collect()(0).getAs[String]("file_path")
    assert(jobsOf(Graft.searchCode(spark, indexDir, "process data").collect()) == 1)
    assert(jobsOf(Graft.searchCode(spark, indexDir, "process data",
      elementTypes = Seq("function"), fileType = Some(".py")).collect()) == 1)
    assert(jobsOf(Graft.searchFiles(spark, indexDir, "markdown documentation").collect()) == 1)
    assert(jobsOf(Graft.getFileContext(spark, indexDir, file).collect()) == 1)
    val nowhere = s"$indexDir/no_such_index"
    assert(jobsOf {
      Graft.searchCode(spark, nowhere, "q").collect()
      Graft.searchFiles(spark, nowhere, "q").collect()
      Graft.getFileContext(spark, nowhere, "a.py").collect()
      ()
    } == 0)
  }

  test("getDiagnostics runs no Spark job; symbolNavigation runs two") {
    val content = "import *\nprint(\"x\")\ndef f(:\n    return 1\n"
    assert(Graft.getDiagnostics(spark, "a.py", content).collect().nonEmpty)
    assert(jobsOf(Graft.getDiagnostics(spark, "a.py", content).collect()) == 0)
    assert(jobsOf(Graft.getDiagnostics(spark, "clean.py", "x = 1\n").collect()) == 0)
    assert(jobsOf(Graft.validateCode(spark, "a.py", content)) == 0)
    val docs = Tables.documents(spark, TestSpark.sf)
    assert(Graft.symbolNavigation(docs, Seq("spark", "table")).collect().nonEmpty)
    assert(jobsOf(Graft.symbolNavigation(docs, Seq("spark", "table")).collect()) == 2)
  }

  test("the footer reader returns spark.read.parquet's schema") {
    Seq("code_elements", "file_summaries").foreach { t =>
      val viaFooter = IndexBuild.tableOrEmpty(spark, s"$indexDir/$t").get
      assert(viaFooter.schema == spark.read.parquet(s"$indexDir/$t").schema, t)
      assert(viaFooter.count() == spark.read.parquet(s"$indexDir/$t").count(), t)
    }
  }

  private def hits(dir: String): (Seq[String], Seq[String], Seq[String]) = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    (rows(Graft.searchCode(spark, dir, "process data", maxResults = 5)),
      rows(Graft.searchFiles(spark, dir, "markdown documentation", maxResults = 3)),
      rows(Graft.searchCode(spark, dir, "function definition",
        elementTypes = Seq("function"), fileType = Some(".py"))))
  }

  test("legacy index without nrm gives the same hits; a parked swap still recovers") {
    val legacy = Files.createTempDirectory("graft_searchpath_legacy").toString
    Seq("code_elements", "file_summaries").foreach { t =>
      spark.read.parquet(s"$indexDir/$t").drop("nrm").write.parquet(s"$legacy/$t")
    }
    assert(!spark.read.parquet(s"$legacy/code_elements").columns.contains("nrm"))
    val expected = hits(indexDir)
    assert(expected._1.nonEmpty && expected._2.nonEmpty && expected._3.nonEmpty)
    assert(hits(legacy) == expected)
    // a crash between swapInto's renames parks the live table at _old
    Files.move(Paths.get(s"$legacy/code_elements"), Paths.get(s"$legacy/code_elements_old"))
    assert(hits(legacy) == expected)
    assert(Files.exists(Paths.get(s"$legacy/code_elements")))
    assert(!Files.exists(Paths.get(s"$legacy/code_elements_old")))
  }

  test("a missing directory or one holding only _SUCCESS gives the empty result") {
    val root = Files.createTempDirectory("graft_searchpath_empty")
    Seq("code_elements", "file_summaries").foreach { t =>
      Files.createDirectories(root.resolve(t))
      Files.createFile(root.resolve(t).resolve("_SUCCESS"))
    }
    Seq(root.toString, root.resolve("missing").toString).foreach { dir =>
      assert(IndexBuild.tableOrEmpty(spark, s"$dir/code_elements").isEmpty, dir)
      assert(Graft.searchCode(spark, dir, "q").collect().isEmpty, dir)
      assert(Graft.searchFiles(spark, dir, "q").collect().isEmpty, dir)
      assert(Graft.getFileContext(spark, dir, "a.py").collect().isEmpty, dir)
      assert(Graft.searchCodeText(spark, dir, "q") ==
        "No code index found. Please run indexing first.", dir)
    }
  }
}
