package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sandbox

/** The reference's complete tool surface driven through the [[Graft]]
  * facade against the sample project — the "switch by name" contract: every
  * tool a reference user calls has a working same-shaped entry point.
  */
class FacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val projectDir =
    Paths.get(getClass.getResource("/sample_project").toURI).toString
  private lazy val indexDir = {
    val d = Files.createTempDirectory("graft_facade_idx").toString
    Graft.indexCodebase(spark, projectDir, d).collect()
    d
  }

  test("index_codebase + search_code honor element-type and file-type filters") {
    val hits = Graft.searchCode(spark, indexDir, "process data", maxResults = 5,
      elementTypes = Seq("function"), fileType = Some(".py")).collect()
    assert(hits.nonEmpty && hits.length <= 5)
    assert(hits.forall(_.getAs[String]("element_type") == "function"))
    assert(hits.forall(_.getAs[String]("file_path").endsWith(".py")))
  }

  test("search_code text output renders the reference's result blocks") {
    val text = Graft.searchCodeText(spark, indexDir, "process data", maxResults = 3)
    assert(text.startsWith("Result 1 (similarity: "))
    assert(text.contains("  Name: ") && text.contains("  Type: ") &&
      text.contains("  File: ") && text.contains("  Lines: "))
    assert(text.contains("-" * 50))
    // reference join shape: blank line between result blocks, trailing \n
    assert(text.contains("-" * 50 + "\n\nResult 2 (similarity: "))
    assert(text.endsWith("\n"))
    // zero hits is the reference's message, not the empty string
    assert(Graft.searchCodeText(spark, indexDir, "process data",
      elementTypes = Seq("nosuchtype")) == "No results found for query: 'process data'")
  }

  test("search_files returns ranked file summaries") {
    val hits = Graft.searchFiles(spark, indexDir, "markdown documentation", maxResults = 3).collect()
    assert(hits.nonEmpty && hits.length <= 3)
  }

  test("get_file_context lists a file's elements in source order") {
    val anyFile = Graft.searchCode(spark, indexDir, "data", maxResults = 1)
      .collect()(0).getAs[String]("file_path")
    val ctx = Graft.getFileContext(spark, indexDir, anyFile).collect()
    assert(ctx.nonEmpty)
    val starts = ctx.map(_.getAs[Int]("start_line"))
    assert(starts.sorted.sameElements(starts))
  }

  test("get_diagnostics + validate_code: unbalanced brackets fail, clean code passes") {
    val bad = "def f(x):\n    return (x\n"
    val diag = Graft.getDiagnostics(spark, "bad.py", bad).collect()
    assert(diag.nonEmpty && diag.head.getAs[Long]("error_count") > 0)
    assert(!Graft.validateCode(spark, "bad.py", bad))
    assert(Graft.validateCode(spark, "ok.py", "def f(x):\n    return x\n"))
  }

  test("symbol navigation finds defs and refs over the corpus") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val nav = Graft.symbolNavigation(docs, Seq("spark", "table")).collect()
    assert(nav.nonEmpty)
  }

  test("symbol navigation == the window + distinct-count formulation") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // the form defsAndRefs replaced: row_number for the def site,
    // countDistinct for the spread, a global orderBy
    def windowed(documents: DataFrame, symbols: Seq[String]): DataFrame = {
      val w = Window.partitionBy("token").orderBy(asc("doc_id"), asc("pos"))
      documents
        .select(col("doc_id"),
          posexplode(graft.functions.TextFns.tokens(col("text"))).as(Seq("pos", "token")))
        .filter(col("token").isin(symbols: _*))
        .withColumn("rn", row_number().over(w))
        .groupBy("token")
        .agg(
          min(when(col("rn") === 1, col("doc_id"))).as("def_doc"),
          min(when(col("rn") === 1, col("pos"))).cast("long").as("def_pos"),
          (count(lit(1)) - 1).cast("long").as("n_refs"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("token")
    }
    val docs = Tables.documents(spark, TestSpark.sf)
    Seq(
      Seq("spark", "table", "join", "vector"),
      Seq("spark", "no_such_symbol_zz"), // one absent symbol
      Seq("zzqx"), // nothing occurs
      Seq.empty[String], // empty watchlist
      Seq("it's", "o'brien", "table")) // quotes: never a token
      .foreach { syms =>
        val got = Graft.symbolNavigation(docs, syms)
        val want = windowed(docs, syms)
        assert(got.schema.map(f => (f.name, f.dataType)) ==
          want.schema.map(f => (f.name, f.dataType)), syms)
        assert(got.collect().toSeq == want.collect().toSeq, syms)
      }
    assert(Graft.symbolNavigation(docs, Seq("spark", "table", "join", "vector"))
      .collect().length == 4)
    assert(Graft.symbolNavigation(docs, Seq("zzqx")).collect().isEmpty)
  }

  test("missing index degrades gracefully like the reference, never throws") {
    val nowhere = "/tmp/graft_facade_no_such_index"
    assert(Graft.searchCode(spark, nowhere, "q").isEmpty)
    assert(Graft.searchFiles(spark, nowhere, "q").isEmpty)
    assert(Graft.getFileContext(spark, nowhere, "a.py").isEmpty)
    assert(Graft.searchCodeText(spark, nowhere, "q") ==
      "No code index found. Please run indexing first.")
  }

  test("sandboxed read_file / write_file round-trip, escapes rejected") {
    val sb = new Sandbox(Files.createTempDirectory("graft_facade_sb").toString)
    assert(Graft.writeFile(sb, "a/b.txt", "hello").isRight)
    assert(Graft.readFile(sb, "a/b.txt") == Right("hello"))
    assert(Graft.readFile(sb, "../outside.txt").isLeft)
  }

  test("prepare_training_set: composed curate→split→pack ≡ stages, conservation holds") {
    import graft.operators.{CorpusOps, Curation, Dedup}
    val docs = Tables.documents(spark, TestSpark.sf)
    val manifest = Graft.prepareTrainingSet(docs).collect()
    // cache discipline: every stage handle released before return
    assert(spark.sharedState.cacheManager.isEmpty,
      "prepareTrainingSet must release all stage caches")
    // stage equivalence: manifest docs = the curation funnel's kept set
    val pairs = Dedup.nearDupPairs(docs.select("doc_id", "text"), 0.8)
    val (kept, handles) = Curation.keptWith(docs, 0.45, 0.8, Some(pairs))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    handles.foreach(_.unpersist())
    assert(manifest.map(_.getAs[Long]("doc_id")).toSet == keptIds)
    // split is exhaustive and leakage-free on the kept pair graph
    val bySplit = manifest.groupBy(_.getAs[String]("split"))
    assert(bySplit.keySet.subsetOf(Set("train", "val")) && bySplit.contains("train"))
    val splitOf = manifest.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    pairs.collect().foreach { p =>
      val (d1, d2) = (p.getLong(0), p.getLong(1))
      if (splitOf.contains(d1) && splitOf.contains(d2))
        assert(splitOf(d1) == splitOf(d2), s"near-dup pair ($d1,$d2) straddles the split")
    }
    // packing covers exactly the nonempty train docs, token-conserving
    val train = manifest.filter(r => r.getAs[String]("split") == "train"
      && r.getAs[Long]("ntok") > 0)
    assert(train.forall(r => !r.isNullAt(r.fieldIndex("offset"))))
    assert(manifest.filter(_.getAs[String]("split") == "val")
      .forall(r => r.isNullAt(r.fieldIndex("offset"))))
    val totalTrainTok = train.map(_.getAs[Long]("ntok")).sum
    val maxEnd = train.map(r => r.getAs[Long]("offset") + r.getAs[Long]("ntok")).max
    assert(maxEnd == totalTrainTok, "packed token line must end at the train token total")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ingest_batch: composed chunk→gate→decontam→upsert ≡ the stages run sequentially") {
    import spark.implicits._
    import graft.sources.IndexBuild
    import graft.operators.{CorpusOps, Dedup}
    val dirA = Files.createTempDirectory("graft_ingest_composed").toString
    val dirB = Files.createTempDirectory("graft_ingest_seq").toString
    val seed = Seq(
      ("old/boiler.txt", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("old/keep.txt", "completely different seed content that stays around forever untouched")
    ).toDS()
    for (d <- Seq(dirA, dirB))
      IndexBuild.upsertIndex(spark, d, IndexBuild.buildElements(seed))
    val bench = Seq(
      (1L, "the held out benchmark question and its exact answer text verbatim")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // verbatim copy of a corpus file under a NEW path → near_dup
      ("new/dup.txt", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // verbatim copy of the benchmark doc → contaminated
      ("new/contam.txt", "the held out benchmark question and its exact answer text verbatim"),
      // novel content → ingested
      ("new/clean.txt", "fresh novel wording sharing nothing with any earlier corpus file"),
      // SAME path as a corpus file, identical content: the same-file
      // exclusion must let the upsert replace it, not gate it (without
      // the exclusion its jaccard-1.0 self-pair would report near_dup)
      ("old/keep.txt", "completely different seed content that stays around forever untouched")
    ).toDS()

    // the round-5 advice assertion: ingestBatch must release every scratch
    // cache its stages create — by handle, not by plan-equality rebuild —
    // so a stage changing shingle width can't silently leak a
    // corpus-cardinality cache entry per ingest
    spark.sharedState.cacheManager.clearCache()
    val report = Graft.ingestBatch(spark, dirA, batch, Some(bench))
    assert(spark.sharedState.cacheManager.isEmpty,
      "ingestBatch leaked a stage cache entry")
    val actions = report.collect()
      .map(r => (r.getString(1), r.getString(2))).groupBy(_._1)
      .map { case (p, rows) => p -> rows.map(_._2).toSet }
    assert(actions("new/dup.txt") == Set("near_dup"))
    assert(actions("new/contam.txt") == Set("contaminated"))
    assert(actions("new/clean.txt") == Set("ingested"))
    assert(actions("old/keep.txt") == Set("ingested"))

    // the same stages, run one at a time against the identically seeded twin
    val fresh = IndexBuild.buildElements(batch)
    val gateCorpus = spark.read.parquet(s"$dirB/code_elements")
      .join(fresh.select("file_path").distinct(), Seq("file_path"), "left_anti")
    val dups = Dedup.minhashAgainst(
      fresh.select(col("id").as("doc_id"), col("content").as("text")),
      gateCorpus.select(col("id").as("doc_id"), col("content").as("text")), 0.9)
      .select(col("batch_doc").as("id")).distinct()
    val contam = CorpusOps.decontaminateAgainst(
      fresh.select(col("id").as("doc_id"), col("content").as("text")), bench)
      .filter(col("contam_frac") > 0.5).select(col("doc_id").as("id"))
    val survivors = fresh
      .join(dups, Seq("id"), "left_anti")
      .join(contam, Seq("id"), "left_anti")
    IndexBuild.upsertIndex(spark, dirB, survivors,
      refreshFiles = Some(fresh.select("file_path")))
    spark.sharedState.cacheManager.clearCache()

    def table(d: String) = spark.read.parquet(s"$d/code_elements")
      .orderBy("id").collect().map(_.toString).toSeq
    val (tA, tB) = (table(dirA), table(dirB))
    assert(tA == tB && tA.nonEmpty)
    // final state: clean + re-submitted keep present, gated content absent,
    // and the boiler original still there (only the NEW near-dup was gated)
    val paths = spark.read.parquet(s"$dirA/code_elements")
      .select("file_path").distinct().collect().map(_.getString(0)).toSet
    assert(paths == Set("old/boiler.txt", "old/keep.txt", "new/clean.txt"))
  }

  test("ingest_batch: a fully-gated re-submitted file sheds its stale old elements") {
    import spark.implicits._
    import graft.sources.IndexBuild
    val dir = Files.createTempDirectory("graft_ingest_gated_resubmit").toString
    val seed = Seq(
      ("a.txt", "original alpha content that version two of this file abandons entirely"),
      ("b.txt", "stable bravo content that the corpus keeps and the batch never touches")
    ).toDS()
    IndexBuild.upsertIndex(spark, dir, IndexBuild.buildElements(seed))
    // a.txt re-submitted with content duplicating b.txt → every new element
    // of a.txt is gated near_dup. The file's OLD elements must still be
    // deleted: the file on disk no longer contains them, and serving the
    // superseded version is the stale-element leak the upsert exists for.
    val batch = Seq(
      ("a.txt", "stable bravo content that the corpus keeps and the batch never touches")
    ).toDS()
    spark.sharedState.cacheManager.clearCache()
    val report = Graft.ingestBatch(spark, dir, batch)
    assert(spark.sharedState.cacheManager.isEmpty,
      "ingestBatch leaked a stage cache entry")
    assert(report.collect().map(_.getString(2)).toSet == Set("near_dup"))
    val after = spark.read.parquet(s"$dir/code_elements")
    assert(after.filter(col("file_path") === "a.txt").count() == 0,
      "gated re-submit must not leave the file's old elements behind")
    assert(after.filter(col("file_path") === "b.txt").count() > 0)
  }
}
