package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.IndexBuild

/** End-to-end index build over the crafted sample project (SURVEY.md §3.1
  * lifecycle): scan → chunk → embed → store → search, plus re-index
  * idempotence (the stale-element-leak fix, §2.9#4). */
class IndexBuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val projectDir =
    Paths.get(getClass.getResource("/sample_project").toURI).toString
  private lazy val indexDir = Files.createTempDirectory("graft_index").toString

  test("full build indexes the sample project") {
    val report = IndexBuild.run(spark, projectDir, indexDir).collect()(0)
    assert(report.getAs[Long]("files_indexed") == 6) // 2 py, 3 ts, md (txt not in ext set)
    assert(report.getAs[Long]("elements_indexed") > 5)
    val idx = spark.read.parquet(s"$indexDir/code_elements")
    assert(idx.columns.toSet.contains("embedding"))
    val types = idx.select("element_type").distinct().collect().map(_.getString(0)).toSet
    assert(Set("function", "class", "import", "markdown_section").subsetOf(types))
    // BOTH metadata filter paths work on code_elements: element_type (above)
    // and the derived file_type (quirk SURVEY.md §2.9#1, fully fixed)
    import org.apache.spark.sql.functions.col
    assert(idx.filter(col("file_type") === ".py").count() > 0)
    assert(idx.filter(col("file_type") === ".ts").count() > 0)
  }

  test("re-index is idempotent and embeds nothing (anti-join incremental skip)") {
    val n1 = spark.read.parquet(s"$indexDir/code_elements").count()
    val report = IndexBuild.run(spark, projectDir, indexDir).collect()(0)
    val n2 = spark.read.parquet(s"$indexDir/code_elements").count()
    assert(n1 == n2)
    assert(report.getAs[Long]("elements_embedded") == 0)
  }

  test("incremental re-index embeds only the changed file's new elements") {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    val work = JF.createTempDirectory("graft_incr")
    Seq("sample.py", "README.md").foreach { f =>
      JF.copy(JP.get(projectDir, f), work.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    val idx = JF.createTempDirectory("graft_incr_idx").toString
    val r1 = IndexBuild.run(spark, work.toString, idx).collect()(0)
    assert(r1.getAs[Long]("elements_embedded") == r1.getAs[Long]("elements_indexed"))
    // append one new function to sample.py
    val py = work.resolve("sample.py")
    JF.writeString(py, JF.readString(py) + "\n\ndef extra():\n    return 42\n")
    val r2 = IndexBuild.run(spark, work.toString, idx).collect()(0)
    assert(r2.getAs[Long]("elements_indexed") == r1.getAs[Long]("elements_indexed") + 1)
    // only the new function is embedded; every unchanged element is kept
    assert(r2.getAs[Long]("elements_embedded") == 1)
  }

  test("full re-run drops elements of files deleted from the tree") {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    val work = JF.createTempDirectory("graft_del")
    Seq("sample.py", "README.md").foreach { f =>
      JF.copy(JP.get(projectDir, f), work.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    val idx = JF.createTempDirectory("graft_del_idx").toString
    IndexBuild.run(spark, work.toString, idx)
    import org.apache.spark.sql.functions.col
    // counts materialized NOW: the second run swaps the parquet files, so
    // a lazy `before` frame would re-read paths that no longer exist
    val before = spark.read.parquet(s"$idx/code_elements")
      .groupBy("file_path").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.getOrElse("README.md", 0L) > 0)
    // delete README and re-run: a full scan knows the complete file set,
    // so the vanished file's elements must not linger in the index
    JF.delete(work.resolve("README.md"))
    IndexBuild.run(spark, work.toString, idx)
    val after = spark.read.parquet(s"$idx/code_elements")
    assert(after.filter(col("file_path") === "README.md").count() == 0)
    assert(after.filter(col("file_path") === "sample.py").count() == before("sample.py"))
  }

  test("trained search layout: exhaustive probe == exact searchIndex; probe prunes partitions") {
    IndexBuild.writeSearchLayout(spark, indexDir, numCentroids = 4, iters = 2)
    // exhaustive nprobe ≡ the exact full-scan flagship (the VectorLayout
    // parity contract, now on the search surface itself)
    for ((et, ft) <- Seq((None, None), (Some("function"), None),
        (Some("function"), Some(".py")))) {
      val exact = IndexBuild.searchIndex(spark, indexDir, "say hello to name", 3,
        elementType = et, fileType = ft).collect().map(_.toString).toSeq
      val viaLayout = IndexBuild.searchIndexIvf(spark, indexDir, "say hello to name", 3,
        nprobe = 4, elementType = et, fileType = ft).collect().map(_.toString).toSeq
      assert(viaLayout == exact, s"filters et=$et ft=$ft")
    }
    // sub-exhaustive probe carries a static cluster PartitionFilter
    val plan = IndexBuild.searchIndexIvf(spark, indexDir, "say hello to name", 3,
      nprobe = 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected a cluster PartitionFilter in:\n$plan")
    // and still returns k ranked rows
    val hits = IndexBuild.searchIndexIvf(spark, indexDir, "say hello to name", 3,
      nprobe = 2).collect()
    assert(hits.length == 3)
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("layout upsert: file-granular replace drops deleted elements, moves clusters, keeps parity") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_idx_up").toString
    IndexBuild.run(spark, projectDir, d).collect()
    IndexBuild.writeSearchLayout(spark, d, numCentroids = 2, iters = 1)
    // re-chunk one file with different content: old elements of that path
    // must vanish from the layout, the new ones appear
    val els = spark.read.parquet(s"$d/code_elements")
    // a .py path: the replacement content must chunk as PYTHON (a .md path
    // would read the def as prose and emit a markdown section instead)
    val somePath = els
      .filter(org.apache.spark.sql.functions.col("file_type") === ".py")
      .select("file_path").orderBy("file_path").head().getString(0)
    val fresh = IndexBuild.buildElements(
      Seq((somePath, "def lonely_survivor():\n    return 42\n")).toDS())
    IndexBuild.upsertIndex(spark, d, fresh.toDF())
    IndexBuild.upsertSearchLayout(spark, d,
      spark.read.parquet(s"$d/code_elements")
        .filter(org.apache.spark.sql.functions.col("file_path") === somePath))
    val cells = spark.read.parquet(s"$d/vector_layout/cells")
    assert(cells.filter(org.apache.spark.sql.functions.col("file_path") === somePath).count() == 1,
      "stale elements of the replaced file must not linger")
    assert(cells.filter(org.apache.spark.sql.functions.col("name") === "lonely_survivor").count() == 1)
    // layout still covers the whole index 1:1
    assert(cells.count() == spark.read.parquet(s"$d/code_elements").count())
    // exhaustive probe == exact search over the upserted state
    val exact = IndexBuild.searchIndex(spark, d, "lonely survivor", 3)
      .collect().map(_.toString).toSeq
    val probed = IndexBuild.searchIndexIvf(spark, d, "lonely survivor", 3,
      nprobe = 2).collect().map(_.toString).toSeq
    assert(probed == exact)
  }

  /** Re-chunks the first .py file of index `d` with new content through
    * [[IndexBuild.upsertIndex]]; its path. */
  private def rechunkOne(d: String): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = spark.read.parquet(s"$d/code_elements").filter(col("file_type") === ".py")
      .select("file_path").orderBy("file_path").head().getString(0)
    IndexBuild.upsertIndex(spark, d, IndexBuild.buildElements(
      Seq((path, "def lonely_survivor():\n    return 42\n")).toDS()))
    path
  }
  private def elementsOf(d: String, path: String) =
    spark.read.parquet(s"$d/code_elements")
      .filter(org.apache.spark.sql.functions.col("file_path") === path)
  private def layoutHits(d: String): Seq[String] =
    IndexBuild.searchIndexIvf(spark, d, "lonely survivor", 3, nprobe = 1)
      .collect().map(_.toString).toSeq
  private def layoutCells(d: String): Seq[String] = {
    val t = spark.read.parquet(s"$d/vector_layout/cells")
    t.select(t.columns.sorted.map(t.col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  test("search layout write, upsert and search leave nothing persisted, cached or set") {
    val d = Files.createTempDirectory("graft_idx_leak").toString
    IndexBuild.run(spark, projectDir, d).collect()
    TestSpark.leavesNothing("write")(
      IndexBuild.writeSearchLayout(spark, d, numCentroids = 2, iters = 2))
    val path = rechunkOne(d)
    TestSpark.leavesNothing("upsert")(IndexBuild.upsertSearchLayout(spark, d, elementsOf(d, path)))
    TestSpark.leavesNothing("search")(layoutHits(d))
  }

  test("search-layout upsert over a refused swap-in fails loudly, keeps the old layout; a replay equals a clean run") {
    val d = Files.createTempDirectory("graft_idx_fault").toString
    IndexBuild.run(spark, projectDir, d).collect()
    IndexBuild.writeSearchLayout(spark, d, numCentroids = 2, iters = 1)
    val path = rechunkOne(d)
    val clean = Files.createTempDirectory("graft_idx_clean").toString
    Files.walk(Paths.get(d)).forEach { p =>
      val to = Paths.get(clean).resolve(Paths.get(d).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      ()
    }
    val before = layoutHits(d)
    val stored = layoutCells(d)
    // the scheme's own FileSystem refuses the swap-in; before this layout
    // shared VectorLayout's commit, a non-file: layout was never maintained
    val e = intercept[java.io.IOException](IndexBuild.upsertSearchLayout(spark,
      NoSwapInFs.path(spark, d), elementsOf(d, path)))
    assert(e.getMessage.contains("swap-in"), e.getMessage)
    assert(layoutHits(d) == before && layoutCells(d) == stored, "the live layout changed")
    assert(TestSpark.swapLeftovers(d).isEmpty, TestSpark.swapLeftovers(d).toString)
    Seq(d, clean).foreach(i => IndexBuild.upsertSearchLayout(spark, i, elementsOf(i, path)))
    assert(layoutCells(d) == layoutCells(clean))
    assert(layoutCells(d).exists(_.contains("lonely_survivor")))
    // a search over cells parked by an upsert's swap recovers them
    assert(new java.io.File(s"$d/vector_layout/cells")
      .renameTo(new java.io.File(s"$d/vector_layout/cells_old")))
    assert(layoutHits(d) == layoutHits(clean))
    assert(TestSpark.swapLeftovers(d).isEmpty, TestSpark.swapLeftovers(d).toString)
  }

  test("empty or untokenizable query text fails loudly instead of returning nothing") {
    intercept[IllegalArgumentException] {
      IndexBuild.searchIndex(spark, indexDir, "!!! ---", 3)
    }
    ()
  }

  test("search over the built index returns ranked, filtered hits") {
    val hits = IndexBuild.searchIndex(spark, indexDir, "say hello to name", 3).collect()
    assert(hits.length == 3)
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.sameElements(sims.sorted.reverse))
    val fns = IndexBuild.searchIndex(spark, indexDir, "function definition", 5,
      elementType = Some("function")).collect()
    assert(fns.nonEmpty && fns.forall(_.getAs[String]("element_type") == "function"))
    // both metadata filters composed on the STORED index (quirk §2.9#1):
    // only .py functions survive the pre-filter
    val pyFns = IndexBuild.searchIndex(spark, indexDir, "function definition", 5,
      elementType = Some("function"), fileType = Some(".py")).collect()
    assert(pyFns.nonEmpty && pyFns.forall(_.getAs[String]("file_path").endsWith(".py")))
    val tsOnly = IndexBuild.searchIndex(spark, indexDir, "function definition", 5,
      fileType = Some(".ts")).collect()
    assert(tsOnly.nonEmpty && tsOnly.forall(_.getAs[String]("file_path").endsWith(".ts")))
    // both metadata predicates reach the parquet reader of the stored index
    val plan = IndexBuild.searchIndex(spark, indexDir, "x", 5,
      elementType = Some("function"), fileType = Some(".py"))
      .queryExecution.executedPlan.toString
    // (the rendered PushedFilters list is length-truncated, so match the
    // first equality in full and the second by prefix)
    assert(plan.contains("PushedFilters: [IsNotNull(element_type), IsNotNull(file_type), " +
      "EqualTo(element_type,function), EqualTo(file_type"),
      s"filters not pushed:\n$plan")
  }

  test("file summaries carry counts and type map string") {
    val s = spark.read.parquet(s"$indexDir/file_summaries")
    val py = s.filter(org.apache.spark.sql.functions.col("file_path").endsWith("sample.py")).collect()(0)
    assert(py.getAs[Long]("element_count") > 3)
    assert(py.getAs[String]("elements_by_type_str").contains("function:"))
    assert(py.getAs[String]("file_type") == ".py")
  }

  test("bucketed index tables join on file_path with NO shuffle (co-located join)") {
    IndexBuild.writeBucketed(spark, indexDir, "graft_b", buckets = 4)
    // force the join shape a LARGE summaries side would get (no broadcast):
    // with both scans bucketed alike the SMJ needs no repartitioning
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = spark.table("graft_b_code_elements")
      val s = spark.table("graft_b_file_summaries")
      val joined = e.join(s, "file_path")
      // same result as the unbucketed join…
      val plainE = spark.read.parquet(s"$indexDir/code_elements")
      val plainS = spark.read.parquet(s"$indexDir/file_summaries")
      assert(joined.count() == plainE.join(plainS, "file_path").count())
      // …but with no shuffle: bucketed scans feed the join directly
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("compaction collapses incremental small files without changing content") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_compact").toString
    // simulate many tiny incremental appends
    val docs = Tables.documents(spark, TestSpark.sf).limit(40)
    docs.repartition(20).write.parquet(s"$dir/code_elements")
    def files() = new java.io.File(s"$dir/code_elements")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(s"$dir/code_elements")
      .orderBy("doc_id").collect().toSeq
    assert(files() >= 20)
    IndexBuild.compact(spark, dir, "code_elements")
    val after = spark.read.parquet(s"$dir/code_elements")
      .orderBy("doc_id").collect().toSeq
    assert(files() == 1, "tiny table must compact to a single file")
    assert(after == before, "compaction must not change content")
  }

  test("interrupted swap recovers: a table parked at _old is restored before any merge") {
    val dir = Files.createTempDirectory("graft_swap").toString
    val docs = Tables.documents(spark, TestSpark.sf).limit(20)
    docs.write.parquet(s"$dir/code_elements")
    val before = spark.read.parquet(s"$dir/code_elements")
      .orderBy("doc_id").collect().toSeq
    // simulate a crash between the swap's two renames: live table parked
    // aside, target missing
    val f = new java.io.File(s"$dir/code_elements")
    assert(f.renameTo(new java.io.File(s"$dir/code_elements_old")))
    // compact's entry recovery must first restore the table, then compact it
    IndexBuild.compact(spark, dir, "code_elements")
    val after = spark.read.parquet(s"$dir/code_elements")
      .orderBy("doc_id").collect().toSeq
    assert(after == before, "recovered table must carry the parked content")
    assert(!new java.io.File(s"$dir/code_elements_old").exists())
    // a full build over the unchanged tree must also see the parked table:
    // it embeds nothing and leaves the content as it was
    val idx = Files.createTempDirectory("graft_swap_run").toString
    IndexBuild.run(spark, projectDir, idx)
    // by column name: a merging run writes file_path first (the USING join)
    def content() = {
      val t = spark.read.parquet(s"$idx/code_elements")
      t.select(t.columns.sorted.map(t.col).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    }
    val built = content()
    assert(new java.io.File(s"$idx/code_elements")
      .renameTo(new java.io.File(s"$idx/code_elements_old")))
    val report = IndexBuild.run(spark, projectDir, idx).collect()(0)
    assert(report.getAs[Long]("elements_embedded") == 0,
      "run treated a parked index as absent and re-embedded the tree")
    assert(content() == built)
    assert(!new java.io.File(s"$idx/code_elements_old").exists())
  }

  test("swap recovery fails loudly when its rename fails, on the path's own FileSystem") {
    // the path's scheme picks a local FileSystem whose rename reports
    // failure by returning false, as Hadoop's FileSystem.rename contract
    // allows; the session's default FileSystem stays file:///
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${NoRenameFs.Scheme}.impl", classOf[NoRenameFs].getName)
    conf.setBoolean(s"fs.${NoRenameFs.Scheme}.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft_swap_norename").toString
    Files.createDirectories(Paths.get(s"$dir/code_elements_old"))
    val target = s"${NoRenameFs.Scheme}://$dir/code_elements"
    val e = intercept[java.io.IOException](graft.sources.SignatureLayout.recoverPath(spark, target))
    assert(e.getMessage.contains(s"$dir/code_elements_old") &&
      e.getMessage.contains(s"$dir/code_elements failed"), e.getMessage)
    assert(Files.isDirectory(Paths.get(s"$dir/code_elements_old")))
    assert(!Files.exists(Paths.get(s"$dir/code_elements")))
  }

  test("a failed swap-in puts the live relation back before it throws") {
    // SignatureLayout.swapIn (compaction, reband, the NB model): the
    // set-aside rename succeeds, the stage → live rename is refused
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${NoSwapInFs.Scheme}.impl", classOf[NoSwapInFs].getName)
    conf.setBoolean(s"fs.${NoSwapInFs.Scheme}.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft_swapin_norename").toString
    Files.createDirectories(Paths.get(s"$dir/bands"))
    Files.write(Paths.get(s"$dir/bands/part-0.parquet"), Array[Byte](1))
    Files.createDirectories(Paths.get(s"$dir/bands_stage"))
    val e = intercept[java.io.IOException](graft.sources.SignatureLayout.swapIn(spark,
      s"${NoSwapInFs.Scheme}://$dir/bands", s"${NoSwapInFs.Scheme}://$dir/bands_stage"))
    assert(e.getMessage.contains("swap-in"), e.getMessage)
    assert(Files.exists(Paths.get(s"$dir/bands/part-0.parquet")), "the live relation is gone")
    assert(!Files.exists(Paths.get(s"$dir/bands_old")))
    assert(Files.isDirectory(Paths.get(s"$dir/bands_stage")))
  }

  test("index upsert and compaction swap on the path's own FileSystem and keep the live table") {
    // the `_tmp` → live rename is refused on a non-default scheme; the swap
    // must run there (not on file:///) and put the live table back
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${NoSwapInFs.Scheme}.impl", classOf[NoSwapInFs].getName)
    conf.setBoolean(s"fs.${NoSwapInFs.Scheme}.impl.disable.cache", true)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_noswapin").toString
    Seq(("a.py", 1L), ("b.py", 2L)).toDF("file_path", "n").write.parquet(s"$dir/code_elements")
    def live() = spark.read.parquet(s"$dir/code_elements").orderBy("file_path").collect().toSeq
    val before = live()
    val e = intercept[java.io.IOException](IndexBuild.upsertIndex(spark,
      s"${NoSwapInFs.Scheme}://$dir", Seq(("b.py", 3L)).toDF("file_path", "n")))
    assert(e.getMessage.contains(s"swap-in ${NoSwapInFs.Scheme}:$dir/code_elements_tmp"), e.getMessage)
    assert(live() == before, "the live table is gone or changed")
    assert(!Files.exists(Paths.get(s"$dir/code_elements_old")))
    val c = intercept[java.io.IOException](
      IndexBuild.compact(spark, s"${NoSwapInFs.Scheme}://$dir", "code_elements"))
    assert(c.getMessage.contains("swap-in") && c.getMessage.contains("code_elements_compact_tmp"),
      c.getMessage)
    assert(live() == before, "the live table is gone or changed")
  }

  test("IVF layout: cluster-partitioned index prunes probes at the file level") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_ivf_layout").toString + "/ivf"
    graft.operators.Knn.ivfAssign(e, numCentroids = 8)
      .write.partitionBy("cluster").parquet(dir)
    val all = spark.read.parquet(dir)
    val probe = all.filter(col("cluster") === 0 || col("cluster") === 3)
    // the probe's scan carries partition filters — pruning happens at
    // file-listing time, not as a post-scan filter
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in:\n$plan")
    // and it physically reads fewer files than the full index
    val filesRead = probe.select(input_file_name()).distinct().count()
    val filesTotal = all.select(input_file_name()).distinct().count()
    assert(filesRead < filesTotal && probe.count() > 0)
  }

  test("summary search (Q2) ranks files by query similarity") {
    val hits = IndexBuild.searchSummaries(spark.read.parquet(s"$indexDir/file_summaries"),
      "file contains code elements", 2).collect()
    assert(hits.length == 2)
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(hits.forall(_.getAs[Double]("similarity") > 0.0))
  }
}

/** A local FileSystem under its own scheme whose `rename` always returns
  * false: the failure mode swap recovery must surface. */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${NoRenameFs.Scheme}:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    false
}

object NoRenameFs {
  val Scheme = "graftnorename"
}

/** A local FileSystem under its own scheme that refuses only renames out of
  * a `_stage` or `_tmp` dir: the swap-in failure a swap must recover from. */
class NoSwapInFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${NoSwapInFs.Scheme}:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.endsWith("_stage") && !src.getName.endsWith("_tmp") && super.rename(src, dst)
}

object NoSwapInFs {
  val Scheme = "graftnoswapin"

  /** Local `dir` under this scheme, registered on `spark`'s Hadoop conf. */
  def path(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[NoSwapInFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    s"$Scheme://$dir"
  }
}
