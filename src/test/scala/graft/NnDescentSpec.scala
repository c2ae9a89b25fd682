package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.{jobsDuring, jobsOf}
import graft.functions.VecExprs.dotc
import graft.operators.{Knn, NnDescent}
import graft.sources.GraphLayout

/** NN-descent k-NN-graph invariants on sf0.001; exact values are gated by
  * the DuckDB oracle at sf0.01 (q_knn_graph). */
class NnDescentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  private def recallOf(rounds: Int, k: Int): Double = {
    val g = NnDescent.knnGraph(emb, k = k, rounds = rounds)
      .select(col("vec_id").as("a"), col("nbr").as("b"))
    val exact = Knn.multiTopK(emb,
        emb.select(col("vec_id").as("qid"), col("embedding").as("qv")), k)
      .select(col("qid").as("a"), col("vec_id").as("b"))
    g.join(exact, Seq("a", "b")).count().toDouble / exact.count()
  }

  test("graph shape: <=k neighbors per node, sequential ranks, no self-loops, sims descend") {
    val rows = NnDescent.knnGraph(emb, k = 5, rounds = 1).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (id, g) =>
      val sorted = g.sortBy(_.getAs[Long]("rn"))
      assert(sorted.length <= 5)
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == (1L to sorted.length))
      assert(sorted.forall(_.getAs[Long]("nbr") != id))
      val sims = sorted.map(_.getAs[Double]("sim")).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("graph search: sequential ranks, descending sims, finds most of the exact top-k") {
    val g = graft.sources.GraphLayout.ensure(spark, emb, TestSpark.sf, k = 8)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val got = NnDescent.graphSearch(emb, g, q, k = 10).collect()
    assert(got.map(_.getAs[Long]("rank")).toSeq == (1L to got.length))
    val sims = got.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sorted.reverse)
    assert(got.forall(_.getAs[Long]("vec_id") != 0L))
    val exact = Knn.topK(emb, q, 10, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val hit = got.map(_.getAs[Long]("vec_id")).count(exact.contains)
    assert(hit >= 5, s"graph search found only $hit/10 of the exact top-10")
  }

  test("graph upsert: covers all nodes; old-node lists are rank-monotone under insertion") {
    val old = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7)
    val before = NnDescent.knnGraph(old, k = 8)
      .select(col("vec_id"), col("rn"), col("sim")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rn")) -> r.getAs[Double]("sim"))
      .toMap
    val after = NnDescent.graphUpsert(old, batch, k = 8).collect()
    val ids = after.map(_.getAs[Long]("vec_id")).toSet
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.subsetOf(ids), "every inserted node has a neighbor list")
    // rank-r similarity never decreases for old nodes (candidate superset)
    after.filter(r => !batchIds.contains(r.getAs[Long]("vec_id"))).foreach { r =>
      val key = (r.getAs[Long]("vec_id"), r.getAs[Long]("rn"))
      before.get(key).foreach { prev =>
        assert(r.getAs[Double]("sim") >= prev - 1e-9,
          s"old node $key regressed: ${r.getAs[Double]("sim")} < $prev")
      }
    }
  }

  test("filtered graph search: every hit satisfies the predicate and appears in the exact filtered ranking's label set") {
    val g = graft.sources.GraphLayout.ensure(spark, emb, TestSpark.sf, k = 8)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val got = NnDescent.graphSearch(emb, g, q, k = 5, beam = 16,
      pred = Some(col("label") === 3)).collect()
    assert(got.nonEmpty)
    val lab3 = emb.filter(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(r => lab3.contains(r.getAs[Long]("vec_id"))))
    assert(got.map(_.getAs[Long]("rank")).toSeq == (1L to got.length))
  }

  test("batched walk is the single walk: multiGraphSearch({0}) equals graphSearch(excludeId=0)") {
    val g = graft.sources.GraphLayout.ensure(spark, emb, TestSpark.sf, k = 8)
    val q1 = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val single = NnDescent.graphSearch(emb, g, q1, k = 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val qm = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val multi = NnDescent.multiGraphSearch(emb, g, qm, k = 10)
      .collect().map(r => (r.getAs[Long]("rn"), r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(single == multi)
  }

  /** The join + localCheckpoint beam walk that [[NnDescent.graphSearch]]
    * replaced, kept verbatim as the parity oracle. */
  private def joinWalk(index: DataFrame, graph: DataFrame, queryVec: DataFrame,
                       k: Int, beam: Int, hops: Int, excludeId: Long,
                       pred: Option[Column], signs: Option[DataFrame]): DataFrame = {
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val v = index.filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
    def score(ids: DataFrame): DataFrame = ids
      .join(v, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dotc(col("ed"), col("qe")) / (col("nrm") * col("qn"))).as("s"))
    val edges = graph.select(col("vec_id"), col("nbr"))
      .filter(col("nbr") =!= excludeId)
    val bands = NnDescent.bandKeysOfSigns(
      signs.getOrElse(NnDescent.signsOf(index, 4)), 16)
    val qb = bands.filter(col("vec_id") === excludeId).select("t", "bkey")
    val lshSeeds = bands.filter(col("vec_id") =!= excludeId)
      .join(broadcast(qb), Seq("t", "bkey"))
      .select("vec_id").distinct()
    val seeds = lshSeeds
      .union(v.select("vec_id").orderBy(asc("vec_id")).limit(beam))
      .distinct()
    var visited = score(seeds).localCheckpoint(true)
    for (_ <- 1 to hops) {
      val b = visited.orderBy(desc("s"), asc("vec_id")).limit(beam)
        .select("vec_id")
      val frontier = edges.join(b, "vec_id")
        .select(col("nbr").as("vec_id")).distinct()
        .join(visited.select("vec_id"), Seq("vec_id"), "left_anti")
      visited = visited.union(score(frontier)).localCheckpoint(true)
    }
    val selected = pred match {
      case Some(p) => visited.join(index.filter(p).select("vec_id"), "vec_id")
      case None => visited
    }
    selected.orderBy(desc("s"), asc("vec_id")).limit(k)
      .coalesce(1).sortWithinPartitions(desc("s"), asc("vec_id"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("long"))
      .select(col("rank"), col("vec_id"), round(col("s"), 6).as("sim"))
      .orderBy("rank")
  }

  test("driver-held walk == the join + localCheckpoint walk, row for row") {
    val (g, sg) = GraphLayout.ensureArt(spark, emb, TestSpark.sf, k = 8)
    def qv(id: Long) = emb.filter(col("vec_id") === id).select(col("embedding").as("qv"))
    val ids = emb.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    val without42 = emb.filter(col("vec_id") =!= 42L)
    val small = emb.filter(col("vec_id") < 20L)
    val lab3 = Some(col("label") === 3)
    // 100 vectors and their copies under new ids, over their own graph
    // (collected: a local relation), so the walk meets exact score ties
    val dups = emb.filter(col("vec_id") < 100L).select("vec_id", "embedding")
    val dupIdx = dups.unionByName(dups.withColumn("vec_id", col("vec_id") + 1000000L))
    val dupG = NnDescent.knnGraph(dupIdx, k = 8)
    val dupGraph = spark.createDataFrame(
      java.util.Arrays.asList(dupG.collect(): _*), dupG.schema)
    // (label, index, query id, k, beam, hops, pred, signs)
    val cases = Seq[(String, DataFrame, Long, Int, Int, Int, Option[Column], Option[DataFrame])](
      ("query 0", emb, 0L, 10, 8, 3, None, Some(sg)),
      ("query 7, signs None", emb, 7L, 10, 8, 3, None, None),
      ("query 123", emb, 123L, 10, 8, 3, None, Some(sg)),
      ("last id", emb, ids.last, 10, 8, 3, None, Some(sg)),
      ("excludeId absent from index and signs", without42, 42L, 10, 8, 3, None,
        Some(NnDescent.signsOf(without42, 4))),
      ("excludeId absent, signs None", without42, 42L, 10, 8, 3, None, None),
      ("beam >= |index|", small, 3L, 5, 32, 3, None, None),
      ("hops 0", emb, 11L, 10, 8, 0, None, Some(sg)),
      ("hops 1", emb, 11L, 10, 8, 1, None, Some(sg)),
      ("label 3, beam 16", emb, 0L, 5, 16, 3, lab3, Some(sg)),
      ("label 3, signs None", emb, 19L, 5, 16, 2, lab3, None))
    cases.foreach { case (what, index, id, k, beam, hops, pred, signs) =>
      val got = NnDescent.graphSearch(index, g, qv(id), k = k, beam = beam,
        hops = hops, excludeId = id, pred = pred, signs = signs)
      val want = joinWalk(index, g, qv(id), k, beam, hops, id, pred, signs)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)), what)
      val rows = got.collect().map(_.toString).toSeq
      assert(rows.nonEmpty, what)
      assert(rows == want.collect().map(_.toString).toSeq, what)
    }
    val tied = NnDescent.graphSearch(dupIdx, dupGraph, qv(3L), excludeId = 3L).collect()
    val sims = tied.map(_.getAs[Double]("sim"))
    assert(sims.distinct.length < sims.length, "no tie reached the result")
    assert(tied.map(_.toString).toSeq == joinWalk(dupIdx, dupGraph, qv(3L), 10, 8, 3, 3L,
      None, None).collect().map(_.toString).toSeq)
    // no query row: empty, as the cross join with an empty query gave
    assert(NnDescent.graphSearch(emb, g, qv(-1L), signs = Some(sg)).collect().isEmpty)
    intercept[IllegalArgumentException] {
      NnDescent.graphSearch(emb, g, emb.limit(2).select(col("embedding").as("qv")))
    }
  }

  test("graphSearch runs at most hops + 6 jobs and leaves nothing persisted") {
    // the maintain benchmark's call shape: a query DataFrame over parquet,
    // the stored graph and sign relation, hops = 3
    val (g, sg) = GraphLayout.ensureArt(spark, emb, TestSpark.sf, k = 8)
    val index = emb.filter(col("vec_id") < 400L)
    val q = emb.filter(col("vec_id") === 5L).select(col("embedding").as("qv"))
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    val cached = spark.sharedState.cacheManager.isEmpty
    val conf = spark.conf.getAll
    var n = 0
    // query row, count (map stage + result), LSH seeds, lowest ids, and
    // one score + expand job per scored set: 1 + 2 + 1 + 1 + (hops + 1)
    val jobs = jobsOf {
      n = NnDescent.graphSearch(index, g, q, excludeId = 5L, signs = Some(sg))
        .collect().length
    }
    assert(n == 10)
    assert(jobs == 9, s"$jobs jobs")
    assert(sc.getPersistentRDDs.keySet == rdds, "an RDD was left persisted")
    assert(spark.sharedState.cacheManager.isEmpty == cached, "a relation was left cached")
    assert(spark.conf.getAll == conf, "a session conf was changed")
  }

  test("upsertStored job count on an sf0.001 artifact") {
    import java.nio.file.Files
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7).select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_graph_jobs").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      // the pin's shape: 32 buckets, which the rows rule no longer gives here
      GraphLayout.writeBase(spark, base, dir, k = 8, buckets = 32)
      assert(GraphLayout.storedBuckets(spark, dir) == 32)
      // counts every job, from any thread: the upsert commits from Futures.
      // The batch collect, the band probe, the mates' lists and vectors (on
      // a 450-vector base every stored id is a bucket mate, so the hop and
      // re-cut levels have nothing left to fetch) and the touched buckets'
      // untouched graph rows; the driver writes every staged file itself
      val jobs = jobsDuring(GraphLayout.upsertStored(spark, dir, batch, "mb-0", k = 8))
      assert(jobs == 4, s"$jobs jobs")
    } finally rm(new java.io.File(dir))
  }

  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree); f.delete(); ()
  }

  /** A frozen band parameter (`bits` or `pparts`) from the `_graft_bands` sidecar. */
  private def bandParam(dir: String, key: String): Int = {
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_graft_bands")), "UTF-8")
    meta.split(";").map(_.split(":")).collectFirst { case Array(`key`, v) => v.toInt }.get
  }

  /** The files of the artifact at `dir`, which `batches` were upserted into
    * as `mb-<i>`, sit where Spark's writes put them: every row in the file
    * of its bucket or the dir of its `pb=` partition, graph files sorted by
    * (vec_id, rn), the upserts' footers with each relation's schema. */
  private def assertPlacement(dir: String, batches: Seq[DataFrame]): Unit = {
    import org.apache.spark.sql.types.{DataType, StructType}
    def files(f: java.io.File): Seq[java.io.File] = Option(f.listFiles()).toSeq.flatten
      .flatMap(c => if (c.isDirectory) files(c) else Seq(c))
      .filter(_.getName.endsWith(".parquet"))
    // the Spark schema a file's writer recorded in its footer, nullability included
    def footer(f: java.io.File): StructType = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try DataType.fromJson(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
      finally r.close()
    }
    val buckets = GraphLayout.storedBuckets(spark, dir)
    val Seq(bits, pparts) = Seq("bits", "pparts").map(bandParam(dir, _))
    val fileId = regexp_extract(input_file_name(), "_(\\d+)\\.[^/]*$", 1).cast("int")
    for (rel <- Seq("graph", "vectors")) {
      val bad = spark.read.parquet(s"$dir/$rel")
        .filter(fileId =!= pmod(hash(col("vec_id")), lit(buckets))).count()
      assert(bad == 0, s"$rel: $bad rows in a file named for another bucket")
    }
    val badBands = spark.read.parquet(s"$dir/bands")
      .filter(regexp_extract(input_file_name(), "/pb=(\\d+)/", 1).cast("int") =!=
        pmod(hash(col("t"), col("bkey")), lit(pparts))).count()
    assert(badBands == 0, s"bands: $badBands rows under another pb= dir")
    // graph files in the bucketed write's sort: (vec_id, rn) within each file
    val inFile = spark.read.parquet(s"$dir/graph")
      .select(input_file_name(), col("vec_id"), col("rn")).collect()
      .groupBy(_.getString(0)).values
    inFile.foreach { rs =>
      val keys = rs.map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(keys == keys.sorted, s"${rs.head.getString(0)} is not sorted by (vec_id, rn)")
    }
    // the upserts' files carry the schema each relation's Spark write had
    val sg = NnDescent.signsOf(batches.head, 4)
    val want = Map(
      "graph" -> StructType.fromDDL("vec_id LONG, nbr LONG, rn LONG, sim DOUBLE"),
      "vectors" -> batches.head.schema,
      "signs" -> sg.schema,
      "bands" -> NnDescent.bandKeysAt(sg, bits).schema)
    for ((rel, schema) <- want) {
      val written = files(new java.io.File(s"$dir/$rel")).filter(_.getName.startsWith("mb-"))
      assert(written.nonEmpty, s"$rel: no upsert file")
      written.foreach(f => assert(footer(f) == schema, s"$rel: ${f.getName}: ${footer(f)}"))
    }
    // and the catalog's bucketed read sees exactly the files' rows
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(sorted(GraphLayout.readGraph(spark, dir)) == sorted(spark.read.parquet(s"$dir/graph")))
  }

  test("upsertStored's driver-written files sit where Spark's writes put them") {
    val base = emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 3)
    val batches = Seq(7, 3).map(m => emb.filter(col("vec_id") % 10 === m).select("vec_id", "embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_graph_place").toString
    try {
      // 32 buckets: many wrong files for a misplaced row to land in
      GraphLayout.writeBase(spark, base, dir, k = 8, buckets = 32)
      assert(GraphLayout.storedBuckets(spark, dir) == 32)
      batches.zipWithIndex.foreach { case (b, i) =>
        GraphLayout.upsertStored(spark, dir, b, s"mb-$i", k = 8)
      }
      assertPlacement(dir, batches)
    } finally rmTree(new java.io.File(dir))
  }

  test("writeBase sizes buckets and pb= partitions by the rows alone; upserts and a search equal a 32-bucket artifact's") {
    // (base, two batches): the sf0.001 shape (400 + 2 × 50 vectors), and a
    // one-bucket artifact (120 vectors, n·k = 960 < 1,000) with two 40-vector batches
    val shapes = Seq(
      (emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 3),
        Seq(7, 3).map(m => emb.filter(col("vec_id") % 10 === m))),
      (emb.filter(col("vec_id") < 120L),
        Seq(120L, 160L).map(lo => emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 40L))))
    val (k, tables) = (8, 4)
    val q = emb.filter(col("vec_id") === 5L).select(col("embedding").as("qv"))
    for ((base, bs) <- shapes) {
      val batches = bs.map(_.select("vec_id", "embedding"))
      val n = base.count()
      val index = batches.foldLeft(base.select("vec_id", "embedding"))(_.unionByName(_))
      // the stored (buckets, pparts), the graph rows after both upserts and
      // one search's answer, of an artifact written with `buckets`
      def run(buckets: Int) = {
        val dir = java.nio.file.Files.createTempDirectory("graft_graph_grain").toString
        try {
          GraphLayout.writeBase(spark, base, dir, k = k, tables = tables, buckets = buckets)
          val counts = (GraphLayout.storedBuckets(spark, dir), bandParam(dir, "pparts"))
          batches.zipWithIndex.foreach { case (b, i) =>
            GraphLayout.upsertStored(spark, dir, b, s"mb-$i", k = k, tables = tables)
          }
          if (buckets == 0) assertPlacement(dir, batches)
          val graph = GraphLayout.readGraph(spark, dir).collect().map(_.toString).sorted.toSeq
          val hits = NnDescent.graphSearch(index, GraphLayout.readGraph(spark, dir), q,
              excludeId = 5L, tables = tables, signs = Some(spark.read.parquet(s"$dir/signs")))
            .collect().map(_.toString).toSeq
          (counts, graph, hits)
        } finally rmTree(new java.io.File(dir))
      }
      val (auto, autoGraph, autoHits) = run(0)
      val (fixed, fixedGraph, fixedHits) = run(32)
      // ~500 rows per bucket and per pb= dir, at least one: no floor of 32
      val want = (math.max(1L, n * k / 500).toInt, math.max(1L, n * tables / 500).toInt)
      assert(auto == want, s"n=$n")
      assert(auto == (GraphLayout.bucketsFor(n * k), GraphLayout.bandPartsFor(n * tables)))
      assert(fixed == (32, want._2))
      assert(autoGraph.nonEmpty && autoGraph == fixedGraph, s"n=$n: the graphs differ")
      assert(autoHits.nonEmpty && autoHits == fixedHits, s"n=$n: the searches differ")
    }
  }

  test("upsertStored leaves nothing persisted") {
    import java.nio.file.Files
    val base = emb.filter(col("vec_id") < 380L)
    val dir = Files.createTempDirectory("graft_graph_persist").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      GraphLayout.writeBase(spark, base, dir, k = 8)
      val sc = spark.sparkContext
      for (lo <- Seq(380L, 420L)) {
        val rdds = sc.getPersistentRDDs.keySet
        val cached = spark.sharedState.cacheManager.isEmpty
        val conf = spark.conf.getAll
        GraphLayout.upsertStored(spark, dir, emb.filter(col("vec_id") >= lo &&
          col("vec_id") < lo + 40L).select("vec_id", "embedding"), s"mb-$lo", k = 8)
        assert(sc.getPersistentRDDs.keySet == rdds, "an RDD was left persisted")
        assert(spark.sharedState.cacheManager.isEmpty == cached, "a relation was left cached")
        assert(spark.conf.getAll == conf, "a session conf was changed")
      }
      assert(GraphLayout.readGraph(spark, dir).select("vec_id").distinct().count() == 460L)
    } finally rm(new java.io.File(dir))
  }

  test("writeBase leaves nothing persisted") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_graph_base_persist").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      val sc = spark.sparkContext
      val rdds = sc.getPersistentRDDs.keySet
      val cached = spark.sharedState.cacheManager.isEmpty
      val conf = spark.conf.getAll
      // two NN-descent rounds: three round checkpoints, none may stay
      GraphLayout.writeBase(spark, emb.filter(col("vec_id") < 300L), dir, k = 8, rounds = 2)
      val left = sc.getPersistentRDDs.keySet -- rdds
      assert(left.isEmpty, s"RDDs left persisted: $left")
      assert(spark.sharedState.cacheManager.isEmpty == cached, "a relation was left cached")
      assert(spark.conf.getAll == conf, "a session conf was changed")
      assert(GraphLayout.readGraph(spark, dir).select("vec_id").distinct().count() == 300L)
    } finally rm(new java.io.File(dir))
  }

  test("streamed graph maintenance across forced micro-batches equals sequential stored-graph upserts") {
    import graft.streaming.StreamOps
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_graph_src").toFile
    val artDir = java.nio.file.Files.createTempDirectory("graft_stream_graph_art").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      val b1 = emb.filter(col("vec_id") % 10 === 7)
      val b2 = emb.filter(col("vec_id") % 10 === 3)
      b1.coalesce(1).write.parquet(s"${srcDir.getAbsolutePath}/b1.parquet")
      b2.coalesce(1).write.parquet(s"${srcDir.getAbsolutePath}/b2.parquet")
      val base = emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 3)
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(srcDir.getAbsolutePath)
      val got = StreamOps.streamedGraphMaintenanceOf(spark, base, stream, artDir, k = 8)
        .collect().map(_.toString).toSeq
      // sequential expectation: upsert b1 against the base graph, then b2
      // against the once-updated graph + accumulated vectors — band width
      // FROZEN at the base snapshot for every batch (round-13: the stored
      // artifact records bits in its sidecar at writeBase time), which
      // also pins that the stored-band PRUNED probe is IO-only (the
      // expectation re-keys full signs at the same frozen width)
      val bits = NnDescent.bitsFor(base.count(), 16)
      val g0 = NnDescent.knnGraph(base, k = 8)
        .select(col("vec_id").as("a"), col("nbr").as("b"))
      val g1 = NnDescent.graphUpsertWith(base, g0, b1, k = 8,
        frozenBits = Some(bits))
      val g2 = NnDescent.graphUpsertWith(
        base.unionByName(b1),
        g1.select(col("vec_id").as("a"), col("nbr").as("b")),
        b2, k = 8, frozenBits = Some(bits))
      val want = g2.collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      assert(got == want,
        "micro-batch maintenance must equal sequential stored-graph upserts")
    } finally { rm(srcDir); rm(new java.io.File(artDir)) }
  }

  test("graph artifact self-heals a swap crashed between its two renames") {
    import java.nio.file.{Files, Paths}
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val dir = Files.createTempDirectory("graft_graph_crash").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      graft.sources.GraphLayout.writeBase(spark, base, dir, k = 5)
      val before = graft.sources.GraphLayout.readGraph(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      // simulate the unsafe window: live renamed aside, stage lost
      Files.move(Paths.get(s"$dir/graph"), Paths.get(s"$dir/graph_old"))
      val after = graft.sources.GraphLayout.readGraph(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(after == before, "recovery must restore the set-aside graph")
      // and the next upsert runs against the recovered artifact
      Files.move(Paths.get(s"$dir/graph"), Paths.get(s"$dir/graph_old"))
      graft.sources.GraphLayout.upsertStored(spark, dir,
        emb.filter(col("vec_id") % 10 === 7).select("vec_id", "embedding"), "mb-x", k = 5)
      val ids = graft.sources.GraphLayout.readGraph(spark, dir)
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(emb.filter(col("vec_id") % 10 === 7).select("vec_id")
        .collect().map(_.getLong(0)).toSet.subsetOf(ids))
    } finally rm(new java.io.File(dir))
  }

  test("delta upsert ∪ untouched stored lists equals the full upsert") {
    def local(df: DataFrame) =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    def rows(df: DataFrame) = df.orderBy(col("vec_id"), col("rn")).collect().map(_.toString).toSeq
    // (old vectors, their stored graph, batch) → the delta, checked against
    // graphUpsertWith at the same band width composed as the bucket-confined
    // commit composes it: stored lists of untouched ids verbatim ∪ delta
    def check(what: String, old: DataFrame, g0full: DataFrame, batch: DataFrame): DataFrame = {
      val bits = NnDescent.bitsFor(old.count(), 16)
      val full = NnDescent.graphUpsertWith(old, g0full.select(col("vec_id").as("a"),
        col("nbr").as("b")), batch, k = 8, frozenBits = Some(bits))
      val signs = NnDescent.signsOf(old, 4)
      val delta = NnDescent.graphUpsertDelta(_ => old, _ => g0full,
        _ => NnDescent.bandKeysAt(signs, bits), batch, 8, 4, bits)
      val composed = g0full
        .join(delta.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .unionByName(delta)
      assert(delta.schema.map(f => (f.name, f.dataType)) ==
        full.schema.map(f => (f.name, f.dataType)), what)
      assert(rows(composed) == rows(full),
        s"$what: untouched stored rows + delta must reproduce the full upsert bit-for-bit")
      delta
    }
    val vecs = emb.select("vec_id", "embedding")
    val old = local(vecs.filter(col("vec_id") % 10 =!= 7))
    val batch = local(vecs.filter(col("vec_id") % 10 === 7))
    val g0 = local(NnDescent.knnGraph(old, k = 8))
    val delta = check("sf0.001 batch", old, g0, batch)
    // and the delta really is confined: strictly fewer lists than the corpus
    val nDelta = delta.select("vec_id").distinct().count()
    assert(nDelta < old.count() + batch.count(), s"delta covers $nDelta lists — not confined")

    // a replayed batch: its ids already in the stored vectors, graph, signs
    // and bands (the state after the first commit)
    val absorbed = local(NnDescent.graphUpsertWith(old, g0.select(col("vec_id").as("a"),
      col("nbr").as("b")), batch, k = 8, frozenBits = Some(NnDescent.bitsFor(old.count(), 16))))
    check("replayed batch", local(old.unionByName(batch)), absorbed, batch)

    // exact score ties: copies of vectors under new ids, in the base and in
    // the batch, so equal scores compete for the same ranks
    val small = vecs.filter(col("vec_id") < 200L)
    val tOld = local(small.filter(col("vec_id") % 10 =!= 7).unionByName(
      small.filter(col("vec_id") % 10 === 1).withColumn("vec_id", col("vec_id") + 1000000L)))
    val tBatch = local(small.filter(col("vec_id") % 10 === 7).unionByName(
      small.filter(col("vec_id") % 20 === 7).withColumn("vec_id", col("vec_id") + 2000000L)))
    val tied = check("exact ties", tOld, local(NnDescent.knnGraph(tOld, k = 8)), tBatch)
      .collect().groupBy(_.getLong(0)).values
    assert(tied.exists(l => l.map(_.getDouble(3)).distinct.length < l.length),
      "no tie reached a delta list")

    // an empty base: every list is a batch list
    val none = local(vecs.filter(lit(false)))
    val noGraph = local(g0.filter(lit(false)))
    val fromEmpty = check("empty base", none, noGraph, local(vecs.filter(col("vec_id") < 60L)))
    assert(fromEmpty.select("vec_id").distinct().count() == 60L)
  }

  test("upsertStored in the reband crash window uses the post-insert width") {
    import java.nio.file.{Files, Paths}
    // base 64 vectors: frozen bits = 2; base + batch = 200: bits = 3
    val vecs = emb.select("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") < 64L)
    val batch = vecs.filter(col("vec_id") >= 64L && col("vec_id") < 200L)
    assert(NnDescent.bitsFor(64, 16) != NnDescent.bitsFor(200, 16))
    val dir = Files.createTempDirectory("graft_graph_window").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      GraphLayout.writeBase(spark, base, dir, k = 8)
      // rebandStored deletes the sidecar first and rewrites it last
      Files.delete(Paths.get(s"$dir/_graft_bands"))
      GraphLayout.upsertStored(spark, dir, batch, "mb-0", k = 8)
      val got = GraphLayout.readGraph(spark, dir).collect().map(_.toString).sorted.toSeq
      val want = NnDescent.graphUpsertWith(base, NnDescent.knnGraph(base, k = 8)
          .select(col("vec_id").as("a"), col("nbr").as("b")), batch, k = 8)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, "the window must upsert at bitsFor of the post-insert count")
    } finally rm(new java.io.File(dir))
  }

  test("bucket-confined commit self-heals a crash mid-rename (marker + stage present)") {
    import java.nio.file.{Files, Paths}
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val dir = Files.createTempDirectory("graft_graph_bkcrash").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      graft.sources.GraphLayout.writeBase(spark, base, dir, k = 5)
      graft.sources.GraphLayout.upsertStored(spark, dir,
        emb.filter(col("vec_id") % 10 === 7).select("vec_id", "embedding"),
        "mb-0", k = 5)
      val want = graft.sources.GraphLayout.readGraph(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      // simulate a crash mid-commit: one committed bucket file moved back
      // into the stage under its original name, marker restored
      val committed = new java.io.File(s"$dir/graph").listFiles()
        .filter(_.getName.startsWith("mb-0g.")).minBy(_.getName)
      val tag = committed.getName.substring(0, committed.getName.indexOf("-part-"))
      val orig = committed.getName.drop(tag.length + 1)
      Files.createDirectories(Paths.get(s"$dir/graph_stage"))
      Files.move(committed.toPath, Paths.get(s"$dir/graph_stage/$orig"))
      Files.write(Paths.get(s"$dir/graph/_graft_replace"),
        tag.getBytes("UTF-8"))
      val got = graft.sources.GraphLayout.readGraph(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, "recovery must finish the interrupted bucket commit")
      assert(!Files.exists(Paths.get(s"$dir/graph/_graft_replace")),
        "marker must be consumed")
      assert(!Files.exists(Paths.get(s"$dir/graph_stage")),
        "stage must be consumed")
    } finally rm(new java.io.File(dir))
  }

  test("frozen-bits upsert equals the in-plan form at snapshot time") {
    val old = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7)
    val bitsBase = NnDescent.bitsFor(old.count(), 16)
    // precondition of the equivalence: the batch doesn't cross a width
    // boundary at this scale (if it ever does, the gate — which pins the
    // frozen form — is the authority, and this spec should shrink `batch`)
    assert(bitsBase == NnDescent.bitsFor(emb.count(), 16),
      "test slices must agree on band width for this equivalence")
    val g0 = NnDescent.knnGraph(old, k = 8)
      .select(col("vec_id").as("a"), col("nbr").as("b"))
    val inPlan = NnDescent.graphUpsertWith(old, g0, batch, k = 8)
      .collect().map(_.toString).toSeq
    val frozen = NnDescent.graphUpsertWith(old, g0, batch, k = 8,
      frozenBits = Some(bitsBase))
      .collect().map(_.toString).toSeq
    assert(frozen == inPlan)
  }

  test("reband rewrites the stored band relation when the corpus crosses a width boundary") {
    import java.nio.file.Files
    // base 64 vectors: bits = clamp(2,16,floor(log2(64/16))) = 2; the full
    // corpus (~hundreds at sf0.001) crosses at least one boundary
    val base = emb.filter(col("vec_id") < 64)
    val rest = emb.filter(col("vec_id") >= 64).select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_graph_reband").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      graft.sources.GraphLayout.writeBase(spark, base, dir, k = 5)
      graft.sources.GraphLayout.upsertStored(spark, dir, rest, "mb-0", k = 5)
      val n = emb.count()
      val (before, after) = graft.sources.GraphLayout.rebandStored(spark, dir)
      assert(before == NnDescent.bitsFor(64, 16))
      assert(after == NnDescent.bitsFor(n, 16))
      assert(after > before, s"corpus grew $n/64× but width stayed $before")
      // idempotent once current
      assert(graft.sources.GraphLayout.rebandStored(spark, dir) == (after, after))
      // and the re-banded artifact still maintains: another upsert works
      // against the new width (replay of mb-0 — content unchanged)
      graft.sources.GraphLayout.upsertStored(spark, dir, rest, "mb-1", k = 5)
      val ids = graft.sources.GraphLayout.readGraph(spark, dir)
        .select("vec_id").distinct().count()
      assert(ids == n, "every vector keeps an adjacency list through reband")
    } finally rm(new java.io.File(dir))
  }

  test("batch replay loses no adjacency lists even when its touched-bucket set diverges") {
    import java.nio.file.Files
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7).select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_graph_replay").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      // 32 buckets, so a replay's touched-bucket set has room to diverge
      // (the rows rule gives 4 here, every one touched by either commit)
      graft.sources.GraphLayout.writeBase(spark, base, dir, k = 5, buckets = 32)
      assert(graft.sources.GraphLayout.storedBuckets(spark, dir) == 32)
      graft.sources.GraphLayout.upsertStored(spark, dir, batch, "mb-0", k = 5)
      // crash-replay shape: the same batchId re-applied against state that
      // already absorbed it — the recomputed delta (and hence the touched
      // bucket set) can DIVERGE from the first commit's, so buckets touched
      // only by the first commit must keep their content (the r12 ADVICE
      // high: a prefix-wide pre-delete silently dropped them)
      graft.sources.GraphLayout.upsertStored(spark, dir, batch, "mb-0", k = 5)
      val rows = graft.sources.GraphLayout.readGraph(spark, dir).collect()
      val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
      val gotIds = rows.map(_.getAs[Long]("vec_id")).toSet
      assert(gotIds == allIds,
        s"replay lost ${(allIds -- gotIds).size} adjacency lists")
      // and no id carries duplicate lists: ranks are 1..len exactly once
      rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (id, g) =>
        val rns = g.map(_.getAs[Long]("rn")).sorted.toSeq
        assert(rns == (1L to rns.length), s"node $id has duplicate/gapped ranks: $rns")
      }
    } finally rm(new java.io.File(dir))
  }

  test("upsertStored refuses a batch over its row ceiling, naming writeBase") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_graph_ceiling").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    def files(f: java.io.File): Seq[String] = Option(f.listFiles()).toSeq.flatten
      .flatMap(c => if (c.isDirectory) files(c) else Seq(s"${c.getPath}:${c.length}")).sorted
    try {
      GraphLayout.writeBase(spark, emb.filter(col("vec_id") < 64L), dir, k = 8)
      val before = files(new java.io.File(dir))
      val over = spark.range(GraphLayout.MaxUpsertRows + 1L).select(
        (col("id") + 1000000L).as("vec_id"), array(lit(1.0f), lit(0.0f)).as("embedding"))
      val e = intercept[IllegalArgumentException] {
        GraphLayout.upsertStored(spark, dir, over, "mb-0", k = 8)
      }
      assert(e.getMessage.contains("writeBase"), e.getMessage)
      assert(files(new java.io.File(dir)) == before, "a refused batch must not touch the artifact")
    } finally rm(new java.io.File(dir))
  }

  test("upsertStored rejects a base without its _graft_buckets sidecar") {
    import java.nio.file.{Files, Paths}
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7).select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_graph_nospec").toString
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    try {
      graft.sources.GraphLayout.writeBase(spark, base, dir, k = 5)
      def files() = new java.io.File(s"$dir/graph").listFiles().map(_.getName).sorted.toSeq
      val before = files()
      // the sidecar is written last: without it the directory is an old
      // pre-bucketing artifact or a crashed, partial writeBase
      Files.delete(Paths.get(s"$dir/_graft_buckets"))
      val e = intercept[IllegalArgumentException] {
        graft.sources.GraphLayout.upsertStored(spark, dir, batch, "mb-0", k = 5)
      }
      assert(e.getMessage.contains("writeBase"), e.getMessage)
      assert(files() == before, "a rejected upsert must not touch the graph")
    } finally rm(new java.io.File(dir))
  }

  test("refinement is monotone: recall never regresses with more rounds") {
    val r0 = recallOf(0, 6)
    val r2 = recallOf(2, 6)
    assert(r2 >= r0)
    assert(r2 > 0.5, s"2-round recall $r2 suspiciously low on a ${emb.count()}-vector corpus")
  }
}
