package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Try
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Graft
import graft.operators.{Curation, Dedup, NnDescent}
import graft.sources.{GraphLayout, PairsLayout}

object Util {
  def lines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.nonEmpty).toIndexedSeq

  def walk(root: String): Seq[File] = {
    val r = new File(root)
    if (!r.exists) Nil
    else Files.walk(r.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq
  }

  /** Bytes on disk under `root`. */
  def dirBytes(root: String): Long = walk(root).map(_.length).sum

  /** Live parquet data files under `root`. */
  def parquetFiles(root: String): Int = walk(root).count(_.getName.endsWith(".parquet"))

  /** (relative path -> (size, mtime)) of the files under `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val base = new File(root).toPath
    walk(root).map(f => base.relativize(f.toPath).toString -> (f.length, f.lastModified)).toMap
  }

  /** Files of one directory tree as (relative path, content). */
  def readTree(root: String): Seq[(String, String)] = {
    val base = new File(root).toPath
    walk(root).map(f => base.relativize(f.toPath).toString ->
      new String(Files.readAllBytes(f.toPath), UTF_8)).sortBy(_._1)
  }

  def writeFile(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(UTF_8))
  }

  def copyTree(from: String, to: String): Unit = {
    val base = new File(from).toPath
    walk(from).foreach { f =>
      val dst = Paths.get(to).resolve(base.relativize(f.toPath))
      Files.createDirectories(dst.getParent)
      Files.copy(f.toPath, dst)
    }
  }

  def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .write.mode("overwrite").parquet(path)

  def median(xs: Seq[Double]): Double = Main.percentile(xs, 0.5)

  def nonIncreasing(xs: Seq[Double]): Boolean = xs.zip(xs.drop(1)).forall { case (a, b) => b <= a }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def msOf(ops: Seq[OpRec], kinds: String*): Seq[Double] =
    ops.filter(o => o.phase == "timed" && kinds.contains(o.kind)).map(_.ms)

  def stats(name: String, xs: Seq[Double], scale: Double = 1.0): Map[String, Any] =
    Map(name -> median(xs.map(_ * scale)), s"$name.n" -> xs.size)
}

object CodeIndexOps {
  /** The engine's DuckDB mirrors check.py re-answers searches with: the
    * query's dense embedding and the cosine against stored embeddings. */
  val duckSql: Map[String, Any] = Map(
    "embed_ctes_sql" -> graft.functions.Embedder.duckDenseEmbCtes("q"),
    "cosine_sql" -> graft.functions.VectorFns.duckCosine("c.embedding", "emb.e"))
}

/** Read-path ops shared by the code-index workloads, each with its checks. */
trait CodeIndexOps {
  def spark: SparkSession
  def idx: String
  val K = 10
  val FileK = 5
  val ContextMax = 20

  def searchCode(q: String, et: Option[String], ft: Option[String]): Op =
    Op("Graft.searchCode",
      () => Graft.searchCode(spark, idx, q, K, et.toSeq, ft).collect(),
      r => {
        val rows = r.asInstanceOf[Array[Row]]
        val sims = rows.map(_.getAs[Double]("similarity")).toSeq
        val err =
          if (rows.length > K) Some(s"${rows.length} rows > k=$K")
          else if (!Util.nonIncreasing(sims)) Some("similarity not non-increasing")
          else if (et.exists(t => rows.exists(_.getAs[String]("element_type") != t)))
            Some("element_type filter violated")
          else if (ft.exists(t => rows.exists(!_.getAs[String]("file_path").endsWith(t))))
            Some("file_type filter violated")
          else None
        (err, Map("query" -> q, "k" -> K, "element_type" -> et, "file_type" -> ft,
          "ids" -> rows.map(_.getAs[String]("id")).toSeq, "sims" -> sims))
      })

  def searchFiles(q: String): Op =
    Op("Graft.searchFiles",
      () => Graft.searchFiles(spark, idx, q, FileK).collect(),
      r => {
        val rows = r.asInstanceOf[Array[Row]]
        val sims = rows.map(_.getAs[Double]("similarity")).toSeq
        val err =
          if (rows.length > FileK) Some(s"${rows.length} rows > k=$FileK")
          else if (!Util.nonIncreasing(sims)) Some("similarity not non-increasing")
          else None
        (err, Map("query" -> q, "k" -> FileK,
          "paths" -> rows.map(_.getAs[String]("file_path")).toSeq, "sims" -> sims))
      })

  /** `expected`: when known, the exact ids the call must return. */
  def fileContext(path: String, expected: Option[Seq[String]] = None): Op =
    Op("Graft.getFileContext",
      () => Graft.getFileContext(spark, idx, path, ContextMax).collect(),
      r => {
        val rows = r.asInstanceOf[Array[Row]]
        val ids = rows.map(_.getAs[String]("id")).toSeq
        val starts = rows.map(_.getAs[Int]("start_line").toDouble).toSeq
        val err =
          if (rows.length > ContextMax) Some(s"${rows.length} rows > $ContextMax")
          else if (!Util.nonIncreasing(starts.reverse)) Some("elements not in source order")
          else if (!ids.forall(_.startsWith(path + ":"))) Some("element of another file")
          else if (expected.exists(_.toSet != ids.toSet))
            Some(s"read-your-writes: got ${ids.size} ids, expected ${expected.get.size}")
          else None
        (err, Map("path" -> path, "ids" -> ids))
      })
}

/** `search`: the reference's read path — tool calls against a built index. */
final class SearchWl(val spark: SparkSession, dir: String)
    extends Workload with CodeIndexOps {
  val tree = new File(s"$dir/tree").getAbsolutePath
  val idx = s"$dir/index"
  private val queries = Util.lines(s"$dir/queries.txt")
  private val symbols = Util.lines(s"$dir/symbols.txt").map(_.split(" ").toSeq)
  private val paths = Util.lines(s"$dir/paths.txt")
  private val contents = paths.distinct.map(x =>
    x -> new String(Files.readAllBytes(Paths.get(tree, x)), UTF_8)).toMap
  private lazy val docs = spark.read.parquet(s"$dir/tree_docs.parquet")
  private var n = 0
  private var elements = 0L

  // No recorded tool-call traffic exists to weight the mix by, so a cycle
  // makes one call per tool, with searchCode twice: once unfiltered, once
  // filtered (on element_type, then file_type .py, then .js, in turn).
  private val cycle = IndexedSeq("sc", "sc:filtered", "sf", "ctx", "diag", "sym")
  private val filters = IndexedSeq("function", ".py", ".js")
  val primary = Set("Graft.searchCode", "Graft.searchFiles")
  def cycleDone: Boolean = n % cycle.size == 0
  val cycleSeconds = 0.8

  def setup(): Unit = {
    elements = part("index_build")(Graft.indexCodebase(spark, tree, idx).collect())
      .head.getAs[Long]("elements_indexed")
    part("warm_up")((0 until 8 * cycle.size).foreach { _ => val op = next(); op.after(op.call()) })
    spark.sharedState.cacheManager.clearCache()
  }

  def next(): Op = {
    val k = n
    n += 1
    val q = queries(k % queries.size)
    val path = paths(k % paths.size)
    cycle(k % cycle.size) match {
      case "sc" => searchCode(q, None, None)
      case "sc:filtered" =>
        val f = filters(k / cycle.size % filters.size)
        if (f.startsWith(".")) searchCode(q, None, Some(f)) else searchCode(q, Some(f), None)
      case "sf" => searchFiles(q)
      case "ctx" => fileContext(path)
      case "diag" =>
        Op("Graft.getDiagnostics",
          () => Graft.getDiagnostics(spark, path, contents(path)).collect(),
          r => {
            val rows = r.asInstanceOf[Array[Row]]
            val err = if (rows.exists(_.getAs[String]("file_path") != path))
              Some("diagnostics for another file") else None
            (err, Map("path" -> path, "rows" -> rows.length))
          })
      case "sym" =>
        val syms = symbols(k % symbols.size)
        Op("Graft.symbolNavigation",
          () => Graft.symbolNavigation(docs, syms).collect(),
          r => {
            val rows = r.asInstanceOf[Array[Row]]
            val toks = rows.map(_.getAs[String]("token"))
            val err = if (rows.length > syms.size || !toks.forall(syms.contains))
              Some("symbol rows outside the requested symbols") else None
            (err, Map("symbols" -> syms, "rows" -> rows.length))
          })
    }
  }

  override def probes(): Map[String, Any] =
    Probes.indexBuild(spark, tree, s"$dir/probe_build") ++
      Probes.ingestBatch(spark, idx, Util.readTree(s"$dir/batches/0000"), s"$dir/probe_ingest") ++
      Probes.curation(spark, spark.read.parquet(s"$dir/documents.parquet"))

  def finish(ops: Seq[OpRec]): (Map[String, Any], Seq[String], Set[String]) = {
    val m = Util.stats("search_p50_ms", Util.msOf(ops, primary.toSeq: _*)) ++
      Util.stats("lookup_p50_ms", Util.msOf(ops, "Graft.getFileContext")) ++
      Util.stats("diag_p50_ms", Util.msOf(ops, "Graft.getDiagnostics")) ++
      Util.stats("symbols_p50_ms", Util.msOf(ops, "Graft.symbolNavigation"))
    val search = Util.msOf(ops, primary.toSeq: _*)
    val p90 = if (search.size >= 100) Map("search_p90_ms" -> Main.percentile(search, 0.9)) else Map()
    (m ++ p90 ++ Map("elements" -> elements, "files_live" -> Util.parquetFiles(idx),
      "stored_bytes" -> Util.dirBytes(idx), "input_bytes" -> Util.dirBytes(tree),
      "index_dir" -> idx) ++ CodeIndexOps.duckSql, Nil, Set.empty)
  }
}

/** `ingest`: `Graft.ingestBatch` of small batches beside reads of the index
  * it maintains; read-your-writes checked after every batch. */
final class IngestWl(val spark: SparkSession, dir: String)
    extends Workload with CodeIndexOps {
  import spark.implicits._
  val tree = new File(s"$dir/tree").getAbsolutePath
  val idx = s"$dir/index"
  private val queries = Util.lines(s"$dir/queries.txt")
  private val batches = Option(new File(s"$dir/batches").listFiles).getOrElse(Array.empty[File])
    .map(_.getAbsolutePath).sorted.toIndexedSeq
  private var n = 0
  private var b = 0
  // ids the near-dup gate refused, per path, as of the path's latest batch
  private val gated = mutable.Map.empty[String, Set[String]]
  private var ctxTarget: (String, Seq[String]) = ("", Nil)
  val primary = Set("Graft.ingestBatch")
  def cycleDone: Boolean = n % 4 == 0
  val cycleSeconds = 6.0

  def setup(): Unit = {
    part("index_build")(Graft.indexCodebase(spark, tree, idx).collect())
    part("warm_up")((0 until 4).foreach { _ => val op = next(); op.after(op.call()) })
    spark.sharedState.cacheManager.clearCache()
  }

  private def startOf(id: String): Int = id.split(":").reverse(1).toInt

  private def ingest(): Op = {
    val files = Util.readTree(batches(b % batches.size))
    b += 1
    Op("Graft.ingestBatch",
      () => Graft.ingestBatch(spark, idx, files.toDS()).collect(),
      r => {
        val rows = r.asInstanceOf[Array[Row]]
        files.foreach { case (path, content) => Util.writeFile(s"$tree/$path", content) }
        val byPath = rows.groupBy(_.getAs[String]("file_path"))
        files.foreach { case (path, _) =>
          gated(path) = byPath.getOrElse(path, Array.empty[Row])
            .filter(_.getAs[String]("action") != "ingested").map(_.getAs[String]("id")).toSet
        }
        val target = files.map(_._1).find(x => byPath.getOrElse(x, Array.empty[Row])
          .exists(_.getAs[String]("action") == "ingested")).getOrElse(files.head._1)
        val want = byPath.getOrElse(target, Array.empty[Row])
          .filter(_.getAs[String]("action") == "ingested").map(_.getAs[String]("id"))
          .sortBy(id => (startOf(id), id)).take(ContextMax).toSeq
        ctxTarget = (target, want)
        val actions = rows.groupBy(_.getAs[String]("action")).map { case (k, v) => k -> v.length }
        (None, Map("files" -> files.size, "actions" -> actions))
      })
  }

  def next(): Op = {
    val k = n
    n += 1
    val q = queries(k % queries.size)
    (k % 4) match {
      case 0 => ingest()
      case 1 => searchCode(q, None, None)
      case 2 => searchFiles(q)
      case _ => fileContext(ctxTarget._1, Some(ctxTarget._2))
    }
  }

  override def probes(): Map[String, Any] =
    Probes.indexBuild(spark, tree, s"$dir/probe_build") ++
      Probes.ingestBatch(spark, idx, Util.readTree(batches(b % batches.size)), s"$dir/probe_ingest")

  def finish(ops: Seq[OpRec]): (Map[String, Any], Seq[String], Set[String]) = {
    // a warm full build of the final tree into a fresh directory is both
    // build_s and the reference the maintained index must equal
    // reads of the final index, for check.py's DuckDB re-answer (the loop's
    // own reads may all precede the last batch)
    val finalReads = Seq(searchCode(queries(0), None, None),
      searchCode(queries(1), Some("function"), None), searchFiles(queries(2))).map { op =>
      val (err, info) = op.after(op.call())
      Map("kind" -> op.kind, "error" -> err, "info" -> info)
    }
    val fresh = s"$dir/fresh_index"
    val (report, buildS) = Util.timed(Graft.indexCodebase(spark, tree, fresh).collect())
    def pairs(d: String) = spark.read.parquet(s"$d/code_elements").select("id", "hash")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = pairs(idx)
    val refused = gated.values.flatten.toSet
    val want = pairs(fresh).filterNot { case (id, _) => refused.contains(id) }
    val errors =
      if (got == want) Nil
      else Seq(s"code_elements differs from a fresh build of the final tree: " +
        s"${(got -- want).size} extra, ${(want -- got).size} missing")
    val r = report.head
    val m = Util.stats("ingest_p50_s", Util.msOf(ops, "Graft.ingestBatch"), 1e-3) ++
      Util.stats("search_p50_ms", Util.msOf(ops, "Graft.searchCode", "Graft.searchFiles")) ++
      Util.stats("lookup_p50_ms", Util.msOf(ops, "Graft.getFileContext")) ++ Map(
        "build_s" -> buildS,
        "IndexBuild.embedded_frac" ->
          r.getAs[Long]("elements_embedded").toDouble / r.getAs[Long]("elements_indexed"),
        "files_live" -> Util.parquetFiles(s"$idx/code_elements"),
        "stored_bytes" -> Util.dirBytes(idx), "input_bytes" -> Util.dirBytes(tree),
        "batches_applied" -> b, "index_dir" -> idx, "final_reads" -> finalReads) ++
      CodeIndexOps.duckSql
    (m, errors, Set("Graft.ingestBatch"))
  }
}

/** `maintain`: the stored k-NN graph artifact kept current batch by batch,
  * each batch followed by a graph search over the stored graph. The stored
  * near-duplicate pair artifact's maintenance (upserts, compaction, reads)
  * runs as a probe of traced runs: with it in the loop a run held too few
  * batches of each kind to be steady within the benchmark's time budget. */
final class MaintainWl(spark: SparkSession, dir: String, p: Map[String, String]) extends Workload {
  private val baseDocs = p("base_docs").toLong
  private val batchDocs = p("batch_docs").toLong
  private val baseVecs = p("base_vecs").toLong
  private val batchVecs = p("batch_vecs").toLong
  private val pdir = s"$dir/pairs_artifact"
  private val gdir = s"$dir/graph_artifact"
  private val Threshold = 0.8
  private val GraphK = 8
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val totalDocs = docs.count()
  private lazy val totalVecs = emb.count()
  private lazy val vectors: Map[Long, Array[Double]] = emb.select("vec_id", "embedding").collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
  private val rnd = new scala.util.Random(p("seed").toLong)
  private var docsApplied = baseDocs
  private var vecsApplied = baseVecs
  private var n = 0
  val primary = Set("GraphLayout.upsertStored")
  def cycleDone: Boolean = n % 2 == 0
  val cycleSeconds = 3.3

  def setup(): Unit = {
    part("graph_base")(GraphLayout.writeBase(spark,
      emb.filter(col("vec_id") < baseVecs).select("vec_id", "embedding"), gdir, k = GraphK))
    vectors.size
    part("warm_up")((0 until 2).foreach { _ => val op = next(); op.after(op.call()) })
    spark.sharedState.cacheManager.clearCache()
  }

  private def pairsUpsert(): Op = {
    val (lo, hi) = (docsApplied, docsApplied + batchDocs)
    Op("PairsLayout.upsert",
      () => {
        require(hi <= totalDocs, "generated document batches exhausted")
        PairsLayout.upsert(spark, pdir, docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          Threshold)
        "ok"
      },
      _ => { docsApplied = hi; (None, Map("docs" -> (hi - lo))) })
  }

  private def graphUpsert(): Op = {
    val (lo, hi) = (vecsApplied, vecsApplied + batchVecs)
    val before = if (Trace.enabled) Util.listing(s"$gdir/graph") else Map.empty[String, (Long, Long)]
    Op("GraphLayout.upsertStored",
      () => {
        require(hi <= totalVecs, "generated vector batches exhausted")
        GraphLayout.upsertStored(spark, gdir,
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi).select("vec_id", "embedding"),
          s"batch-$lo", k = GraphK)
        "ok"
      },
      _ => {
        vecsApplied = hi
        val info: Map[String, Any] = if (before.isEmpty) Map("vecs" -> (hi - lo)) else {
          val after = Util.listing(s"$gdir/graph").filter(_._1.endsWith(".parquet"))
          val changed = after.filter { case (f, v) => !before.get(f).contains(v) }
          val buckets = changed.keys.flatMap(f => "_(\\d+)\\.".r.findFirstMatchIn(f).map(_.group(1)))
          val live = after.values.map(_._1).sum.toDouble
          Map("vecs" -> (hi - lo), "GraphLayout.touched_buckets" -> buckets.toSet.size,
            "GraphLayout.rewritten_frac" -> changed.values.map(_._1).sum / math.max(1.0, live),
            "GraphLayout.files_live" -> after.size)
        }
        (None, info)
      })
  }

  private def degreeRead(): Op =
    Op("Dedup.degreeOfPairs",
      () => Dedup.degreeOfPairs(PairsLayout.read(spark, pdir)).collect(),
      r => {
        val got = r.asInstanceOf[Array[Row]].map(x => (x.getAs[Long]("degree"), x.getAs[Long]("n_docs"))).toSet
        val ps = PairsLayout.read(spark, pdir).collect().map(x => (x.getAs[Long]("d1"), x.getAs[Long]("d2")))
        val want = (ps.map(_._1) ++ ps.map(_._2)).groupBy(identity).values.map(_.length.toLong)
          .groupBy(identity).map { case (d, xs) => (d, xs.size.toLong) }.toSet
        (if (got == want) None else Some("degree histogram differs from the stored pairs"),
          Map("pairs" -> ps.length))
      })

  private def graphSearch(): Op = {
    val qid = rnd.nextLong(vecsApplied)
    Op("NnDescent.graphSearch",
      () => NnDescent.graphSearch(emb.filter(col("vec_id") < vecsApplied),
        GraphLayout.readGraph(spark, gdir),
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qv")),
        k = 10, beam = 8, excludeId = qid,
        signs = Some(spark.read.parquet(s"$gdir/signs"))).collect(),
      r => {
        val rows = r.asInstanceOf[Array[Row]]
        val q = vectors(qid)
        def cos(v: Array[Double]) = {
          val d = q.indices.map(i => q(i) * v(i)).sum
          d / (math.sqrt(q.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
        }
        val sims = rows.map(_.getAs[Double]("sim")).toSeq
        val ids = rows.map(_.getAs[Long]("vec_id"))
        val err =
          if (rows.length > 10) Some("more than k rows")
          else if (!Util.nonIncreasing(sims)) Some("sim not non-increasing")
          else if (ids.exists(i => i == qid || i >= vecsApplied)) Some("result outside the indexed set")
          else if (rows.exists(x => math.abs(x.getAs[Double]("sim") - cos(vectors(x.getAs[Long]("vec_id")))) > 1e-6))
            Some("sim differs from the exact cosine")
          else None
        (err, Map("qid" -> qid, "ids" -> ids.toSeq))
      })
  }

  def next(): Op = {
    n += 1
    if (n % 2 == 1) graphUpsert() else graphSearch()
  }

  /** The pair artifact's maintenance, each op timed, traced and checked:
    * base build, two upserts with a degree read after each, a compaction,
    * and a last read. check.py compares the final artifact with the
    * full-corpus oracle. */
  override def probes(): Map[String, Any] = {
    val (_, baseS) = Util.timed(Trace.span("PairsLayout.writeIndexed") {
      PairsLayout.writeIndexed(spark, docs.filter(col("doc_id") < baseDocs), pdir, Threshold) })
    val compact = Op("PairsLayout.compact", () => { PairsLayout.compact(spark, pdir); "ok" })
    val times = Seq(pairsUpsert(), degreeRead(), pairsUpsert(), degreeRead(), compact, degreeRead())
      .map { op =>
        val (r, s) = Util.timed(Try(Trace.span(op.kind)(op.call())))
        val err = r.fold(e => Some(s"threw: $e"), x => op.after(x)._1)
        probeOps += OpRec(0, op.kind, "probe", s * 1e3, err, Map.empty)
        spark.sharedState.cacheManager.clearCache()
        (op.kind, s)
      }
    def med(kind: String) = Util.median(times.filter(_._1 == kind).map(_._2))
    Map("PairsLayout.writeIndexed_s" -> baseS, "PairsLayout.upsert_s" -> med("PairsLayout.upsert"),
      "PairsLayout.compact_s" -> med("PairsLayout.compact"),
      "Dedup.degreeOfPairs_s" -> med("Dedup.degreeOfPairs"),
      "SignatureLayout.files_live" -> Seq("bands", "shingles", "sizes")
        .map(r => Util.parquetFiles(s"$pdir/$r")).sum)
  }

  def finish(ops: Seq[OpRec]): (Map[String, Any], Seq[String], Set[String]) = {
    GraphLayout.readGraph(spark, gdir).write.mode("overwrite").parquet(s"$dir/final_graph")
    val pairsProbed = new File(pdir).exists
    if (pairsProbed)
      PairsLayout.read(spark, pdir).write.mode("overwrite").parquet(s"$dir/final_pairs")
    val traced = ops.filter(o => o.kind == "GraphLayout.upsertStored" && o.phase == "traced")
    def mean(key: String) = {
      val xs = traced.flatMap(_.info.get(key)).map(_.toString.toDouble)
      if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    }
    val m = Util.stats("graph_upsert_p50_s", Util.msOf(ops, "GraphLayout.upsertStored"), 1e-3) ++
      Util.stats("artifact_read_p50_ms", Util.msOf(ops, "NnDescent.graphSearch")) ++ Map(
        "vecs_applied" -> vecsApplied, "stored_bytes" -> Util.dirBytes(gdir),
        "input_bytes" -> vecsApplied * 64L * 4L,
        "files_live" -> Util.parquetFiles(s"$gdir/graph"),
        "GraphLayout.touched_buckets" -> mean("GraphLayout.touched_buckets"),
        "GraphLayout.rewritten_frac" -> mean("GraphLayout.rewritten_frac"),
        "cosine_sql" -> graft.functions.VectorFns.duckCosine("a.e", "b.e"),
        "graph_k" -> GraphK) ++
      (if (pairsProbed) Map("docs_applied" -> docsApplied,
        "oracle_pairs_sql" -> Dedup.duckPairsSql("documents", Threshold)) else Map())
    (m, Nil, Set.empty)
  }
}

/** `curate`: full passes of the batch training-data pipeline and the
  * near-duplicate detector family over one corpus. */
final class CurateWl(spark: SparkSession, dir: String) extends Workload {
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val nDocs = docs.count()
  // op kind -> (call, SparkEntry oracle entry checked against its output)
  private val pass: IndexedSeq[(String, () => DataFrame, Option[String])] =
    ("Graft.prepareTrainingSet", () => Graft.prepareTrainingSet(docs), None) +:
      Probes.dedupVariants.map { case (k, f, q) => (k, () => f(docs), Some(q)) }
  // first (warm-up) pass outputs: the oracle checks them, later passes must repeat them
  private val firstPass = mutable.Map.empty[String, (Array[Row], StructType)]
  private var n = 0
  val primary = Set("Graft.prepareTrainingSet")
  def cycleDone: Boolean = n % pass.size == 0
  val cycleSeconds = 25.0

  def setup(): Unit = {
    nDocs
    pass.indices.foreach { i =>
      val op = next()
      part(s"warm_up.${pass(i)._1}")(op.after(op.call()))
    }
    spark.sharedState.cacheManager.clearCache()
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def next(): Op = {
    val (kind, call, _) = pass(n % pass.size)
    n += 1
    Op(kind,
      () => { val df = call(); (df.collect(), df.schema) },
      r => {
        val (rows, schema) = r.asInstanceOf[(Array[Row], StructType)]
        firstPass.get(kind) match {
          case None =>
            firstPass(kind) = (rows, schema)
            (None, Map("rows" -> rows.length))
          case Some((ref, _)) =>
            (if (canon(ref) == canon(rows)) None else Some("output differs from the first pass"),
              Map("rows" -> rows.length))
        }
      })
  }

  override def probes(): Map[String, Any] = Probes.curation(spark, docs)

  def finish(ops: Seq[OpRec]): (Map[String, Any], Seq[String], Set[String]) = {
    // reference data for the off-clock checks in check.py
    firstPass.foreach { case (kind, (rows, schema)) =>
      Util.writeRows(spark, rows, schema, s"$dir/out/$kind") }
    val pairs = Dedup.nearDupPairs(docs.select("doc_id", "text"), 0.8).localCheckpoint()
    pairs.write.mode("overwrite").parquet(s"$dir/out/near_dup_pairs")
    val (kept, hs) = Curation.keptWith(docs, 0.45, 0.8, Some(pairs))
    kept.select("doc_id").write.mode("overwrite").parquet(s"$dir/out/kept")
    hs.foreach(_.unpersist())
    spark.sharedState.cacheManager.clearCache()
    val timed = ops.filter(_.phase == "timed")
    val passS = timed.map(_.ms).sum / 1e3 * pass.size / math.max(1, timed.size)
    val perKind = pass.map(_._1).map(k => Util.stats(s"${k}_s", Util.msOf(ops, k), 1e-3))
      .reduce(_ ++ _)
    val oracle = pass.flatMap { case (kind, _, q) =>
      q.flatMap(graft.SparkEntry.oracleSql.get).map(kind -> _) }.toMap
    (perKind ++ Map("docs" -> nDocs, "docs_per_s" -> nDocs / passS, "pass_s" -> passS,
      "files_live" -> 0, "oracle_sql" -> oracle), Nil, Set.empty)
  }
}
