package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col

/** Persisted k-NN-graph artifact ([[graft.operators.NnDescent.knnGraph]]
  * output (vec_id, nbr, rn, sim)) — the navigable-graph half of the
  * ChromaDB/HNSW parity story: the reference's vector store queries a
  * prebuilt in-memory graph; here the graph is a parquet relation built
  * once per corpus snapshot and walked by
  * [[graft.operators.NnDescent.graphSearch]].
  *
  * Round-11 layout (round-10 verdict #6 + ADVICE #4), two relations per
  * artifact dir:
  *
  *   - `graph` (vec_id, nbr, rn, sim) — a Hive-bucketed external table
  *     CLUSTERED BY (vec_id), the [[SignatureLayout]] precedent: every
  *     stored-side join keyed by vec_id (search hop expansion, upsert
  *     hop refinement, old-list re-cut) arrives PRE-PARTITIONED. At test
  *     scale the beam side broadcasts and the bucketing is latent; the
  *     moment a query batch or ingest batch outgrows the broadcast
  *     threshold the planner's fallback is SMJ/shuffled-hash, and the
  *     bucketing is what keeps the corpus-scale side exchange-free (the
  *     measured ~3×/decade signature-probe lesson, SCALE.md).
  *   - `signs` (vec_id, sgn) — the full-width sign-LSH strings the graph
  *     was banded with. Query-time seeding and per-batch upsert banding
  *     probe THIS narrow relation instead of re-scanning the wide
  *     embedding column per search (ADVICE #4: the walk was "hops tiny
  *     jobs" but its seeding was a corpus scan). Band bits stay derived
  *     in-plan from the count of this relation — same value, same
  *     oracle, as the recompute path.
  *
  * Contracts are [[CentroidLayout]]'s: `ensure` builds once per JVM run,
  * `rebuild` is the unconditional pricing path (q_knn_graph), reads stay
  * uncached (the probe joins a tiny beam against it — honest stats keep
  * the broadcast direction right). The stored `sim` column is the display
  * rounding; the search re-scores against the query exactly, so rounding
  * never reaches ranking arithmetic. */
object GraphLayout {

  private val built = new BuildLatch

  /** Target graph rows (n·k) per bucket — the artifact's grain is a
    * property of its rows alone, never of the session's cores. Constant
    * bucket bytes as the corpus grows make per-batch write IO
    * corpus-INDEPENDENT (SCALE.md "Bucket-confined graph maintenance":
    * 98% → 42% → 5.4% of live bytes per batch across three decades at
    * exactly this grain, ~500 rows per bucket). It is also the cheap
    * direction below that: the micro-batch commit writes each file from
    * the driver, and every fetch opens each touched bucket's files, at
    * ≈ 5–10 ms of driver time per file, so a floor above the rows' own
    * count (say 32, to match a 32-core session) only buys files. At the
    * `maintain` benchmark's shape (500 vectors, 40 per batch, k = 8) the
    * rule gives 8 buckets and 4 `pb=` dirs and a batch writes 21 files;
    * a floor of 32 made it ≈ 82 files and the upsert p50 1,294 ms
    * instead of 815 ms (4-vCPU VM). */
  private val TargetBucketRows = 500L

  /** buckets = clamp(1, 2^16, graphRows / 500) — `graphRows` is n·k. */
  private[graft] def bucketsFor(graphRows: Long): Int =
    math.max(1, math.min(1 << 16, graphRows / TargetBucketRows).toInt)

  /** Sidecar guarding the bucket declaration (a mis-declared CLUSTERED
    * BY silently mis-joins). Records the COUNT, which varies per
    * artifact; columns are fixed. Absent → pre-r11 plain-parquet
    * artifact → fallback reads. */
  private def specString(buckets: Int): String =
    s"$buckets;graph:vec_id;vectors:vec_id"

  def dirFor(sfDir: String, k: Int, tables: Int, rounds: Int): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|knngraph2|$k|$tables|$rounds".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    s"out/artifacts/knngraph-$h"
  }

  // ------------------------------------------------- bucketed-rel helpers

  private def tableName(path: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(path).getAbsolutePath.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    s"graft_graph_$h"
  }

  private def absPath(p: String): String = new java.io.File(p).getAbsolutePath

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeSpec(spark: SparkSession, dir: String, buckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(absPath(s"$dir/_graft_buckets"))
    val out = fs(spark, p).create(p, true)
    try out.write(specString(buckets).getBytes("UTF-8")) finally out.close()
  }

  /** Bucket count of an existing artifact from its sidecar. Every writer
    * ([[writeArt]], [[writeBase]]) writes the sidecar last, so a
    * directory without one is an old pre-bucketing artifact or a crashed,
    * partial build — loudly rejected, as is a sidecar whose COLUMN spec
    * differs from this build's. (private[graft]: the profilers report the
    * derived grain.) */
  private[graft] def storedBuckets(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(absPath(s"$dir/_graft_buckets"))
    val f = fs(spark, p)
    require(f.exists(p),
      s"graph layout at $dir has no _graft_buckets sidecar (a pre-bucketing or " +
        "partially written artifact) — rewrite it with writeBase")
    val in = f.open(p)
    val raw = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    val b = raw.takeWhile(_ != ';').toInt
    require(raw == specString(b),
      s"graph layout at $dir was bucketed as '$raw', this build expects " +
        s"'${specString(b)}' — rewrite the artifact")
    b
  }

  // ------------------------------------------- frozen band-key relation

  /** Target band rows (n·tables) per `pb=` partition of the persisted
    * band relation — same constant-bytes rule as [[TargetBucketRows]]. */
  private val TargetBandRows = 500L

  /** pparts = clamp(1, 2^16, bandRows / 500) — `bandRows` is n·tables. */
  private[graft] def bandPartsFor(bandRows: Long): Int =
    math.max(1, math.min(1 << 16, bandRows / TargetBandRows).toInt)

  private def bandSpecString(bits: Int, pparts: Int, tables: Int,
                             targetOcc: Int): String =
    s"bits:$bits;pparts:$pparts;tables:$tables;occ:$targetOcc"

  /** Frozen band parameters of a stored artifact from its `_graft_bands`
    * sidecar: (bits, pparts). None for an artifact that predates the
    * frozen-band layout (round-12 and earlier) — those fall back to the
    * in-plan-width path. Loudly rejects a sidecar whose tables/targetOcc
    * differ from this call's (stored keys are only valid at the
    * parameters they were cut with — the storedBuckets precedent). */
  private def storedBandSpec(spark: SparkSession, dir: String,
                             tables: Int, targetOcc: Int): Option[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(absPath(s"$dir/_graft_bands"))
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val raw = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      val kv = raw.split(";").map(_.split(":")).map(a => a(0) -> a(1).toInt).toMap
      require(raw == bandSpecString(kv("bits"), kv("pparts"), tables, targetOcc),
        s"graph band sidecar at $dir is '$raw', this call expects tables=" +
          s"$tables occ=$targetOcc — rewrite the artifact or reband it")
      Some((kv("bits"), kv("pparts")))
    }
  }

  private def writeBandSpec(spark: SparkSession, dir: String, bits: Int,
                            pparts: Int, tables: Int, targetOcc: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(absPath(s"$dir/_graft_bands"))
    val out = fs(spark, p).create(p, true)
    try out.write(bandSpecString(bits, pparts, tables, targetOcc).getBytes("UTF-8"))
    finally out.close()
  }

  /** The probe-partition id of a band key — pure layout (never reaches
    * the oracle): murmur3 over the join key, pmod into `pparts` dirs. */
  private def pbCol(pparts: Int) =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(col("t"), col("bkey")),
      org.apache.spark.sql.functions.lit(pparts))

  // t is LONG: `length(sgn) DIV Block` is Spark's integral divide (bigint)
  private val BandSchema = "vec_id LONG, t LONG, bkey STRING"

  /** The stored band rows of the `pb` partitions holding the band keys
    * `keys` (explicit schema: an empty-base artifact has a data-file-less
    * dir, where schema inference throws). The partitions are read BY
    * EXPLICIT SUBDIR PATH, not a partition filter: a filter still lists
    * every `pb=` dir before pruning (1,600 driver-side dir listings per
    * micro-batch at sf10), a path list only touches the batch's dirs —
    * the IVF-partition precedent: per-batch IO is O(touched partitions),
    * never a corpus term. */
  private def readBands(spark: SparkSession, dir: String, pparts: Int,
                        keys: Seq[(Long, String)]): DataFrame = {
    // the keys' partition ids: a folded projection over a local relation
    val pbs = spark.createDataFrame(keys).toDF("t", "bkey").select(pbCol(pparts))
      .collect().map(_.getInt(0)).distinct
    val root = new org.apache.hadoop.fs.Path(absPath(s"$dir/bands"))
    val f = fs(spark, root)
    // exists-filter: a pb value with no stored rows has no dir (80
    // bounded driver-side probes, vs listing every partition)
    val paths = pbs.map(v => new org.apache.hadoop.fs.Path(root, s"pb=$v"))
      .filter(f.exists(_)).map(_.toString)
    if (paths.isEmpty)
      spark.emptyDataFrame.selectExpr("CAST(0 AS LONG) vec_id",
        "CAST(0 AS LONG) t", "CAST('' AS STRING) bkey").limit(0)
    else spark.read.schema(BandSchema).parquet(paths.toIndexedSeq: _*)
      .select("vec_id", "t", "bkey")
  }

  /** Stage + commit a band relation write: one dir per `pb` partition,
    * one file per partition per snapshot. */
  private def writeBandsFull(spark: SparkSession, signs: DataFrame,
                             path: String, bits: Int, pparts: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(absPath(path))
    val f = fs(spark, p)
    if (f.exists(p)) { f.delete(p, true); () }
    graft.operators.NnDescent.bandKeysAt(signs, bits)
      .withColumn("pb", pbCol(pparts))
      .repartition(pparts, col("pb"))
      .write.mode(SaveMode.Overwrite).partitionBy("pb").parquet(absPath(path))
  }

  /** Move a staged partitioned band write into the live relation under a
    * batch prefix — [[SignatureLayout.moveInto]] per `pb=` subdir, so a
    * replayed batch REPLACES its delta in every partition it writes
    * (band keys are deterministic in batch content, so a replay stages
    * the same partitions). */
  private def moveIntoPartitioned(spark: SparkSession, stage: String,
                                  live: String, prefix: String): Unit = {
    val stagep = new org.apache.hadoop.fs.Path(absPath(stage))
    val f = fs(spark, stagep)
    f.listStatus(stagep).map(_.getPath)
      .filter(_.getName.startsWith("pb="))
      .foreach { sub =>
        SignatureLayout.moveInto(spark, sub.toString,
          s"${absPath(live)}/${sub.getName}", prefix)
      }
    f.delete(stagep, true)
    ()
  }

  /** Write `df` as a bucketed-by-(vec_id) external table at `path`, then
    * drop the table name: the files are the durable state, [[readBucketed]]
    * re-registers in any JVM. `sortCols` must start with vec_id. One file
    * per bucket per snapshot: `repartition(buckets, vec_id)` is one bucket
    * per task (full write parallelism — the snapshot paths; a micro-batch's
    * files are written from the driver, [[stageOnDriver]]). */
  private def stageBucketed(spark: SparkSession, df: DataFrame, path: String,
                            sortCols: Seq[String], buckets: Int): Unit = {
    val t = tableName(path)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val p = new org.apache.hadoop.fs.Path(absPath(path))
    val f = fs(spark, p)
    if (f.exists(p)) { f.delete(p, true); () }
    df.repartition(buckets, col("vec_id"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", absPath(path))
      .bucketBy(buckets, "vec_id").sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(t)
    spark.sql(s"DROP TABLE $t")
  }

  /** Stage a micro-batch's rows of one relation from the DRIVER: a fresh
    * `stage` dir holding one parquet file per group, `groups` mapping a
    * group's relative dir (`""` or `pb=N`) and bucket id (None for an
    * unbucketed relation) to its rows, in file order. File names are the
    * ones a Spark write gives (`part-00000-<uuid>_NNNNN.c000.snappy.parquet`
    * bucketed, `part-00000-<uuid>-c000.snappy.parquet` otherwise), so the
    * commit protocols ([[replaceBuckets]], [[SignatureLayout.moveInto]],
    * [[moveIntoPartitioned]]) take them exactly as before. */
  private def stageOnDriver(spark: SparkSession, stage: String, schema: StructType,
                            groups: Iterable[((String, Option[Int]), Seq[Row])]): Unit = {
    val p = new org.apache.hadoop.fs.Path(absPath(stage))
    val f = fs(spark, p)
    if (f.exists(p)) { f.delete(p, true); () }
    f.mkdirs(p)
    val uuid = java.util.UUID.randomUUID().toString
    org.apache.spark.sql.graftbridge.Bridge.writeParquet(spark, schema,
      groups.map { case ((sub, bucket), rows) =>
        val name = bucket.fold(s"part-00000-$uuid-c000")(b => f"part-00000-${uuid}_$b%05d.c000")
        (if (sub.isEmpty) s"$p/$name" else s"$p/$sub/$name") -> rows
      })
  }

  /** Register (if needed) and read the bucketed external table at `path`
    * (bucket count from the sidecar in `specDir`). */
  private def readBucketed(spark: SparkSession, specDir: String, path: String,
                           sortCols: Seq[String]): DataFrame = {
    SignatureLayout.recoverPath(spark, absPath(path))
    val b = storedBuckets(spark, specDir)
    val t = tableName(path)
    if (!spark.catalog.tableExists(t)) {
      val schema = spark.read.parquet(path).schema.toDDL
      // two queries first-reading the same artifact can both pass the
      // exists check (round-11 ADVICE #1): the loser's CREATE throws —
      // fall through to the winner's registration, same table either way
      try spark.sql(
        s"""CREATE TABLE $t ($schema) USING parquet
           |CLUSTERED BY (vec_id) SORTED BY (${sortCols.mkString(", ")})
           |INTO $b BUCKETS
           |LOCATION '${absPath(path)}'""".stripMargin)
      catch {
        case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException => ()
      }
    }
    spark.table(t)
  }

  private def refresh(spark: SparkSession, path: String): Unit = {
    val t = tableName(path)
    if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
  }

  // ------------------------------------------------------ static artifact

  private def writeArt(spark: SparkSession, index: DataFrame, dir: String,
                       k: Int, tables: Int, rounds: Int,
                       buckets: Int = 0, targetOcc: Int = 16): Unit = {
    // one eager count sizes the snapshot (round-13): the bucket grain
    // (buckets ∝ n·k — constant bucket bytes, corpus-independent
    // per-batch IO), the band-partition grain, and the FROZEN band width
    // (= exactly the in-plan width the build below derives at this
    // count, so frozen ≡ in-plan at snapshot time)
    val n = index.count()
    val b = if (buckets > 0) buckets else bucketsFor(n * k)
    val bits = graft.operators.NnDescent.bitsFor(n, targetOcc)
    val pparts = bandPartsFor(n * tables)
    // independent relations on disjoint paths → concurrent Futures (the
    // PairsLayout.compact / SignatureLayout.write precedent: sequential
    // submission leaves cores idle in each small job's stage tail); the
    // cheap signs/bands writes hide entirely under the graph build
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val graph = Future(graft.operators.NnDescent.knnGraph(index, k, tables, rounds, targetOcc))
    val writes = Seq(
      graph.map(stageBucketed(spark, _, s"$dir/graph", Seq("vec_id", "rn"), b)),
      Future(graft.operators.NnDescent.signsOf(index, tables)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/signs")),
      Future(writeBandsFull(spark,
        graft.operators.NnDescent.signsOf(index, tables),
        s"$dir/bands", bits, pparts)))
    // drain-before-propagate (r13 ADVICE); then nothing reads the build's
    // last checkpoint again
    try SignatureLayout.drainAll(writes)
    finally graph.value.flatMap(_.toOption).foreach(graft.operators.NnDescent.release)
    writeSpec(spark, dir, b)
    writeBandSpec(spark, dir, bits, pparts, tables, targetOcc)
  }

  /** (graph, signs) — the pair every stored-artifact consumer wants: the
    * bucketed graph for hop joins, the narrow sign relation for seed
    * probes. */
  def ensureArt(spark: SparkSession, index: DataFrame, sfDir: String,
                k: Int = 8, tables: Int = 4,
                rounds: Int = 2): (DataFrame, DataFrame) = {
    val dir = dirFor(sfDir, k, tables, rounds)
    built.onceIfAbsent(dir) {
      writeArt(spark, index, dir, k, tables, rounds)
    }
    (readBucketed(spark, dir, s"$dir/graph", Seq("vec_id", "rn")),
      spark.read.parquet(s"$dir/signs"))
  }

  def ensure(spark: SparkSession, index: DataFrame, sfDir: String,
             k: Int = 8, tables: Int = 4, rounds: Int = 2): DataFrame =
    ensureArt(spark, index, sfDir, k, tables, rounds)._1

  /** Unconditional rebuild + read-back — the pricing entry (q_knn_graph). */
  def rebuild(spark: SparkSession, index: DataFrame, sfDir: String,
              k: Int = 8, tables: Int = 4, rounds: Int = 2): DataFrame = {
    val dir = dirFor(sfDir, k, tables, rounds)
    built.always(dir) {
      writeArt(spark, index, dir, k, tables, rounds)
    }
    readBucketed(spark, dir, s"$dir/graph", Seq("vec_id", "rn"))
  }

  // ------------------------------------------ streaming maintenance layout

  /** Base snapshot for continuous maintenance: the graph, the vectors it
    * was built from (each [[upsertStored]] needs the accumulated old
    * vectors to rescore re-cut lists), and their sign strings (so a
    * batch's banding probes a narrow stored relation instead of
    * re-projecting the corpus — ADVICE #4 applied to the ingest path).
    * Graph and vectors are bucketed by vec_id; signs are a plain
    * append-able relation. Deleting the dir first also invalidates any
    * streaming checkpoint beneath it (the PairsLayout.writeIndexed
    * convention). */
  /** `knownCount`: pass `old.count()` when the caller already holds it
    * (StreamOps gates its partition override on the same count) — saves
    * the snapshot-sizing job. */
  def writeBase(spark: SparkSession, old: DataFrame, dir: String,
                k: Int = 8, tables: Int = 4, rounds: Int = 2,
                buckets: Int = 0, targetOcc: Int = 16,
                knownCount: Long = -1L): Unit = {
    val p = new org.apache.hadoop.fs.Path(absPath(dir))
    val f = fs(spark, p)
    if (f.exists(p)) { f.delete(p, true); () }
    // snapshot sizing + frozen band width — the writeArt note
    val n = if (knownCount >= 0L) knownCount else old.count()
    val b = if (buckets > 0) buckets else bucketsFor(n * k)
    val bits = graft.operators.NnDescent.bitsFor(n, targetOcc)
    val pparts = bandPartsFor(n * tables)
    // four independent relations, disjoint paths → concurrent (writeArt
    // note); crash contract unchanged — the dir was deleted above, so any
    // partial mix is rebuilt on the next writeBase
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val graph = Future(graft.operators.NnDescent.knnGraph(old, k, tables, rounds, targetOcc))
    val writes = Seq(
      graph.map(stageBucketed(spark, _, s"$dir/graph", Seq("vec_id", "rn"), b)),
      Future(stageBucketed(spark, old.select("vec_id", "embedding"),
        s"$dir/vectors", Seq("vec_id"), b)),
      Future(graft.operators.NnDescent.signsOf(old, tables)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/signs")),
      Future(writeBandsFull(spark,
        graft.operators.NnDescent.signsOf(old, tables),
        s"$dir/bands", bits, pparts)))
    // drain-before-propagate (r13 ADVICE); then nothing reads the build's
    // last checkpoint again
    try SignatureLayout.drainAll(writes)
    finally graph.value.flatMap(_.toOption).foreach(graft.operators.NnDescent.release)
    writeSpec(spark, dir, b)
    writeBandSpec(spark, dir, bits, pparts, tables, targetOcc)
  }

  /** Each id's bucket: the writer's `pmod(hash(vec_id), buckets)`, a
    * folded projection over a local relation (no job). */
  private def bucketsOf(spark: SparkSession, buckets: Int,
                        ids: Seq[Long]): Map[Long, Int] = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    spark.createDataFrame(ids.distinct.map(Tuple1(_))).toDF("vec_id")
      .select(col("vec_id"), pmod(hash(col("vec_id")), lit(buckets)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** The bucketed relation at `path`, read with `schema` from only the
    * files of `ids`' buckets: a `pathGlobFilter` on the `_NNNNN` bucket-id
    * suffix, so the driver lists the one directory (a list of file paths
    * over Spark's listing threshold would start a parallel-listing job). */
  private def bucketRows(spark: SparkSession, path: String, schema: StructType,
                         buckets: Int, ids: Seq[Long]): DataFrame = {
    val bks = bucketsOf(spark, buckets, ids).values.toSeq.distinct.sorted
    if (bks.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema)
      .option("pathGlobFilter", bks.map(b => f"$b%05d").mkString("*_{", ",", "}.*"))
      .parquet(absPath(path))
  }

  /** The most batch rows [[upsertStored]] takes: it holds the batch and
    * the state the batch touches on the driver. The largest batch measured:
    * `q_stream_graph`'s sf10 micro-batch, 20,000 rows against 180,000
    * stored 64-dim vectors, ran in 135 s with a 2.7 GB old-generation heap
    * peak (4 GB heap, Spark `local[4]` on a 4-vCPU VM); there the re-cut
    * set can reach batch·k = 160,000 of the 180,000 stored ids. */
  private[graft] val MaxUpsertRows = 20000

  // the stored relations' fixed schemas: read without an inference job
  private val GraphSchema = "vec_id LONG, nbr LONG, rn LONG, sim DOUBLE"
  private val SignSchema = "vec_id LONG, sgn STRING"

  /** One micro-batch of graph maintenance against the STORED artifact,
    * committed BUCKET-CONFINED (round-12): the reference's HNSW insert
    * touches only the affected adjacency lists (`vector_search_tool.py:
    * 42-46`), and so does this.
    *
    *  1. The batch (at most [[MaxUpsertRows]] rows — a bigger one is a new
    *     snapshot: [[writeBase]]) is collected once, never more than one
    *     row past that ceiling, and held on the driver as a local
    *     relation; every later reference to it is a folded projection, not
    *     a job.
    *  2. [[graft.operators.NnDescent.graphUpsertDelta]] computes the lists
    *     for ONLY the touched nodes (batch ∪ re-cut old — untouched lists
    *     are provably unchanged), in one narrow job per dependency level
    *     (bucket mates, their lists and vectors, the hop targets', the
    *     re-cut set's neighbours'), with scores and ranks on the driver.
    *     Bucket mates come from the FROZEN-width band relation (round-13):
    *     the batch's keys are cut at the `_graft_bands` sidecar's width and
    *     the stored side is read from only the batch's `pb=` partitions.
    *     In the reband crash window (no sidecar) the width is `bitsFor` of
    *     the post-insert count — one eager count — and the mates are cut
    *     from the stored signs.
    *     Stored graph and vector rows are read from only the files of
    *     the fetched ids' buckets ([[bucketRows]]).
    *  3. The commit is written from the DRIVER: every staged parquet file
    *     goes through Spark's own parquet writer on the calling thread
    *     (`Bridge.writeParquet`), with the schema the relation's Spark write
    *     would have used, and then through the unchanged commit protocols.
    *     Placement comes from Spark's expressions folded over local
    *     relations: a row's bucket is `pmod(hash(vec_id), buckets)` and a
    *     band row's partition `pbCol(pparts)`. The touched buckets' live
    *     files are read back (by their `_NNNNN` name suffix, with the fixed
    *     graph schema) in ONE collect to carry their untouched rows, and
    *     [[replaceBuckets]] swaps in one file per touched bucket, sorted by
    *     (vec_id, rn). The batch's vectors (one file per bucket, sorted by
    *     vec_id), signs (one file) and band keys (one file per `pb=` dir)
    *     append under the batch's file prefix, so the next micro-batch
    *     sees them. The four commits run as concurrent Futures.
    *
    * Per batch: at most 6 Spark jobs for a single-partition batch (the
    * batch collect, ≤ 4 delta levels — a level with nothing left to fetch
    * runs none — and the untouched-rows collect; 4 on the `maintain`
    * benchmark's 500-vector graph), compute O(batch·(occ + k²)) and IO
    * O(touched buckets), not O(n·k). Two more can run: the reband crash
    * window's eager count, and a second collect round when the batch spans
    * several partitions and its first holds fewer rows than the ceiling
    * (the limited collect scans partitions in rounds). No Spark job writes
    * a file. Nothing is left persisted: no cache, checkpoint, session conf
    * or thread pool. Driver memory: at most |batch| + min(n,
    * batch·tables·occ·(1+k) + batch·k²) vectors, plus the touched buckets'
    * stored graph rows the commit rewrites — at most min(n·k, touched
    * buckets × rows per bucket).
    *
    * Replay safety: the delta drops the batch ids from every stored side,
    * and [[replaceBuckets]]' generation protocol plus the prefix-keyed
    * appends make a batch re-applied after a crash anywhere between the
    * graph commit and the checkpoint commit REPLACE its own delta, a valid
    * upsert, never duplicate lists. An artifact without the bucket sidecar
    * is rejected ([[storedBuckets]]): its file names carry no bucket id to
    * confine by. An empty batch changes nothing. */
  def upsertStored(spark: SparkSession, dir: String, batch: DataFrame,
                   batchId: String, k: Int = 8, tables: Int = 4,
                   targetOcc: Int = 16): Unit = {
    import scala.jdk.CollectionConverters._
    SignatureLayout.recoverPath(spark, absPath(s"$dir/graph"))
    SignatureLayout.recoverPath(spark, absPath(s"$dir/vectors"))
    recoverReplace(spark, s"$dir/graph")
    val buckets = storedBuckets(spark, dir)
    val bsel = batch.select("vec_id", "embedding")
    // one row past the ceiling is enough to refuse: an oversized batch
    // never lands on the driver whole
    val rows = bsel.limit(MaxUpsertRows + 1).collect()
    require(rows.length <= MaxUpsertRows,
      "upsertStored holds its batch on the driver: more than " +
        s"$MaxUpsertRows rows — write a new snapshot with writeBase instead")
    if (rows.isEmpty) return
    val local = spark.createDataFrame(rows.toSeq.asJava, bsel.schema)
    val bandSpec = storedBandSpec(spark, dir, tables, targetOcc)
    val (bits, bands) = bandSpec match {
      case Some((bits, pparts)) =>
        (bits, readBands(spark, dir, pparts, _: Seq[(Long, String)]))
      case None =>
        val signs = spark.read.schema(SignSchema).parquet(s"$dir/signs")
        val n = signs.filter(!graft.operators.NnDescent.idIn(rows.map(_.getLong(0))))
          .count() + rows.length
        val bits = graft.operators.NnDescent.bitsFor(n, targetOcc)
        (bits, (_: Seq[(Long, String)]) =>
          graft.operators.NnDescent.bandKeysAt(signs, bits))
    }
    // stored rows of a set of ids' buckets, with the stored schema: no
    // inference job, and no catalog bucket pruning, whose planning builds
    // a projection per filtered id
    def rowsOf(rel: String, schema: StructType)(ids: Seq[Long]): DataFrame =
      bucketRows(spark, s"$dir/$rel", schema, buckets, ids)
    val vecp = new org.apache.hadoop.fs.Path(absPath(s"$dir/vectors"))
    val vecSchema = IndexBuild.footerSchema(spark, fs(spark, vecp), vecp)
      .getOrElse(bsel.schema)
    val graphSchema = StructType.fromDDL(GraphSchema)
    val delta = graft.operators.NnDescent.graphUpsertDelta(
      rowsOf("vectors", vecSchema), rowsOf("graph", graphSchema),
      bands, local, k, tables, bits)
    // the delta, the batch's signs and the placement lookups below are
    // folded projections over local relations: collecting them runs no job
    val deltaRows = delta.collect().toSeq
    val touchedIds = deltaRows.map(_.getLong(0)).distinct
    val signs = graft.operators.NnDescent.signsOf(local, tables)
    val signRows = signs.collect().toSeq
    // one file per bucket, rows in the bucketed write's sort order
    def byBucket(rs: Seq[Row], order: Ordering[Row]) = {
      val b = bucketsOf(spark, buckets, rs.map(_.getLong(0)))
      rs.groupBy(r => ("", Option(b(r.getLong(0))))).view.mapValues(_.sorted(order))
    }
    // the per-batch commits — graph bucket replace, vector append, sign and
    // band appends — are independent relations on disjoint paths: submit
    // CONCURRENTLY (the writeArt/compact precedent). Each stages its files
    // from the driver (no Spark job) and commits through its protocol. A
    // crash leaving ANY subset committed still replays to a valid upsert:
    // the delta drops the batch ids from every stored side, and each commit
    // is prefix-keyed (replace, not append twice), so commit ORDER carries
    // no correctness weight here.
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val commits = Seq(
      Future {
        // the touched buckets' untouched rows ride along into the staged
        // files: the call's one collect of stored rows
        val keep = rowsOf("graph", graphSchema)(touchedIds)
          .filter(!graft.operators.NnDescent.idIn(touchedIds)).collect()
        stageOnDriver(spark, s"$dir/graph_stage", graphSchema,
          byBucket(keep.toSeq ++ deltaRows, Ordering.by((r: Row) => (r.getLong(0), r.getLong(2)))))
        replaceBuckets(spark, s"$dir/graph", s"$dir/graph_stage", s"${batchId}g")
        refresh(spark, s"$dir/graph")
      },
      Future {
        // batch vectors: one file per bucket + suffix-preserving rename append
        stageOnDriver(spark, s"$dir/vec_stage", bsel.schema,
          byBucket(rows.toSeq, Ordering.by((r: Row) => r.getLong(0))))
        SignatureLayout.moveInto(spark, s"$dir/vec_stage", s"$dir/vectors", batchId)
        refresh(spark, s"$dir/vectors")
      },
      Future {
        // batch signs: plain append under the same idempotent prefix
        // (signs stay the full-width source of truth the reband op
        // re-derives band keys from)
        stageOnDriver(spark, s"$dir/sign_stage", signs.schema, Seq(("", None) -> signRows))
        SignatureLayout.moveInto(spark, s"$dir/sign_stage", s"$dir/signs",
          s"$batchId-sg")
      }) ++ bandSpec.map { case (_, pparts) => Future {
        // batch band keys: partitioned append under the batch prefix so
        // the NEXT micro-batch's pruned probe sees this batch's rows;
        // a replay stages the same partitions (keys are deterministic
        // in batch content) and REPLACES its delta per partition. The
        // keys are bandKeysAt's rows, in its order; each lands in the
        // `pb=` dir of its pbCol
        val keyRows = signRows.filter(!_.isNullAt(1)).flatMap(r =>
          graft.operators.NnDescent.bandKeysOfSign(r.getString(1), bits)
            .map { case (t, bkey) => Row(r.getLong(0), t, bkey) })
        val pbOf = spark.createDataFrame(keyRows.map(r => (r.getLong(1), r.getString(2))).distinct)
          .toDF("t", "bkey").select(col("t"), col("bkey"), pbCol(pparts))
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getInt(2)).toMap
        val schema = graft.operators.NnDescent.bandKeysAt(signs, bits).schema
        stageOnDriver(spark, s"$dir/band_stage", schema,
          keyRows.groupBy(r => (s"pb=${pbOf((r.getLong(1), r.getString(2)))}", None)))
        moveIntoPartitioned(spark, s"$dir/band_stage", s"$dir/bands",
          s"$batchId-bd")
      }}
    SignatureLayout.drainAll(commits) // drain-before-propagate (r13 ADVICE)
  }

  /** Explicit re-band maintenance op (round-13): recompute the frozen
    * band width from the CURRENT accumulated corpus and, when it crossed
    * a width boundary (bits grow as floor(log2(n DIV occ)) — roughly one
    * re-band per corpus DOUBLING), rewrite the band relation from the
    * stored full-width signs at the new width. This is the deployment
    * contract that let the per-batch path freeze bits at all: width
    * drift is absorbed at compaction cadence, never per batch (the
    * SignatureLayout "re-bucket when you compact" rule applied to band
    * width). Returns (storedBits, currentBits) — equal = no-op.
    *
    * Crash contract: the sidecar is deleted FIRST and rewritten LAST;
    * between the two, [[upsertStored]] falls back to the in-plan-width
    * path (correct — signs are the source of truth; bands are derived
    * state) and never touches the mid-rewrite band relation. */
  def rebandStored(spark: SparkSession, dir: String, tables: Int = 4,
                   targetOcc: Int = 16): (Int, Int) = {
    val (bits, _) = storedBandSpec(spark, dir, tables, targetOcc).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no frozen-band sidecar — nothing to reband"))
    val signs = spark.read.parquet(s"$dir/signs")
    val n = signs.count()
    val nbits = graft.operators.NnDescent.bitsFor(n, targetOcc)
    if (nbits != bits) {
      val pparts = bandPartsFor(n * tables)
      val meta = new org.apache.hadoop.fs.Path(absPath(s"$dir/_graft_bands"))
      fs(spark, meta).delete(meta, false)
      writeBandsFull(spark, signs, s"$dir/bands_stage", nbits, pparts)
      SignatureLayout.swapIn(spark, s"$dir/bands", s"$dir/bands_stage")
      writeBandSpec(spark, dir, nbits, pparts, tables, targetOcc)
    }
    (bits, nbits)
  }

  def readGraph(spark: SparkSession, dir: String): DataFrame = {
    // self-heals BOTH crash shapes: a dir swap crashed between its two
    // renames (live absent, `_old` set-aside — readBucketed's recoverPath)
    // and a bucket-confined replace crashed mid-commit (marker present)
    recoverReplace(spark, s"$dir/graph")
    readBucketed(spark, dir, s"$dir/graph", Seq("vec_id", "rn"))
  }

  // ------------------------------------- bucket-confined replace protocol

  /** Bucket id parsed from a bucketed data file's `_NNNNN` name group
    * (survives the prefix renames below — Spark's own reader parses the
    * same trailing group); None for plain-parquet names. */
  private def bucketOf(name: String): Option[Int] =
    "_(\\d+)\\.".r.findFirstMatchIn(name).map(_.group(1).toInt)

  /** Replace ONLY the buckets staged in `stage` inside the live bucketed
    * relation — the per-batch commit of [[upsertStored]]. Contract: each
    * staged file holds the COMPLETE new content of its bucket. Protocol
    * (single concurrent writer, like every layout here):
    *
    *   1. write `_graft_replace` marker = `prefix.gen` (gen fresh per
    *      attempt) — underscore-named, invisible to scans;
    *   2. [[finishReplace]]: rename staged files to `prefix.gen-<name>`,
    *      drop the stage, delete superseded files (touched-bucket files
    *      not of this generation — INCLUDING this prefix's own
    *      older-generation files in every re-touched bucket, which is
    *      what makes a replay REPLACE its delta);
    *   3. drop the marker.
    *
    * A crash anywhere in 2 leaves the marker, and [[recoverReplace]]
    * re-runs it idempotently: renames consume staged files (a file is in
    * the stage or the live dir, never both), the generation tag keeps a
    * half-committed attempt's files from being deleted as "other
    * generation", and the touched-bucket set is re-derived from the
    * current generation's file names ∪ the remaining staged names. Until
    * step 2's deletes finish, a touched bucket transiently holds old AND
    * new rows — unreadable only by a concurrent reader, which this
    * layout's single-writer/reader-after-commit contract already
    * excludes.
    *
    * Deliberately NO prefix-wide pre-delete of older generations
    * (round-13, the round-12 ADVICE high): a crash-replay recomputes its
    * delta against the already-updated graph, so its touched-bucket set
    * can DIVERGE from the first commit's — a bucket touched only by the
    * first commit has that commit's file as its sole live content (the
    * original base file was superseded-deleted), and a prefix-wide
    * delete would remove it with no replacement, silently losing every
    * adjacency list hashing there. That content is still CORRECT under
    * replay — the replay's delta contains no ids hashing to an
    * untouched bucket (ids map to exactly one bucket), so per-bucket
    * supersede-replacement alone reduces any replay to a valid upsert. */
  private def replaceBuckets(spark: SparkSession, live: String, stage: String,
                             prefix: String): Unit = {
    val livep = new org.apache.hadoop.fs.Path(absPath(live))
    val f = fs(spark, livep)
    val gen = java.util.UUID.randomUUID().toString.take(8)
    val marker = new org.apache.hadoop.fs.Path(livep, "_graft_replace")
    val out = f.create(marker, true)
    try out.write(s"$prefix.$gen".getBytes("UTF-8")) finally out.close()
    finishReplace(spark, livep, new org.apache.hadoop.fs.Path(absPath(stage)),
      s"$prefix.$gen")
    f.delete(marker, false)
    ()
  }

  private def finishReplace(spark: SparkSession,
                            livep: org.apache.hadoop.fs.Path,
                            stagep: org.apache.hadoop.fs.Path,
                            tag: String): Unit = {
    val f = fs(spark, livep)
    if (f.exists(stagep)) {
      f.listStatus(stagep).map(_.getPath)
        .filter(_.getName.startsWith("part-")).foreach { p =>
          val to = new org.apache.hadoop.fs.Path(livep, s"$tag-${p.getName}")
          if (!f.rename(p, to))
            throw new java.io.IOException(s"bucket replace: rename $p -> $to failed")
        }
      f.delete(stagep, true)
      ()
    }
    val liveFiles = f.listStatus(livep).map(_.getPath)
      .filter(!_.getName.startsWith("_"))
    val touched = liveFiles.filter(_.getName.startsWith(s"$tag-"))
      .flatMap(p => bucketOf(p.getName)).toSet
    liveFiles
      .filter { p =>
        !p.getName.startsWith(s"$tag-") &&
          bucketOf(p.getName).exists(touched.contains)
      }
      .foreach { p =>
        if (!f.delete(p, false))
          throw new java.io.IOException(s"bucket replace: supersede-delete $p failed")
      }
  }

  /** Finish a bucket-confined replace that crashed mid-commit (marker
    * present). Idempotent no-op otherwise. */
  private def recoverReplace(spark: SparkSession, live: String): Unit = {
    val livep = new org.apache.hadoop.fs.Path(absPath(live))
    val f = fs(spark, livep)
    val marker = new org.apache.hadoop.fs.Path(livep, "_graft_replace")
    if (f.exists(livep) && f.exists(marker)) {
      val in = f.open(marker)
      val tag = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      finishReplace(spark, livep,
        new org.apache.hadoop.fs.Path(absPath(live + "_stage")), tag)
      f.delete(marker, false)
      refresh(spark, live)
    }
  }
}
