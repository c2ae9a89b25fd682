package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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

  /** Floor bucket count — matches local[32]. For the bucket-CONFINED
    * maintenance below the bucket count is the IO-confinement grain: a
    * micro-batch rewrites ~min(buckets, batch·(1+recut-spread)) buckets,
    * so buckets ≫ typical batch size is what makes per-batch write
    * volume O(batch), not O(corpus) (round-12; `graft.Prof graph-incr`
    * measures the fraction). */
  private val DefaultBuckets = 32

  /** Target graph rows (n·k) per bucket for AUTO-sized artifacts —
    * constant bucket bytes as the corpus grows, which is what makes
    * per-batch write IO corpus-INDEPENDENT (round-12, SCALE.md
    * "Bucket-confined graph maintenance": 98% → 42% → 5.4% of live bytes
    * per batch across three decades at exactly this grain: 16k/32,
    * 160k/320, 1.6M/3200 rows per relation = ~500 rows per bucket).
    * Round-13 (r12 verdict #3): derived by default instead of hand-set per run. */
  private val TargetBucketRows = 500L

  /** buckets = clamp(32, 2^16, graphRows / 500) — `graphRows` is n·k. */
  private[graft] def bucketsFor(graphRows: Long): Int =
    math.max(DefaultBuckets,
      math.min(1 << 16, (graphRows / TargetBucketRows).toInt))

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

  /** Bucket count of an existing artifact from its sidecar; 0 for a
    * pre-bucketing (plain-parquet) artifact. Loudly rejects a sidecar
    * whose COLUMN spec differs from this build's. (private[graft]: the
    * profilers report the derived grain.) */
  private[graft] def storedBuckets(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(absPath(s"$dir/_graft_buckets"))
    val f = fs(spark, p)
    if (!f.exists(p)) 0
    else {
      val in = f.open(p)
      val raw = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      val b = raw.takeWhile(_ != ';').toInt
      require(raw == specString(b),
        s"graph layout at $dir was bucketed as '$raw', this build expects " +
          s"'${specString(b)}' — rewrite the artifact")
      b
    }
  }

  // ------------------------------------------- frozen band-key relation

  /** Target band rows (n·tables) per `pb=` partition of the persisted
    * band relation — same constant-bytes rule as [[TargetBucketRows]]. */
  private val TargetBandRows = 500L

  private[graft] def bandPartsFor(bandRows: Long): Int =
    math.max(DefaultBuckets,
      math.min(1 << 16, (bandRows / TargetBandRows).toInt))

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

  /** Read the stored band relation (explicit schema: an empty-base
    * artifact has a data-file-less dir, where schema inference throws),
    * optionally pruned to a set of `pb` partitions — pruned reads go BY
    * EXPLICIT SUBDIR PATH, not a partition filter: a filter still lists
    * every `pb=` dir before pruning (1,600 driver-side dir listings per
    * micro-batch at sf10), a path list only touches the batch's dirs —
    * the IVF-partition precedent: per-batch IO is O(touched partitions),
    * never a corpus term. */
  private def readBands(spark: SparkSession, dir: String,
                        pbs: Option[Seq[Int]]): DataFrame = pbs match {
    case None =>
      spark.read.schema(s"$BandSchema, pb INT").parquet(s"$dir/bands")
        .select("vec_id", "t", "bkey")
    case Some(s) =>
      val root = new org.apache.hadoop.fs.Path(absPath(s"$dir/bands"))
      val f = fs(spark, root)
      // exists-filter: a pb value with no stored rows has no dir (80
      // bounded driver-side probes, vs listing every partition)
      val paths = s.map(v => new org.apache.hadoop.fs.Path(root, s"pb=$v"))
        .filter(f.exists(_)).map(_.toString)
      if (paths.isEmpty)
        spark.emptyDataFrame.selectExpr("CAST(0 AS LONG) vec_id",
          "CAST(0 AS LONG) t", "CAST('' AS STRING) bkey").limit(0)
      else spark.read.schema(BandSchema).parquet(paths: _*)
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
    * re-registers in any JVM. `sortCols` must start with vec_id.
    *
    * One file per bucket per snapshot either way: the default
    * `repartition(buckets, vec_id)` is one bucket per task (full write
    * parallelism — the base-snapshot path); `maxTasks < buckets`
    * repartitions on the bucket-id EXPRESSION instead (same murmur3 pmod
    * as the bucket-id function), so a task holds WHOLE buckets and each
    * still writes exactly one file — the per-batch stage path, where a
    * corpus-grain task count (3199 launches for ~20 rows of delta at
    * sf10) was ~18 s of the per-batch commit wall (round-13 measured). */
  private def stageBucketed(spark: SparkSession, df: DataFrame, path: String,
                            sortCols: Seq[String], buckets: Int,
                            maxTasks: Int = 0): Unit = {
    val t = tableName(path)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val p = new org.apache.hadoop.fs.Path(absPath(path))
    val f = fs(spark, p)
    if (f.exists(p)) { f.delete(p, true); () }
    val parted =
      if (maxTasks > 0 && maxTasks < buckets)
        df.repartition(maxTasks,
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(col("vec_id")),
            org.apache.spark.sql.functions.lit(buckets)))
      else df.repartition(buckets, col("vec_id"))
    parted
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", absPath(path))
      .bucketBy(buckets, "vec_id").sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(t)
    spark.sql(s"DROP TABLE $t")
  }

  /** Scope a SQL conf around an eager, self-contained execution (the
    * StreamOps withShufflePartitions pattern — never around lazy plan
    * construction). */
  private def withSqlConf[T](spark: SparkSession, key: String, value: String)
                            (body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Register (if needed) and read the bucketed external table at `path`;
    * plain-parquet fallback when the artifact predates the bucketed
    * layout (no sidecar in `specDir`). */
  private def readBucketed(spark: SparkSession, specDir: String, path: String,
                           sortCols: Seq[String]): DataFrame = {
    SignatureLayout.recoverPath(spark, absPath(path))
    val b = storedBuckets(spark, specDir)
    if (b == 0) spark.read.parquet(path)
    else {
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
    val writes = Seq(
      Future(stageBucketed(spark,
        graft.operators.NnDescent.knnGraph(index, k, tables, rounds, targetOcc),
        s"$dir/graph", Seq("vec_id", "rn"), b)),
      Future(graft.operators.NnDescent.signsOf(index, tables)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/signs")),
      Future(writeBandsFull(spark,
        graft.operators.NnDescent.signsOf(index, tables),
        s"$dir/bands", bits, pparts)))
    SignatureLayout.drainAll(writes) // drain-before-propagate (r13 ADVICE)
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
    val writes = Seq(
      Future(stageBucketed(spark,
        graft.operators.NnDescent.knnGraph(old, k, tables, rounds, targetOcc),
        s"$dir/graph", Seq("vec_id", "rn"), b)),
      Future(stageBucketed(spark, old.select("vec_id", "embedding"),
        s"$dir/vectors", Seq("vec_id"), b)),
      Future(graft.operators.NnDescent.signsOf(old, tables)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/signs")),
      Future(writeBandsFull(spark,
        graft.operators.NnDescent.signsOf(old, tables),
        s"$dir/bands", bits, pparts)))
    SignatureLayout.drainAll(writes) // drain-before-propagate (r13 ADVICE)
    writeSpec(spark, dir, b)
    writeBandSpec(spark, dir, bits, pparts, tables, targetOcc)
  }

  /** One micro-batch of graph maintenance against the STORED artifact:
    * read graph + accumulated vectors + signs (bucketed/narrow — the
    * corpus embedding column is never re-scanned, and vec_id-keyed
    * stored sides arrive pre-partitioned), place the batch, and commit
    * BUCKET-CONFINED (round-12, the round-11 verdict's #1):
    * [[graft.operators.NnDescent.graphUpsertDeltaWith]] computes lists
    * for ONLY the touched nodes (batch ∪ re-cut old — untouched lists
    * are provably unchanged, see its scaladoc), the touched ids map to
    * their buckets (`pmod(hash(vec_id), buckets)` — the exact murmur3
    * bucket-id function the writer used), ONLY those buckets' live files
    * are read back (by their `_NNNNN` name suffix; bucket membership is
    * not a scan predicate) to carry the buckets' untouched rows, and
    * [[replaceBuckets]] swaps in one file per touched bucket. Per-batch
    * compute is O(batch + recut) and per-batch IO is O(touched buckets),
    * not O(n·k) — the reference's HNSW insert touches only affected
    * adjacency lists (`vector_search_tool.py:42-46`); the r11 form
    * rewrote the whole corpus-sized relation per micro-batch. Then the
    * batch's vectors (bucket-suffixed files — the staged bucket ids stay
    * valid under rename) and signs append under the batch's file prefix
    * so the next micro-batch sees them. Replay safety is
    * [[graft.operators.NnDescent.graphUpsertWith]]'s anti-join guards
    * plus [[replaceBuckets]]'s generation protocol: a batch re-applied
    * after a crash anywhere between the graph commit and the checkpoint
    * commit REPLACES its own delta (prefix-keyed files) and reduces to a
    * valid upsert, never duplicate lists. Pre-bucketed artifacts (no
    * sidecar — plain file names carry no bucket id) fall back to the
    * full stage + dir swap. */
  def upsertStored(spark: SparkSession, dir: String, batch: DataFrame,
                   batchId: String, k: Int = 8, tables: Int = 4,
                   targetOcc: Int = 16): Unit = {
    recoverReplace(spark, s"$dir/graph")
    // a foreachBatch source relation re-plans per ACTION, and this method
    // references it from ~six subtrees (ids, signs, both score sides, the
    // two appends) — one eager checkpoint makes every later reference a
    // local read (O(batch) rows; the micro-batch is small by contract)
    val batch0 = batch.localCheckpoint(true)
    val oldVecs = readBucketed(spark, dir, s"$dir/vectors", Seq("vec_id"))
    val gFull = readBucketed(spark, dir, s"$dir/graph", Seq("vec_id", "rn"))
    val g = gFull.select(col("vec_id").as("a"), col("nbr").as("b"))
    val buckets = storedBuckets(spark, dir)
    if (buckets == 0) {
      // legacy plain-parquet artifact: no bucket ids in file names to
      // confine by — the pre-r12 full rewrite remains the honest path
      stageBucketed(spark,
        graft.operators.NnDescent
          .graphUpsertWith(oldVecs, g, batch0.select("vec_id", "embedding"),
            k, tables, targetOcc,
            oldSigns = Some(spark.read.parquet(s"$dir/signs"))),
        s"$dir/graph_stage", Seq("vec_id", "rn"), DefaultBuckets)
      SignatureLayout.swapIn(spark, s"$dir/graph", s"$dir/graph_stage")
    } else {
      // touched lists only, MATERIALIZED before any live file moves (the
      // plan reads the files the commit below replaces). Band keys come
      // from the FROZEN-width persisted band relation when the artifact
      // carries one (round-13, the r12 verdict #1): the batch's own keys
      // are cut at the sidecar's width — no count — and the corpus side
      // is a directory-PRUNED read of only the batch's band-key
      // partitions, so the per-batch banding probe does O(batch)
      // compute + O(touched partitions) IO where the in-plan form
      // scanned, counted and re-keyed the whole sign relation every
      // micro-batch (37 s of the ~38 s sf10 per-batch wall). Pre-frozen
      // artifacts (no `_graft_bands`) keep the in-plan path.
      val bandSpec = storedBandSpec(spark, dir, tables, targetOcc)
      val (batchBands, deltaDf) = bandSpec match {
        case Some((bits, pparts)) =>
          // no checkpoint: batch0 already is one, and bb is a local
          // projection of it — its two actions (pb collect, band append)
          // each recompute cheaper than an extra eager job costs
          val bb = graft.operators.NnDescent
            .bandKeysAt(graft.operators.NnDescent
              .signsOf(batch0.select("vec_id", "embedding"), tables), bits)
            .withColumn("pb", pbCol(pparts))
          // bounded driver-side list: ≤ min(pparts, batch·tables) ints
          val pbs = bb.select("pb").distinct().collect().map(_.getInt(0)).toIndexedSeq
          val stored = readBands(spark, dir, Some(pbs))
          (Some(bb), graft.operators.NnDescent
            .graphUpsertDeltaWith(oldVecs, g, batch0.select("vec_id", "embedding"),
              k, tables, targetOcc,
              frozenBits = Some(bits), storedBands = Some(stored)))
        case None =>
          (None, graft.operators.NnDescent
            .graphUpsertDeltaWith(oldVecs, g, batch0.select("vec_id", "embedding"),
              k, tables, targetOcc,
              oldSigns = Some(spark.read.parquet(s"$dir/signs"))))
      }
      // bucketed-scan OFF around the delta materialization (round-13):
      // every join in the micro-batch delta broadcasts the O(batch) side,
      // so a bucketed scan's one-partition-per-bucket shape is pure task
      // scheduling — at sf10's auto grain (3199 buckets) the ~4 stored-
      // relation scans cost ~20 s of launches for the same bytes; the
      // coalesced plain scans read identically. Scoped to this EAGER
      // checkpoint only (the commits below WRITE bucketed tables, which
      // requires the conf on), and only for micro-batch-sized batches —
      // a corpus-scale batch's delta wants the co-partitioned joins.
      val delta =
        if (batch0.count() <= 10000L)
          withSqlConf(spark, "spark.sql.sources.bucketing.enabled", "false") {
            deltaDf.localCheckpoint(true)
          }
        else deltaDf.localCheckpoint(true)
      val touchedBk = delta
        .select(org.apache.spark.sql.functions
          .pmod(org.apache.spark.sql.functions.hash(col("vec_id")),
            org.apache.spark.sql.functions.lit(buckets)).as("bk"))
        .distinct().collect().map(_.getInt(0)).toSet
      val livep = new org.apache.hadoop.fs.Path(absPath(s"$dir/graph"))
      val touchedFiles = fs(spark, livep).listStatus(livep).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") &&
          bucketOf(p.getName).exists(touchedBk.contains))
        .map(_.toString)
      // the touched buckets' untouched rows ride along into the staged
      // files; the anti-join's touched-id side is O(batch·k) — broadcast
      val keep =
        if (touchedFiles.isEmpty) delta.limit(0) // empty base snapshot
        else spark.read.parquet(touchedFiles.toIndexedSeq: _*)
          .join(org.apache.spark.sql.functions.broadcast(
            delta.select("vec_id").distinct()), Seq("vec_id"), "left_anti")
      // the three per-batch commits — graph bucket replace, vector append,
      // sign append — are independent relations on disjoint paths: submit
      // CONCURRENTLY (the writeArt/compact precedent — sequential
      // submission serialized ~10 small jobs' stage tails per micro-batch).
      // A crash leaving ANY subset committed still replays to a valid
      // upsert: graphUpsertDeltaWith anti-joins the batch ids out of every
      // stored side, and each commit is prefix-keyed (replace, not append
      // twice), so commit ORDER carries no correctness weight here.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val commits = Seq(
        Future {
          // per-batch stage: task count capped (the maxTasks note) — the
          // staged rows are O(touched buckets), not O(corpus)
          stageBucketed(spark, keep.unionByName(delta),
            s"$dir/graph_stage", Seq("vec_id", "rn"), buckets, maxTasks = 64)
          replaceBuckets(spark, s"$dir/graph", s"$dir/graph_stage", s"${batchId}g")
          refresh(spark, s"$dir/graph")
        },
        Future {
          // batch vectors: bucketed stage + suffix-preserving rename append
          stageBucketed(spark, batch0.select("vec_id", "embedding"),
            s"$dir/vec_stage", Seq("vec_id"), buckets, maxTasks = 64)
          SignatureLayout.moveInto(spark, s"$dir/vec_stage", s"$dir/vectors", batchId)
          refresh(spark, s"$dir/vectors")
        },
        Future {
          // batch signs: plain append under the same idempotent prefix
          // (signs stay the full-width source of truth the reband op
          // re-derives band keys from)
          graft.operators.NnDescent
            .signsOf(batch0.select("vec_id", "embedding"), tables)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/sign_stage")
          SignatureLayout.moveInto(spark, s"$dir/sign_stage", s"$dir/signs",
            s"$batchId-sg")
        }) ++ batchBands.map(bb => Future {
          // batch band keys: partitioned append under the batch prefix so
          // the NEXT micro-batch's pruned probe sees this batch's rows;
          // a replay stages the same partitions (keys are deterministic
          // in batch content) and REPLACES its delta per partition
          bb.repartition(col("pb"))
            .write.mode(SaveMode.Overwrite).partitionBy("pb")
            .parquet(s"$dir/band_stage")
          moveIntoPartitioned(spark, s"$dir/band_stage", s"$dir/bands",
            s"$batchId-bd")
        })
      SignatureLayout.drainAll(commits) // drain-before-propagate (r13 ADVICE)
      return
    }
    refresh(spark, s"$dir/graph")
    // legacy path: sequential commits, order graph -> vectors -> signs
    stageBucketed(spark, batch0.select("vec_id", "embedding"),
      s"$dir/vec_stage", Seq("vec_id"), DefaultBuckets)
    SignatureLayout.moveInto(spark, s"$dir/vec_stage", s"$dir/vectors", batchId)
    refresh(spark, s"$dir/vectors")
    graft.operators.NnDescent
      .signsOf(batch0.select("vec_id", "embedding"), tables)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/sign_stage")
    SignatureLayout.moveInto(spark, s"$dir/sign_stage", s"$dir/signs",
      s"$batchId-sg")
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
