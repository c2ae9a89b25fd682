package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Structured Streaming surface (SURVEY.md §2.8 streaming; the reference's
  * implied-but-unwritten incremental path — content hashes "for change
  * detection" at indexing_agent.py:28-31 and an unused watchdog dependency).
  *
  * The windowed aggregation is the canonical streaming shape: file source →
  * event-time tumbling window → stateful agg. Run here against the static
  * events parquet through the memory sink so the result is a deterministic
  * batch-comparable DataFrame (the oracle runs the batch-equivalent SQL).
  * On a real cluster the same plan runs continuously with a watermark.
  */
object StreamOps {

  private val counter = new AtomicInteger(0)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily lowered.
    * Stateful streaming queries open/commit one state store per shuffle
    * partition per micro-batch; for the memory-sink harness (bounded key
    * space, single JVM) 32 stores are pure overhead. The conf is read at
    * query START, so scoping it around `start()`+`processAllAvailable()`
    * affects only this query; batch queries keep the session default.
    */
  /** File-schema streaming read of the events table with `ts` normalized
    * to INT64 epoch nanos ([[Tables.tsToNanos]]) — the same contract the
    * batch loaders expose, kept in ONE place so a driver testdata
    * regeneration (TIMESTAMP(NANOS) → timestamp[us] in round 6) can't
    * split the batch and streaming paths. readStream needs the FILE's own
    * schema; the normalization is a projection on top. */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tsToNanos(
      spark.readStream.schema(Tables.eventsFileSchema(spark, sfDir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))

  private[graft] def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Run `sink` to completion into a memory sink named `qname`, build the
    * returned result from the sink table via `finish`, then DROP the temp
    * view. Dataset construction resolves the view into the plan eagerly, so
    * the returned frame stays valid — but the globally-registered view
    * (which pins the full sink table on the driver) does not outlive the
    * call, so repeated invocations no longer accumulate catalog entries
    * (ADVICE round 4; mirrors streamedDecontam's temp-dir cleanup). */
  private def memorySinkResult(sink: DataFrame, qname: String, mode: String)
                              (finish: DataFrame => DataFrame): DataFrame = {
    val spark = sink.sparkSession
    // one try spans start-to-finish: a failing stream (bad input file,
    // sink OOM) must ALSO drop the view `start()` registered, or a caller
    // retrying failed streams accumulates exactly the catalog entries
    // this helper exists to stop leaking. Dropping a never-registered
    // view (start() itself threw) is a harmless false return.
    try {
      withShufflePartitions(spark, 4) {
        val q = sink.writeStream.outputMode(mode).format("memory").queryName(qname).start()
        try q.processAllAvailable() finally q.stop()
      }
      finish(spark.table(qname))
    } finally { spark.catalog.dropTempView(qname); () }
  }

  /** Tumbling 6-hour count per event type, executed as a streaming query. */
  def streamedEventsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventsStream(spark, sfDir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val agg = stream
      .groupBy(window(col("ts_t"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val qname = s"graft_stream_win_${counter.incrementAndGet()}"
    memorySinkResult(agg, qname, "complete") { t =>
      t.select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("n"))
        .orderBy("bucket", "event_type")
    }
  }

  def duckStreamedEventsWindow: String =
    s"""SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       |       event_type, count(*)::BIGINT AS n
       |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** Running per-user totals carried in explicit keyed state. */
  case class UserTotals(n: Long, minUs: Long, maxUs: Long)

  /** Stateful streaming aggregation via `mapGroupsWithState`: per-user
    * running (count, first-seen, last-seen) totals held in a
    * `GroupState[UserTotals]` that survives micro-batch boundaries — the
    * custom-state shape (`KeyValueGroupedDataset.mapGroupsWithState`) that
    * windowed aggs can't express. Every state field is an exact integer
    * merged with order-insensitive ops (+, min, max), so the result is
    * deterministic regardless of how the source splits into batches or how
    * rows arrive within a group iterator.
    *
    * Update-mode emissions re-emit a key's totals each batch it appears in;
    * the `row_number` keep-latest picks the final value (n is strictly
    * monotone). On a live stream the same pattern runs unbounded with a
    * state TTL; see StreamStateSpec for the multi-batch state-carry proof.
    *
    * The static `user_id < 20` predicate is applied to the SOURCE, before
    * `groupByKey`: keyed state is maintained only for the 20 queried users,
    * not the whole user space — at 100 TB that's the difference between a
    * bounded state store and an OOM. Semantics are identical (the predicate
    * is on the grouping key, so it commutes with the aggregation).
    */
  def streamedUserTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val stream = eventsStream(spark, sfDir)
    streamedUserTotalsOf(stream, s"graft_stream_tot_${counter.incrementAndGet()}")
  }

  /** Core of [[streamedUserTotals]], parameterized by source for tests. */
  def streamedUserTotalsOf(stream: DataFrame, qname: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = stream
      .filter(col("user_id") < 20)
      .select(col("user_id").cast("long"), expr("ts div 1000").as("us"))
      .as[(Long, Long)]
    val updated = typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[UserTotals]) =>
          var s = state.getOption.getOrElse(UserTotals(0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, us) =>
            s = UserTotals(s.n + 1, math.min(s.minUs, us), math.max(s.maxUs, us))
          }
          state.update(s)
          (uid, s.n, s.minUs, s.maxUs)
      }
      .toDF("user_id", "n_events", "first_us", "last_us")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("n_events"))
    memorySinkResult(updated, qname, "update") { t =>
      t.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "n_events", "first_us", "last_us")
        .orderBy("user_id")
    }
  }

  def duckStreamedUserTotals: String =
    s"""SELECT user_id, count(*)::BIGINT AS n_events,
       |       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
       |FROM events WHERE user_id < 20
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming sessionization via the native `session_window` state
    * operator — the dynamic-gap windowing that tumbling windows cannot
    * express and the batch [[graft.operators.Relational.sessionize]]
    * emulates with lag + running-sum windows. Here the engine MERGES
    * session state incrementally as events arrive (gap 30 min), the shape
    * that scales to an unbounded stream.
    *
    * Semantics note, encoded in the oracle: `session_window` windows are
    * `[t, t+gap)` and merge on OVERLAP, so a gap of exactly 30 min starts
    * a NEW session (`diff >= gap`), while the batch sessionize's
    * `diff > gap` keeps it — the half-open-interval fencepost between the
    * two formulations. Emitted bounds are min/max raw event micros (not
    * the gap-padded window end), so the result is pure integer arithmetic.
    *
    * Complete output mode: the memory-sink harness holds the full (tiny:
    * user_id < 20, source-side pushdown) session table; a production run
    * uses append mode + watermark, which emits each session once its
    * gap-padded end passes the watermark. */
  def streamedSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventsStream(spark, sfDir)
    streamedSessionsOf(stream, s"graft_stream_sess_${counter.incrementAndGet()}")
  }

  /** Core of [[streamedSessions]], parameterized by source so the spec can
    * split the events mid-session across micro-batches (session state must
    * MERGE across triggers, not just accumulate). */
  def streamedSessionsOf(src: DataFrame, qname: String): DataFrame = {
    val stream = src
      .filter(col("user_id") < 20)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .withColumn("us", expr("ts div 1000"))
    val sess = stream
      .groupBy(col("user_id"), session_window(col("ts_t"), "30 minutes").as("w"))
      .agg(min("us").as("start_us"), max("us").as("end_us"),
        count(lit(1)).as("n_events"))
    memorySinkResult(sess, qname, "complete") { t =>
      t.select(col("user_id"), col("start_us"), col("end_us"), col("n_events"),
          (col("end_us") - col("start_us")).as("duration_us"))
        .orderBy("user_id", "start_us")
    }
  }

  /** DuckDB mirror of [[streamedSessions]] — lag + running sum with the
    * session_window `>= gap` split rule (see semantics note above). */
  def duckStreamedSessions: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE user_id < 20),
       |l AS (SELECT user_id, event_id, us,
       |             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
       |      FROM e),
       |n AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
       |      FROM l),
       |s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                     ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM n)
       |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
       |       count(*)::BIGINT AS n_events, max(us) - min(us) AS duration_us
       |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  /** Streaming exact dedup — the LLM-pipeline dedup shape on a stream:
    * `dropDuplicates` keyed on (lang, content-hash) inside the streaming
    * query (the canonical streaming-dedup state operator), append-mode sink
    * of the surviving rows, then a batch per-lang distinct count over the
    * sink. The key includes lang, so the result is arrival-order
    * independent and equals the batch oracle exactly. On an unbounded
    * stream the same pipeline runs with a watermark +
    * `dropDuplicatesWithinWatermark` so the key state has a TTL. */
  /** The streaming dedup pipeline itself (source → key projection →
    * dropDuplicates), shared by the memory-sink harness entry and the
    * production-sink spec so the two paths cannot diverge. */
  def dedupedDocsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = Tables.documents(spark, sfDir).schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      // coalesce: a NULL text would hash to NULL, which dropDuplicates
      // keeps as a key while the oracle's count(DISTINCT ...) skips —
      // pinning both engines to md5('') keeps the contract exact even on
      // corpora with NULL rows (round-4 review; testdata has none today)
      .select(col("lang"), md5(coalesce(col("text"), lit(""))).as("h"))
      .dropDuplicates("lang", "h")
  }

  def streamedDedupCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = dedupedDocsStream(spark, sfDir)
    val qname = s"graft_stream_dedup_${counter.incrementAndGet()}"
    // memory sink is HARNESS-ONLY (bounded aggregated output, single JVM —
    // it buffers results on the driver). The production sink for the same
    // pipeline is foreachBatch → parquet: proven result-identical in
    // StreamStateSpec ("foreachBatch parquet sink"), and demonstrated
    // end-to-end by streamingReindex below.
    memorySinkResult(deduped, qname, "append") { t =>
      t.groupBy("lang").agg(count(lit(1)).as("n_unique"))
        .orderBy("lang")
    }
  }

  def duckStreamedDedupCounts: String =
    """SELECT lang, count(DISTINCT md5(coalesce(text, '')))::BIGINT AS n_unique
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Streaming benchmark decontamination — the continuous-ingest form of
    * [[graft.operators.CorpusOps.decontaminate]]: documents arrive as a
    * stream, the benchmark shingle set is STATIC (the eval suite exists
    * before ingestion starts) and broadcast into every micro-batch, and
    * each batch's per-doc overlap rows append to a parquet sink via
    * `foreachBatch` — the PRODUCTION sink shape, exercised here as an
    * oracle-gated query, not only as a spec. Per-doc metrics against a
    * static reference side are batch-partitioning-invariant (each doc is
    * wholly inside one micro-batch), so the streamed result is row-equal
    * to the batch operator and shares its DuckDB oracle.
    */
  def streamedDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFns.shingleRowsOf
    import graft.operators.CorpusOps
    val docs = Tables.documents(spark, sfDir)
    val (benchMod, n) = (CorpusOps.DefaultBenchMod, CorpusOps.DefaultShingleN)
    val bsh = shingleRowsOf(docs.filter(col("doc_id") % benchMod === 0), n)
      .select(col("s")).distinct().cache()
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_decontam").toString
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % benchMod =!= 0)
    // overlapOf's output schema is static — derive it from a zero-row plan
    // (analysis only, no job) so the read-back below works even when no
    // micro-batch wrote a file (clean corpus → empty dir would otherwise
    // throw a schema-inference AnalysisException)
    val outSchema = CorpusOps.overlapOf(shingleRowsOf(docs.limit(0), n), bsh).schema
    // try/finally: the scratch parquet and the benchmark-shingle cache
    // must not outlive the call even when the streaming query throws
    // (round-4 review; Verify clears caches per query, but a LIBRARY
    // caller gets no such safety net)
    try {
      withShufflePartitions(spark, 4) {
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            CorpusOps.overlapOf(shingleRowsOf(batch, n).distinct(), bsh)
              .write.mode("append").parquet(outDir)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // materialize off the temp files (result is per-doc metric rows —
      // the same cardinality the memory sink would hold)
      spark.read.schema(outSchema).parquet(outDir)
        .orderBy("doc_id").localCheckpoint()
    } finally {
      bsh.unpersist()
      deleteRecursively(new java.io.File(outDir))
    }
  }

  /** Streaming PII scrub — the continuous-ingest form of
    * [[graft.operators.TextAnalysis.piiRedact]]: documents stream in,
    * each micro-batch's per-doc class rows ([[graft.operators.TextAnalysis
    * .piiDocRows]], a pure map) append to a parquet sink via `foreachBatch`
    * (the production shape, as [[streamedDecontam]]), and the batch
    * aggregate runs over the sink. Per-doc rows are batch-partitioning-
    * invariant and the aggregate sums exact integers, so the streamed
    * result is row-equal to the batch operator and shares its oracle.
    *
    * `staticExtra` is a static (doc_id, text) side input appended to the
    * sink OUTSIDE the stream — the gate's deterministic probe rows; a
    * deployment passes compliance canaries the same way. */
  def streamedPiiScrub(spark: SparkSession, sfDir: String,
                       staticExtra: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_pii").toString
    val outSchema = TextAnalysis.piiDocRows(docs.limit(0)).schema
    try {
      TextAnalysis.piiDocRows(staticExtra.select(col("text")))
        .write.mode("append").parquet(outDir)
      withShufflePartitions(spark, 4) {
        val stream = spark.readStream.schema(docs.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            TextAnalysis.piiDocRows(batch.select(col("text")))
              .write.mode("append").parquet(outDir)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      TextAnalysis.piiAggregate(
        spark.read.schema(outSchema).parquet(outDir))
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(outDir))
  }

  /** Streaming form of [[graft.operators.TextAnalysis.driftReport]] — the
    * production shape of the drift monitor: the crawl batch arrives as a
    * STREAM, each micro-batch contributes partial per-token counts to the
    * sink (counts are associative, so partials summed downstream equal the
    * one-shot count exactly — integer arithmetic end to end), and the
    * report compares the accumulated batch vocabulary against the standing
    * corpus. Emits the IDENTICAL report to the batch operator (same slice,
    * same quantized-log score, same tiebreaks), so the one oracle gates
    * both — the streamedDecontam/PiiScrub convention.
    *
    * Scale shape: the per-micro-batch work is one tokenize + partial
    * count (bounded by micro-batch size); the corpus side tokenizes ONCE
    * into a cached vocab-cardinality relation read by the join and the ct
    * total — cached-derived aggregate build side on the high-cardinality
    * token key → the mandatory-cache hint("merge") pin (bm25 precedent).
    * The sink holds (token, cnt) partials, ≪ token occurrences. Explicit
    * sink schema so an empty batch slice yields the empty report instead
    * of a schema-inference failure (the streamedDecontam lesson). */
  def streamedDrift(spark: SparkSession, sfDir: String,
                    batchMod: Int = 10, batchRem: Int = 7, topN: Int = 20): DataFrame = {
    import graft.functions.TextFns.tokens
    val docs = Tables.documents(spark, sfDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_drift").toString
    try {
      withShufflePartitions(spark, 4) {
        val stream = spark.readStream.schema(docs.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .filter(col("doc_id") % batchMod === batchRem)
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.select(explode(tokens(col("text"))).as("token"))
              .groupBy("token").agg(count(lit(1)).as("cnt"))
              .write.mode("append").parquet(outDir)
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val batchCnt = spark.read.schema("token STRING, cnt BIGINT").parquet(outDir)
        .groupBy("token").agg(sum("cnt").as("batch_cnt"))
      val corpusCnt = docs.filter(col("doc_id") % batchMod =!= batchRem)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("corpus_cnt"))
        .cache()
      def lb(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast("long")
      // inner finally: the checkpoint materializes the report, after which
      // the scratch cache is released by handle — and a FAILING read-back
      // or join must release it too, or a library caller retrying leaks a
      // corpus-cardinality cache entry (the streamedDecontam precedent)
      try {
        val bt = batchCnt.agg(sum("batch_cnt").as("bt"))
        val ct = corpusCnt.agg(sum("corpus_cnt").as("ct"))
        batchCnt.join(corpusCnt.hint("merge"), Seq("token"), "left")
          .withColumn("corpus_cnt", coalesce(col("corpus_cnt"), lit(0L)))
          .crossJoin(broadcast(bt)).crossJoin(broadcast(ct))
          .withColumn("drift_q",
            lb(col("batch_cnt") * col("ct")) - lb((col("corpus_cnt") + 1) * col("bt")))
          .orderBy(desc("drift_q"), desc("batch_cnt"), asc("token"))
          .limit(topN)
          .select(col("token"), col("corpus_cnt"), col("batch_cnt"), col("drift_q"))
          .localCheckpoint()
      } finally { corpusCnt.unpersist(); () }
    } finally deleteRecursively(new java.io.File(outDir))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Stream-stream interval join: purchases attributed to a prior view by
    * the same user within one hour — the canonical event-time join shape
    * (two watermarked streams, equi-key + time-range condition). Inner
    * stream-stream joins emit matches eagerly; the 2-hour watermarks bound
    * join STATE, which is what survives an unbounded run — without them
    * both sides buffer forever. The memory sink collects the matched pairs
    * (append mode); the per-user rollup is batch over the sink, identical
    * to the batch oracle. */
  def streamedViewPurchaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    viewPurchaseJoinOf(src, s"graft_stream_join_${counter.incrementAndGet()}", "2 hours")
  }

  /** Core of [[streamedViewPurchaseJoin]], parameterized by source and
    * watermark delay for the multi-batch state-carry spec. */
  def viewPurchaseJoinOf(src: DataFrame, qname: String, delay: String): DataFrame = {
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_t").as("v_ts"), col("event_id").as("v_id"))
      .withWatermark("v_ts", delay)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", delay)
    val joined = views.join(purchases,
      expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour"))
    memorySinkResult(joined, qname, "append") { t =>
      t.groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("v_id")).as("n_views_matched"),
          countDistinct(col("p_id")).as("n_purchases_matched"))
        .orderBy("user_id")
    }
  }

  def duckStreamedViewPurchaseJoin: String =
    """SELECT v.user_id, count(*)::BIGINT AS n_pairs,
      |       count(DISTINCT v.event_id)::BIGINT AS n_views_matched,
      |       count(DISTINCT p.event_id)::BIGINT AS n_purchases_matched
      |FROM events v JOIN events p
      |  ON p.user_id = v.user_id
      | AND epoch_us(p.ts) >= epoch_us(v.ts)
      | AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
      |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin

  /** Continuous incremental re-index: the reference's planned-but-unwritten
    * file-watch loop (watchdog dependency with zero call sites,
    * requirements.txt:12; content hashes "for change detection",
    * indexing_agent.py:28-31) realized as a Structured Streaming file source
    * + `foreachBatch` upsert. Each micro-batch chunks and embeds ONLY the
    * newly appeared files and merges them into the parquet index through the
    * same delete-insert-per-file upsert as the batch build, so the streaming
    * and batch paths cannot diverge.
    * Returns the running query: callers `processAllAvailable()` to barrier
    * on "everything currently visible is indexed" and `stop()` when done; on
    * a real deployment the query runs unbounded.
    */
  /** Streaming frozen-vocabulary tokenization — hand-off item: the trained
    * BPE merge list applied to every arriving micro-batch through the
    * production foreachBatch→parquet sink, the [[streamedDrift]] shape.
    * Train once on the even-doc_id snapshot (frozen, checkpointed), then
    * per batch run [[graft.operators.Bpe]]'s merge application on the
    * batch's word-freq state and sink the per-batch (sym, word, Σfreq)
    * PARTIALS; the final profile aggregates the sink. Correct under any
    * batch split because merge application is per-word and the profile's
    * aggregates are linear in word counts (countDistinct unions words,
    * freq partials sum) — batch-split equivalence is spec-proven.
    * Output = the q_bpe_apply profile, row for row. */
  def streamedBpeApply(spark: SparkSession, sfDir: String,
                       iters: Int = 8, topN: Int = 30): DataFrame = {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sfDir)
    val merges = Bpe.learn(docs.filter(col("doc_id") % 2 === 0), iters)
      .localCheckpoint(true) // the FROZEN artifact: train once, apply per batch
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 2 =!= 0)
    streamedBpeApplyOf(stream, merges, iters, topN)
  }

  /** The sink core of [[streamedBpeApply]] over an arbitrary document
    * stream and frozen merge list — the batch-split-equivalence spec
    * drives it with a two-file source at maxFilesPerTrigger=1. */
  private[graft] def streamedBpeApplyOf(stream: DataFrame, merges: DataFrame,
                                        iters: Int, topN: Int = 30): DataFrame = {
    import graft.operators.Bpe
    val spark = stream.sparkSession
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_bpe").toString
    try {
      withShufflePartitions(spark, 4) {
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            Bpe.applyState(b, merges, iters)
              .groupBy("sym", "word").agg(sum("freq").as("f"))
              .write.mode("append").parquet(outDir)
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      spark.read.schema("sym STRING, word STRING, f BIGINT").parquet(outDir)
        .groupBy("sym")
        .agg(countDistinct(col("word")).as("n_words"), sum("f").as("total_freq"))
        .orderBy(desc("total_freq"), asc("sym"))
        .limit(topN)
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(outDir))
  }

  /** Streaming frozen-model Naive-Bayes scoring — the trained-classifier
    * counterpart of [[streamedBpeApply]]'s frozen vocabulary: the model is
    * trained once from the persisted sufficient statistics
    * ([[graft.sources.NbLayout.ensureModel]] — at 100 TB the ingest-time
    * artifact, never retrained per query), eagerly checkpointed (two
    * bounded relations: ≤ C·B score rows, C class rows), then every
    * arriving micro-batch of held-out documents is scored and argmax'd
    * through the production foreachBatch→parquet sink. Classification is
    * per-doc and a file-stream never splits a document row, so the final
    * relation is row-equal to the batch classifier under ANY micro-batch
    * partitioning — the q_stream_nb gate checks that against
    * [[graft.operators.TextAnalysis.duckNbClassify]], and StreamStateSpec
    * pins a forced two-batch split against the batch path. */
  def streamedNbClassify(spark: SparkSession, sfDir: String,
                         testMod: Int = 5, buckets: Int = 1024): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (st, classes) =
      graft.sources.NbLayout.ensureModel(spark, docs, sfDir, testMod, buckets)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % testMod === 0)
    streamedNbClassifyOf(stream,
      st.localCheckpoint(true), classes.localCheckpoint(true), buckets)
  }

  /** The sink core of [[streamedNbClassify]] over an arbitrary document
    * stream and frozen model relations. */
  private[graft] def streamedNbClassifyOf(stream: DataFrame, st: DataFrame,
                                          classes: DataFrame,
                                          buckets: Int): DataFrame = {
    import graft.operators.TextAnalysis
    val spark = stream.sparkSession
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_nb").toString
    try {
      withShufflePartitions(spark, 4) {
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            TextAnalysis.nbScore(TextAnalysis.nbFeatRows(b, buckets),
              st, classes, buckets)
              .write.mode("append").parquet(outDir)
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      spark.read.schema("doc_id BIGINT, actual_lang STRING, pred_lang STRING, correct BOOLEAN, nb_score BIGINT, ntoks BIGINT")
        .parquet(outDir)
        .orderBy("doc_id")
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(outDir))
  }

  /** Streaming near-dup ARTIFACT maintenance — the continuous-ingest form
    * of [[graft.sources.PairsLayout.upsert]] (round-8 verdict #6): the
    * base corpus is indexed once ([[graft.sources.PairsLayout
    * .writeIndexed]] — pairs + the persisted signature index), then each
    * micro-batch of newly-arriving documents probes the STORED band index
    * (new×old, the corpus is never re-signed), appends its cross +
    * within-batch pairs, and appends its own signatures so the next
    * micro-batch probes an up-to-date index. Pair membership is a
    * per-pair property, so the final artifact is row-equal to the
    * full-corpus pipeline whatever the micro-batch partitioning — the
    * q_stream_pairs gate checks exactly that against the batch oracle,
    * and StreamStateSpec pins a forced TWO-batch split against
    * [[graft.operators.Dedup.nearDupPairs]] on the union.
    *
    * Sink shape: foreachBatch → [[graft.sources.PairsLayout.upsert]] (an
    * eager, self-contained maintenance op — the conf-scoping pattern this
    * file uses everywhere); upsert releases its own scratch caches by
    * handle per batch, so a long-running ingest leaks nothing.
    *
    * Exactly-once (round-9 ADVICE #2): the query checkpoints under the
    * artifact dir AND keys each upsert on the foreachBatch `batchId`, so
    * Structured Streaming's at-least-once batch replay after a restart
    * hits upsert's commit marker and appends nothing twice. The
    * checkpoint (and the markers) are invalidated together with the base
    * snapshot by [[graft.sources.PairsLayout.writeIndexed]]. */
  def streamedPairsMaintenance(spark: SparkSession, sfDir: String,
                               threshold: Double = 0.8,
                               batchMod: Int = 10, batchRem: Int = 7): DataFrame = {
    import graft.sources.PairsLayout
    val docs = Tables.documents(spark, sfDir)
    val dir = PairsLayout.dirFor(s"$sfDir#stream", threshold)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % batchMod === batchRem)
    streamedPairsMaintenanceOf(spark,
      docs.filter(col("doc_id") % batchMod =!= batchRem), stream, dir, threshold)
  }

  /** Core over an explicit (base, stream) pair — spec-testable with a
    * forced multi-file micro-batch split (maxFilesPerTrigger).
    *
    * `compactEvery > 0` runs [[graft.sources.PairsLayout.compact]] after
    * every Nth micro-batch — the periodic maintenance the append
    * protocol's file-count note calls for on a long-running ingest
    * (without it every relation's file count grows by one delta per
    * bucket per batch forever; measured when compaction landed, commit
    * 1165a18: 544 → 32 files and a 1.3–1.5× probe win after 8–16
    * batches). Compaction is
    * content-preserving and keeps batch markers, so it composes with the
    * replay contract: a restarted query re-delivering a compacted batch
    * still no-ops on its marker. Running it inside foreachBatch is
    * correct because the sink is the ONLY writer (single-writer layout
    * contract) and each upsert is eager and complete before the hook
    * returns. */
  private[graft] def streamedPairsMaintenanceOf(spark: SparkSession, base: DataFrame,
                                                stream: DataFrame, dir: String,
                                                threshold: Double,
                                                compactEvery: Int = 0): DataFrame = {
    import graft.sources.PairsLayout
    PairsLayout.writeIndexed(spark, base, dir, threshold)
    withShufflePartitions(spark, 4) {
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/_checkpoint")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          PairsLayout.upsert(spark, dir, batch, threshold,
            batchId = Some(s"mb-$bid"))
          if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
            PairsLayout.compact(spark, dir)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    PairsLayout.read(spark, dir)
      .orderBy(asc("d1"), asc("d2"))
      .localCheckpoint()
  }

  /** Streaming k-NN-GRAPH maintenance — the continuous-ingest form of
    * [[graft.operators.NnDescent.graphUpsert]]: the base graph + vectors
    * are written once ([[graft.sources.GraphLayout.writeBase]]), then
    * each micro-batch of newly-arriving vectors is placed against the
    * STORED graph ([[graft.sources.GraphLayout.upsertStored]] — the base
    * is never rebuilt), the updated graph swaps in atomically, and the
    * batch's vectors append so the next micro-batch sees them.
    *
    * Unlike pair membership, a node's top-k list depends on candidate
    * EXPOSURE, so the result is batch-split DEPENDENT by construction
    * (the standard NN-descent/HNSW contract — insert order matters there
    * too). The gate runs the single-file source (one micro-batch), where
    * streamed ≡ one [[graft.operators.NnDescent.graphUpsert]], checked
    * against the same oracle; StreamStateSpec pins the forced TWO-batch
    * split against sequentially applied `graphUpsertWith` — engine vs
    * engine, the semantics the scaladoc promises. */
  def streamedGraphMaintenance(spark: SparkSession, sfDir: String,
                               k: Int = 8, batchMod: Int = 10,
                               batchRem: Int = 7): DataFrame = {
    import graft.sources.GraphLayout
    val e = Tables.embeddings(spark, sfDir)
    val dir = GraphLayout.dirFor(s"$sfDir#stream", k, 4, 2)
    val stream = spark.readStream.schema(e.schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .filter(col("vec_id") % batchMod === batchRem)
    streamedGraphMaintenanceOf(spark,
      e.filter(col("vec_id") % batchMod =!= batchRem), stream, dir, k)
  }

  /** Core over an explicit (base, stream) pair — spec-testable with a
    * forced multi-file micro-batch split. */
  private[graft] def streamedGraphMaintenanceOf(spark: SparkSession,
                                                base: DataFrame,
                                                stream: DataFrame,
                                                dir: String,
                                                k: Int): DataFrame = {
    import graft.sources.GraphLayout
    // the base build is eager and self-contained (the conf-scoping rule):
    // at gate scale its 2-round NN-descent is ~15 small shuffles over a
    // few-thousand-row corpus, where 32-partition stage scheduling is the
    // cost — same content at any partition count (ranks tie-break on
    // (desc s, asc b), never on physical order)
    // the 4-partition override is a GATE-SCALE scheduling win only (a
    // few-thousand-row base pays more in 32-partition stage scheduling
    // than in compute — the conf-scoping comment above); a corpus-scale
    // base build needs the session's full parallelism (round-12 ADVICE:
    // sf10's 1.6M-row NN-descent was capped at 4 reduce partitions), so
    // gate the override on one eager count of the base
    val nBase = base.count()
    if (nBase <= 100000L)
      withShufflePartitions(spark, 4) {
        GraphLayout.writeBase(spark, base, dir, k, knownCount = nBase)
      }
    else
      GraphLayout.writeBase(spark, base, dir, k, knownCount = nBase)
    withShufflePartitions(spark, 4) {
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/_checkpoint")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          GraphLayout.upsertStored(spark, dir, batch, s"mb-$bid", k)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    GraphLayout.readGraph(spark, dir)
      .orderBy(asc("vec_id"), asc("rn"))
      .localCheckpoint()
  }

  /** Streaming distinct-cardinality maintenance: each micro-batch ships
    * its partial HLL registers (16 ints per lang — never shingles); the
    * final estimate max-merges base + batch registers. Correct under ANY
    * batch split because register max-merge is associative, commutative
    * and idempotent — exactly the property q_hll_merge gates as data —
    * so the streamed estimate equals the full-corpus sketch bit-for-bit
    * and the oracle is simply the full-corpus mirror
    * ([[graft.operators.Sketches.duckHllEstOnly]]: no exact-count
    * honesty columns, because never re-touching the corpus is the
    * point of the streaming form). */
  def streamedHll(spark: SparkSession, sfDir: String, n: Int = 3,
                  batchMod: Int = 10, batchRem: Int = 7): DataFrame = {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_hll").toString
    try {
      withShufflePartitions(spark, 4) {
        val stream = spark.readStream.schema(docs.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .filter(col("doc_id") % batchMod === batchRem)
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            Sketches.hllRegisters(b, n).write.mode("append").parquet(outDir)
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val base = Sketches.hllRegisters(
        docs.filter(col("doc_id") % batchMod =!= batchRem), n)
      val merged = base.unionByName(
          spark.read.schema("lang STRING, b INT, m_j INT").parquet(outDir))
        .groupBy("lang", "b").agg(max("m_j").as("m_j"))
      Sketches.hllEstimateOf(merged).orderBy("lang").localCheckpoint()
    } finally deleteRecursively(new java.io.File(outDir))
  }

  /** Streaming QUANTILE maintenance — the [[streamedHll]] shape for the
    * DDSketch-style dyadic histogram: each micro-batch ships its
    * (lang, b, sub, c) partials (addable ints, never raw lengths), the
    * final read sum-merges base ∪ batches and runs the crossing tail.
    * Histogram merge is exact by addition, so streamed ≡ one single-pass
    * sketch over the full corpus — batch-split invariance is STRUCTURAL
    * (the q_quantile_sketch merge gate is the same statement in batch
    * form), and the oracle is simply the full-corpus direct tail. */
  def streamedQuantile(spark: SparkSession, sfDir: String,
                       batchMod: Int = 10, batchRem: Int = 7): DataFrame = {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_ddq").toString
    try {
      withShufflePartitions(spark, 4) {
        val stream = spark.readStream.schema(docs.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .filter(col("doc_id") % batchMod === batchRem)
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            Sketches.ddHistPartials(b).write.mode("append").parquet(outDir)
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val base = Sketches.ddHistPartials(
        docs.filter(col("doc_id") % batchMod =!= batchRem))
      val merged = base.unionByName(
          spark.read.schema("lang STRING, b BIGINT, sub BIGINT, c BIGINT")
            .parquet(outDir))
        .groupBy("lang", "b", "sub").agg(sum("c").as("c"))
      Sketches.ddQuantilesOf(merged, "")
        .select(col("lang"), col("n").as("n_docs"),
          col("q50"), col("q90"), col("q99"))
        .orderBy("lang").localCheckpoint()
    } finally deleteRecursively(new java.io.File(outDir))
  }

  def streamingReindex(spark: SparkSession, watchDir: String,
                       indexDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import graft.sources.IndexBuild
    val stream = spark.readStream
      .format("text")
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.py")
      .load(watchDir)
      .select(input_file_name().as("path"), col("value"))
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // input_file_name yields file:///abs/path — normalize scheme + slashes.
        // Persisted for the batch's scope: the emptiness probe AND
        // buildElements both act on it, and an unpersisted file-source
        // batch re-reads every watched file per action (round-4 review).
        val files = batch.as[(String, String)].map { case (p, c) =>
          val abs = p.replaceFirst("^file:/*", "/")
          (abs.stripPrefix(watchDir).stripPrefix("/"), c)
        }.persist()
        try {
          if (!files.isEmpty) {
            val fresh = IndexBuild.buildElements(files)
            // refreshFiles = the batch's path set (same zero-element
            // displacement contract as the layout upsert below)
            IndexBuild.upsertIndex(spark, indexDir, fresh,
              refreshFiles = Some(files.toDF("file_path", "content")))
            // keep the trained search layout current too (no-op when no
            // layout exists): same fresh elements, assigned against the
            // STORED centroids, partition-confined rewrite. touchedFiles is
            // the BATCH's path set, not the element rows' — a watched file
            // rewritten to yield zero elements must still displace its
            // stale cells (round-7 ADVICE)
            IndexBuild.upsertSearchLayout(spark, indexDir,
              spark.read.parquet(s"$indexDir/code_elements")
                .join(fresh.select("file_path").distinct(), Seq("file_path"), "left_semi"),
              touchedFiles = Some(files.toDF("file_path", "content")))
          }
        } finally { files.unpersist(); () }
        ()
      }
      .start()
  }
}
