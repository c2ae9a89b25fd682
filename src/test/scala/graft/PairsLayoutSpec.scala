package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.sources.PairsLayout

/** The persisted near-dup pair artifact must be indistinguishable from the
  * recompute pipeline: identical pair set, and every OfPairs report over
  * the artifact identical to the same report over freshly recomputed
  * [[Dedup.nearDupPairs]] (round-6 verdict #1's equivalence requirement). */
class PairsLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def docs = Tables.documents(spark, TestSpark.sf)
  private val threshold = 0.5 // sf0.001 has few 0.8-pairs; 0.5 exercises more graph

  private lazy val artifact = {
    val p = PairsLayout.ensure(spark, docs, TestSpark.sf, threshold)
    spark.sharedState.cacheManager.clearCache() // release the build's scratch
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("artifact pair set == recompute pair set") {
    val stored = rows(artifact.orderBy("d1", "d2"))
    val fresh = rows(Dedup.nearDupPairs(docs, threshold).orderBy("d1", "d2"))
    spark.sharedState.cacheManager.clearCache()
    assert(stored.nonEmpty, "fixture produced no pairs — threshold too high for the spec to prove anything")
    assert(stored == fresh)
  }

  test("degree report over the artifact == recompute facade") {
    val a = rows(Dedup.degreeOfPairs(artifact))
    val b = rows(Dedup.degreeOfPairs(Dedup.nearDupPairs(docs, threshold)))
    spark.sharedState.cacheManager.clearCache()
    assert(a == b)
  }

  test("triangle census over the artifact == recompute facade") {
    val a = rows(Dedup.trianglesOfPairs(artifact))
    val b = rows(Dedup.trianglesOfPairs(Dedup.nearDupPairs(docs, threshold)))
    spark.sharedState.cacheManager.clearCache()
    assert(a == b)
  }

  test("pagerank over the artifact == recompute facade") {
    val a = rows(Dedup.pagerankOfPairs(artifact))
    val b = rows(Dedup.pagerankOfPairs(Dedup.nearDupPairs(docs, threshold)))
    spark.sharedState.cacheManager.clearCache()
    assert(a == b)
  }

  test("clusters over the artifact == recompute facade") {
    val a = rows(Dedup.clustersOfPairs(artifact))
    val b = rows(Dedup.clusters(docs, threshold))
    spark.sharedState.cacheManager.clearCache()
    assert(a == b)
  }

  test("leakage split over the artifact == recompute facade") {
    val a = rows(Dedup.leakageSplitOfPairs(docs, artifact))
    val b = rows(Dedup.leakageSplitOfPairs(docs, Dedup.nearDupPairs(docs, threshold)))
    spark.sharedState.cacheManager.clearCache()
    assert(a == b)
  }

  test("two-batch incremental upsert chain ≡ full rebuild on the unioned corpus") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_pairs_incr").toString
    try {
      // two successive ingest batches: the SECOND probes an index that
      // must already contain the first batch's appended signatures —
      // pinning the up-to-date-index half of the upsert contract, not
      // just the single-batch decomposition
      val base = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 3)
      val batch1 = docs.filter(col("doc_id") % 10 === 7)
      val batch2 = docs.filter(col("doc_id") % 10 === 3)
      PairsLayout.writeIndexed(spark, base, dir, threshold)
      PairsLayout.upsert(spark, dir, batch1, threshold)
      PairsLayout.upsert(spark, dir, batch2, threshold)
      spark.sharedState.cacheManager.clearCache()
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("d1", "d2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val incr = pairs(PairsLayout.read(spark, dir))
      val full = pairs(Dedup.nearDupPairs(docs, threshold))
      spark.sharedState.cacheManager.clearCache()
      // vacuity guards: pairs must touch BOTH batch slices, and at least
      // one must be batch2×batch1 territory-adjacent (cross-batch pairs
      // only exist if batch2's probe saw batch1's appended signatures)
      assert(full.exists(p => p._1 % 10 == 7 || p._2 % 10 == 7),
        "fixture vacuous: no near-dup pair touches batch1")
      assert(full.exists(p => p._1 % 10 == 3 || p._2 % 10 == 3),
        "fixture vacuous: no near-dup pair touches batch2")
      assert(incr == full)
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("upsert is idempotent: replay skipped by marker, crash re-run appends nothing twice") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_pairs_idem").toString
    try {
      val base = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      PairsLayout.writeIndexed(spark, base, dir, threshold)
      PairsLayout.upsert(spark, dir, batch, threshold)
      spark.sharedState.cacheManager.clearCache()
      def snap(rel: String) = spark.read.parquet(s"$dir/$rel")
        .collect().map(_.toString).sorted.toSeq
      val (p0, s0, z0) = (snap("pairs"), snap("shingles"), snap("sizes"))
      // 1. replay with the marker present (at-least-once redelivery):
      //    must be a pure no-op for all relations
      PairsLayout.upsert(spark, dir, batch, threshold)
      spark.sharedState.cacheManager.clearCache()
      assert(snap("pairs") == p0 && snap("shingles") == s0 && snap("sizes") == z0,
        "marker replay changed the artifact")
      // 2. crash-window re-run: marker LOST (simulating a crash after the
      //    signature+pairs renames, before the marker create). The batch's
      //    delta is recomputed — with its own half-committed signatures
      //    excluded from the probe's corpus side — and the batch-keyed
      //    commit REPLACES its live files, so every relation must converge
      //    to exactly the single-append content.
      def rmDir(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rmDir); f.delete(); ()
      }
      rmDir(new java.io.File(s"$dir/_batches"))
      PairsLayout.upsert(spark, dir, batch, threshold)
      spark.sharedState.cacheManager.clearCache()
      assert(snap("shingles") == s0 && snap("sizes") == z0,
        "crash re-run double-appended signatures")
      assert(snap("pairs").distinct == p0.distinct && snap("pairs") == p0,
        "crash re-run corrupted the pair relation")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("compaction: content-preserving, file counts bounded, re-bucket honored, probe chain intact, crashed swap self-heals") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_pairs_compact").toString
    try {
      val base = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 5)
      val batch1 = docs.filter(col("doc_id") % 10 === 7)
      val batch2 = docs.filter(col("doc_id") % 10 === 3)
      val batch3 = docs.filter(col("doc_id") % 10 === 5)
      PairsLayout.writeIndexed(spark, base, dir, threshold)
      PairsLayout.upsert(spark, dir, batch1, threshold)
      PairsLayout.upsert(spark, dir, batch2, threshold)
      spark.sharedState.cacheManager.clearCache()
      def snap(rel: String) = spark.read.parquet(s"$dir/$rel")
        .collect().map(_.toString).sorted.toSeq
      def files(rel: String) = new java.io.File(s"$dir/$rel").listFiles
        .count(_.getName.endsWith(".parquet"))
      val (p0, s0, z0, b0) = (snap("pairs"), snap("shingles"), snap("sizes"), snap("bands"))
      val filesBefore = files("shingles")
      PairsLayout.compact(spark, dir)
      spark.sharedState.cacheManager.clearCache()
      assert(snap("pairs") == p0 && snap("shingles") == s0 &&
        snap("sizes") == z0 && snap("bands") == b0,
        "compaction changed relation content")
      // base write = 1 file/bucket, each upsert appends up to 1 more per
      // bucket: compaction must strictly shrink back to ≤ bucket count
      assert(files("shingles") < filesBefore && files("shingles") <= 32)
      // re-bucket in the same pass: sidecar updated, content identical
      PairsLayout.compact(spark, dir, buckets = 8)
      spark.sharedState.cacheManager.clearCache()
      assert(snap("shingles") == s0 && snap("bands") == b0 && snap("sizes") == z0)
      assert(files("shingles") <= 8 && files("bands") <= 8)
      // the compacted + re-bucketed index still serves the incremental
      // contract: one more upsert chains to the full-corpus pair set
      PairsLayout.upsert(spark, dir, batch3, threshold)
      spark.sharedState.cacheManager.clearCache()
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val incr = pairSet(PairsLayout.read(spark, dir))
      val full = pairSet(Dedup.nearDupPairs(docs, threshold))
      spark.sharedState.cacheManager.clearCache()
      assert(full.exists(p => p._1 % 10 == 5 || p._2 % 10 == 5),
        "fixture vacuous: no near-dup pair touches batch3")
      assert(incr == full)
      // crashed swap (live renamed aside, swap-in never happened): the
      // next read self-heals by restoring the set-aside dir
      val z1 = snap("sizes")
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(f.rename(new org.apache.hadoop.fs.Path(s"$dir/sizes"),
        new org.apache.hadoop.fs.Path(s"$dir/sizes_old")))
      val healed = graft.sources.SignatureLayout.readSizes(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(healed == z1, "crashed-swap recovery lost rows")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("stored-index probe ≡ live two-relation minhashAgainst") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_probe").toString
    try {
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      PairsLayout.writeIndexed(spark, corpus, dir, threshold)
      spark.sharedState.cacheManager.clearCache()
      val (probed, handles) = Dedup.minhashProbeIndexWith(batch,
        graft.sources.SignatureLayout.readBands(spark, dir),
        graft.sources.SignatureLayout.readShingles(spark, dir),
        graft.sources.SignatureLayout.readSizes(spark, dir), threshold)
      val a = rows(probed)
      handles.foreach(_.unpersist(blocking = true))
      val b = rows(Dedup.minhashAgainst(batch, corpus, threshold))
      spark.sharedState.cacheManager.clearCache()
      assert(a.nonEmpty, "fixture vacuous: probe found no cross pairs")
      assert(a == b)
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("bucketed signature relations join co-located: NO exchange on either side") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_bucket").toString
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      PairsLayout.writeIndexed(spark, docs, dir, threshold)
      spark.sharedState.cacheManager.clearCache()
      // force the join shape a corpus-scale relation would get (no
      // broadcast). Each relation is CLUSTERED BY exactly its probe join
      // keys (requireAllClusterKeysForCoPartition defaults true — subset
      // bucketing does NOT co-partition), so a self-join on those keys
      // must plan with ZERO exchanges.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import graft.sources.SignatureLayout
      def noShuffle(df: => org.apache.spark.sql.DataFrame, label: String): Unit = {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed $label join still shuffles:\n$plan")
      }
      noShuffle(SignatureLayout.readShingles(spark, dir).as("a")
        .join(SignatureLayout.readShingles(spark, dir).as("b"), Seq("doc_id", "s")),
        "shingles(doc_id,s)")
      noShuffle(SignatureLayout.readBands(spark, dir).as("a")
        .join(SignatureLayout.readBands(spark, dir).as("b"), Seq("band", "bkey")),
        "bands(band,bkey)")
      noShuffle(SignatureLayout.readSizes(spark, dir).as("a")
        .join(SignatureLayout.readSizes(spark, dir).as("b"), Seq("doc_id")),
        "sizes(doc_id)")
      def joined = SignatureLayout.readShingles(spark, dir)
        .join(SignatureLayout.readSizes(spark, dir), "doc_id")
      // content parity with the raw files
      val viaTable = joined.count()
      val viaFiles = spark.read.parquet(s"$dir/shingles")
        .join(spark.read.parquet(s"$dir/sizes"), "doc_id").count()
      assert(viaTable == viaFiles && viaTable > 0)
      // fresh-JVM path: drop the catalog entries — readRel must
      // re-register the external tables from the on-disk layout alone
      spark.sessionState.catalog.listTables("default")
        .filter(_.table.startsWith("graft_sig_"))
        .foreach(t => spark.sql(s"DROP TABLE ${t.table}"))
      noShuffle(SignatureLayout.readShingles(spark, dir).as("a")
        .join(SignatureLayout.readShingles(spark, dir).as("b"), Seq("doc_id", "s")),
        "re-registered shingles")
      assert(joined.count() == viaFiles)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("-With facades return every cache they create (library lifecycle)") {
    // every cap rule and both metrics of the one capped n-gram core
    import Dedup.{DfCap, NgramMetric}
    for ((label, rule, metric) <- Seq[(String, DfCap, NgramMetric)](
        ("absolute", DfCap.Absolute(20), NgramMetric.Jaccard),
        ("keep-percentile", DfCap.KeepPct(99), NgramMetric.Jaccard),
        ("budget", DfCap.Budget(256), NgramMetric.Jaccard),
        ("auto-budget", DfCap.AutoBudget(Dedup.AutoScratchRows, 1), NgramMetric.Jaccard),
        ("containment", DfCap.Budget(256), NgramMetric.Containment))) {
      spark.sharedState.cacheManager.clearCache()
      val (out, handles) = Dedup.cappedNgramWith(docs, threshold, rule, metric)
      out.collect()
      handles.foreach(_.unpersist(blocking = true))
      assert(spark.sharedState.cacheManager.isEmpty,
        s"cappedNgramWith($label) leaked a cache entry after releasing its handles")
    }
    // the handle-returning MinHash entries, over a 90/10 corpus/batch split
    // and the signature index written from the corpus slice
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val dir = java.nio.file.Files.createTempDirectory("graft_with_probe").toString
    try {
      PairsLayout.writeIndexed(spark, corpus, dir, threshold)
      for ((label, run) <- Seq[(String, () => (DataFrame, Seq[DataFrame]))](
          ("minhashArtifactsWith", () => {
            val a = Dedup.minhashArtifactsWith(docs, threshold); (a.pairs, a.handles) }),
          ("nearDupPairsWith", () => Dedup.nearDupPairsWith(docs, threshold)),
          ("minhashAgainstWith", () => Dedup.minhashAgainstWith(batch, corpus, threshold)),
          ("minhashProbeIndexWith", () => Dedup.minhashProbeIndexWith(batch,
            graft.sources.SignatureLayout.readBands(spark, dir),
            graft.sources.SignatureLayout.readShingles(spark, dir),
            graft.sources.SignatureLayout.readSizes(spark, dir), threshold)))) {
        spark.sharedState.cacheManager.clearCache()
        val (out, handles) = run()
        assert(out.collect().nonEmpty, s"$label: fixture vacuous, no pairs")
        handles.foreach(_.unpersist(blocking = true))
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$label leaked a cache entry after releasing its handles")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }
}
