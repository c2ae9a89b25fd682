package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.Embedder
import graft.functions.TextFns._
import graft.functions.VecExprs.dotc
import graft.functions.VectorFns.signBucket

/** Document deduplication family over the `documents` table — the
  * large-scale-pipeline extensions mandated alongside the reference surface
  * (BASELINE.json north star; SURVEY.md §2.4 extensions). The reference's
  * own dedup primitive is the content-addressed element hash
  * (/root/reference/coding_agent/tools/indexing_agent.py:28-31, upsert
  * :350-361); these generalize it to corpus-level near-dup detection.
  *
  * Scale design: every variant is expressed so the candidate set shrinks
  * BEFORE any quadratic work —
  *   - exact:    hash groupBy (linear, map-side partial agg)
  *   - minhash:  signature agg (linear) → band-bucket equijoin (near-dups
  *     collide; the join key is the band hash, so shuffle is by bucket)
  *   - simhash:  64-bit signature agg (linear) → 4×16-bit band equijoin
  *     → hamming verify on candidates
  *   - ngram:    shared-shingle equijoin (inverted-index join) — no LSH,
  *     exact recall, used as the correctness baseline for minhash
  * Verification (exact Jaccard) runs only on surviving candidate pairs.
  * All arithmetic is integer counts → ratios, bit-identical to the oracle.
  *
  * Cache lifecycle: [[shingleRows]] and `simhash`'s signature relation are
  * `.cache()`d because their plans are referenced more than once per query.
  * The harness entry points (Verify / Bench / TimeQ) clear the session
  * cache after every query. A LIBRARY caller uses the handle-returning
  * entries — [[minhashArtifactsWith]], [[nearDupPairsWith]],
  * [[cappedNgramWith]], [[pagerankOfPairsWith]], [[minhashAgainstWith]],
  * [[minhashProbeIndexWith]] — and unpersists the returned handles once
  * results are materialized; [[dedupRecall]] releases its own caches
  * before returning.
  *
  * Every banded variant shares two steps: the band-collision join
  * ([[bandCollisions]]) and, for the shingle-Jaccard variants, the exact
  * candidate-first verify ([[jaccardVerify]]).
  */
object Dedup {

  /** Default MinHash signature width and LSH band height (8 seeds in 4
    * bands of 2 rows), and the default SimHash hamming cut. One constant
    * per knob, shared by the pipelines' defaults, their DuckDB mirrors and
    * [[dedupRecall]], so the recall report always measures the candidate
    * generation the pipelines actually run. */
  val MinhashSeeds = 8
  val MinhashRowsPerBand = 2
  val SimhashMaxHamming = 8

  /** Distinct (doc_id, shingle) pairs; the shared inverted-index relation.
    * Cached: each dedup variant reads it 3-4× (signatures, sizes, both
    * intersection sides) — at cluster scale this is the materialize-once
    * intermediate table of the pipeline. */
  private def shingleRows(documents: DataFrame, n: Int): DataFrame =
    graft.functions.TextFns.shingleRowsOf(documents, n)
      .distinct()
      .cache()

  /** Exact-duplicate summary by full-content hash. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum("n").as("n_docs"),
        sum(when(col("n") > 1, 1).otherwise(0)).as("n_dup_groups"),
        max("n").as("max_group"))

  /** One side of the exact shingle-Jaccard verify: distinct (doc_id, s)
    * rows and per-doc set sizes (doc_id, n), both merge-pinned when the
    * rows are CACHED. A cached relation's pre-materialization size
    * estimate can plan a locked-in broadcast (AQE never demotes one) of
    * the 2.5M-row shingle relation (measured 680 s vs 9 s at sf0.1) or of
    * its doc-cardinality sizes aggregate (an executor OOM at corpus scale;
    * pin cost ~0.3-0.5 s on q_dedup_minhash at sf0.1, round 4). A stored
    * parquet side keeps honest scan stats and stays unpinned. */
  private final case class ShingleSide(rows: DataFrame, sizes: DataFrame) {
    private val pinned = rows.storageLevel != StorageLevel.NONE
    private def pin(df: DataFrame) = if (pinned) df.hint("merge") else df
    def rowsAs(d: String): DataFrame = pin(rows.select(col("doc_id").as(d), col("s")))
    def sizesAs(d: String, n: String): DataFrame =
      pin(sizes.select(col("doc_id").as(d), col("n").as(n)))
  }

  private def sizesOf(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  private def sideOf(sh: DataFrame): ShingleSide = ShingleSide(sh, sizesOf(sh))

  /** The exact shingle-Jaccard verify of every LSH variant: candidate pairs
    * (d1 from `l`, d2 from `r`, plus `carry` columns) → shared-shingle
    * count `i` → Jaccard ≥ threshold, as (d1, d2, carry…, jaccard rounded
    * to 6) ordered by (d1, d2). Candidate-FIRST: expand the tiny pair set
    * by d1's shingles and probe (d2, s) — |cand| × shingles/doc rows,
    * where a shingle self-join pruned afterwards emits f² rows per
    * shingle of df f. `carry` (a pair property, e.g. simhash's `hamming`)
    * rides the grouping key, so the candidate subtree is read once. */
  private def jaccardVerify(cand: DataFrame, l: ShingleSide, r: ShingleSide,
                            threshold: Double, carry: Seq[String] = Nil): DataFrame =
    jaccardOfCounts(
      cand.join(l.rowsAs("d1"), "d1").join(r.rowsAs("d2"), Seq("d2", "s"))
        .groupBy("d1", "d2" +: carry: _*).agg(count(lit(1)).as("i")),
      l, r, threshold, carry)

  /** Tail of [[jaccardVerify]] over (d1, d2, carry…, i) counts — also the
    * tail of the full-recall self-join [[ngramJaccard]], which counts `i`
    * in the join itself. */
  private def jaccardOfCounts(inter: DataFrame, l: ShingleSide, r: ShingleSide,
                              threshold: Double, carry: Seq[String] = Nil): DataFrame =
    inter
      .join(l.sizesAs("d1", "n1"), "d1")
      .join(r.sizesAs("d2", "n2"), "d2")
      .withColumn("jaccard", NgramMetric.Jaccard.of(col("i"), col("n1"), col("n2")))
      .filter(col("jaccard") >= threshold)
      .select(Seq(col("d1"), col("d2")) ++ carry.map(col) :+
        round(col("jaccard"), 6).as("jaccard"): _*)
      .orderBy(asc("d1"), asc("d2"))

  /** The LSH band-collision join of every banded variant: band rows `x` ⋈
    * `y` on (`band`, bkey) under `docPred(x.doc_id, y.doc_id)`, projected
    * to (d1 = x's doc, d2 = y's doc) plus `carry` (columns over the "x" /
    * "y" aliases). Not distinct — a pair collides once per shared band —
    * so callers `.distinct()` after any filter of their own. */
  private def bandCollisions(x: DataFrame, y: DataFrame,
                             docPred: Option[(Column, Column) => Column],
                             band: String = "band", carry: Seq[Column] = Nil): DataFrame = {
    val on = col(s"x.$band") === col(s"y.$band") && col("x.bkey") === col("y.bkey")
    x.as("x").join(y.as("y"), docPred.fold(on)(p => on && p(col("x.doc_id"), col("y.doc_id"))))
      .select(Seq(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")) ++ carry: _*)
  }

  /** Doc-id predicates of [[bandCollisions]]: one unordered pair per
    * collision (self-joins), or any two different docs (batch × corpus,
    * whose id spaces may overlap). */
  private val Below: Option[(Column, Column) => Column] = Some(_ < _)
  private val Differ: Option[(Column, Column) => Column] = Some(_ =!= _)

  /** MinHash signature → LSH band rows (doc_id, band, bkey) — the single
    * source of truth for the banding scheme, shared by [[minhash]] and
    * [[minhashIncremental]] (the DuckDB side shares duckMinhashCandCtes the
    * same way): a seeds/band/bkey change edited in one place cannot
    * silently diverge the two candidate generators. */
  private def bandRowsOf(sh: DataFrame, seeds: Int, rowsPerBand: Int): DataFrame = {
    val minCols = (0 until seeds).map(s => min(minhashCol(col("s"), s)).as(s"h$s"))
    val sig = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val nBands = seeds / rowsPerBand
    sig.select(col("doc_id"), explode(array(
      (0 until nBands).map(b => struct(
        lit(b).as("band"),
        md5(concat_ws("|", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)).as("bkey"))): _*
    )).as("bb")).select(col("doc_id"), col("bb.band"), col("bb.bkey"))
  }

  /** MinHash + LSH banding: `seeds` hash functions, bands of `rowsPerBand`;
    * docs sharing any band bucket become candidates, then exact Jaccard
    * filters ≥ threshold. Its shingle cache stays (the harness clears per
    * query); a library caller uses [[minhashArtifactsWith]]. */
  def minhash(documents: DataFrame, threshold: Double,
              seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): DataFrame =
    minhashArtifactsWith(documents, threshold, seeds, rowsPerBand).pairs

  /** Everything one MinHash build pass produces, exposed so a persisting
    * caller ([[graft.sources.PairsLayout.writeIndexed]]) can land the
    * signature index BESIDE the pairs without a second shingle pass:
    * verified pairs, the LSH band rows (doc_id, band, bkey), the distinct
    * shingle rows (doc_id, s), and the cache handles to release. */
  final case class MinhashArtifacts(pairs: DataFrame, bands: DataFrame,
                                    shingles: DataFrame, handles: Seq[DataFrame])

  /** Band-collision candidate pairs (d1 < d2, distinct) of the MinHash
    * banding — the candidate half shared by [[minhashArtifactsWith]]
    * (which verifies them) and [[dedupRecall]] (which intersects them
    * with the exact baseline instead of re-verifying — see its scaladoc).
    * One definition, so the recall measurement can never drift from the
    * candidate set the production pipeline actually generates. */
  private def minhashCandidatesOf(bands: DataFrame): DataFrame =
    bandCollisions(bands, bands, Below).distinct()

  /** One shingle pass → pairs + the persistable signature relations, plus
    * the handle on the cached shingle relation (the `-With` convention):
    * the harness clears caches per query, but a LIBRARY caller must
    * release the scratch itself — by handle, never by plan-equality
    * rebuild (round-5 advice #1). */
  def minhashArtifactsWith(documents: DataFrame, threshold: Double,
                           seeds: Int = MinhashSeeds,
                           rowsPerBand: Int = MinhashRowsPerBand): MinhashArtifacts = {
    val sh = shingleRows(documents, 3)
    val bands = bandRowsOf(sh, seeds, rowsPerBand)
    val side = sideOf(sh)
    MinhashArtifacts(jaccardVerify(minhashCandidatesOf(bands), side, side, threshold),
      bands, sh, Seq(sh))
  }

  /** Duplicate-cluster canonicalization: connected components over the
    * MinHash near-dup pair graph, then one keeper per component — the step a
    * production pipeline runs AFTER pair detection, because near-duplicate
    * is not transitive pairwise (A~B, B~C does not list A~C) and dropping
    * one side of every pair independently over-deletes chains.
    *
    * Algorithm: iterative min-label propagation with pointer jumping
    * ([[ccLabelProp]]). Every node starts labeled with itself; each round
    * takes `min(own label, min of neighbors' labels)`, then the label of
    * that label, until a fixpoint — the label is then the smallest doc_id
    * in the component (deterministic canonical pick). Each round is ONE
    * shuffle of the edge relation joined to the (node,label) relation —
    * both tiny relative to the corpus, since only docs that appear in a
    * near-dup pair participate. The label-of-label hop makes the round
    * count O(log n) on any component shape (measured 9/13/16 rounds on
    * 256/4,096/32,768-node chains, SCALE.md §5 — the same counts as the
    * large-star/small-star algorithm, which was deleted for that reason).
    * `localCheckpoint` truncates the per-iteration lineage so the plan does
    * not grow with the iteration count.
    *
    * Output: one row per clustered doc — (doc_id, cluster = canonical
    * doc_id, is_canonical, cluster_size). Singleton docs (no near-dup pair)
    * are not emitted; the downstream "keep" set is all singletons plus the
    * canonical row of each cluster.
    */
  def clusters(documents: DataFrame, threshold: Double, maxIter: Int = 20): DataFrame =
    clustersOfPairs(nearDupPairs(documents, threshold), maxIter)

  /** The materialize-once artifact of the near-dup pipeline: MinHash+verify
    * pairs as a bare (d1, d2) relation. A production run computes this ONCE
    * (cache / parquet intermediate) and feeds every consumer —
    * [[clustersOfPairs]], [[Curation.curate]]'s `pairs` parameter, ad-hoc
    * keep/drop policies — instead of re-running the signature+verify
    * pipeline per consumer (round-3 verdict #4). Pair membership is a
    * per-pair property (signatures and Jaccard depend only on the two
    * docs), so the relation computed on the full corpus can be restricted
    * to any doc subset by semi-joining both endpoints — consumers on
    * filtered corpora need no recompute. */
  def nearDupPairs(documents: DataFrame, threshold: Double): DataFrame =
    minhash(documents, threshold).select(col("d1"), col("d2"))

  /** [[nearDupPairs]] with the shingle-cache handle ([[minhashArtifactsWith]]). */
  def nearDupPairsWith(documents: DataFrame, threshold: Double)
      : (DataFrame, Seq[DataFrame]) = {
    val a = minhashArtifactsWith(documents, threshold)
    (a.pairs.select(col("d1"), col("d2")), a.handles)
  }

  /** Label-propagation core over an arbitrary (d1, d2) pair relation —
    * public as the cluster half of the pairs seam ([[nearDupPairs]]), and
    * testable on synthetic graphs (long chains stress diameter; the
    * corpus' near-dup components are shallow). */
  def clustersOfPairs(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val labels = ccLabelProp(pairs, maxIter)._1
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster"),
        (col("node") === col("label")).as("is_canonical"),
        col("cluster_size"))
      .orderBy(asc("cluster"), asc("doc_id"))
  }

  /** The pointer-jumping min-label propagation core — returns
    * ((node, label) at the fixpoint, rounds used). */
  private[graft] def ccLabelProp(pairs: DataFrame, maxIter: Int = 20)
      : (DataFrame, Int) = {
    // cache the pair relation itself (tiny: near-dup pairs ≪ corpus): the
    // edge union below references it TWICE, and an uncached pairs plan —
    // e.g. the full minhash+verify pipeline — would execute once per
    // branch just to materialize the edges (measured ~2 s duplicated work
    // per q_dedup_clusters run at sf0.1)
    val p = pairs.select(col("d1"), col("d2")).cache()
    val edges = p.select(col("d1").as("a"), col("d2").as("b"))
      .union(p.select(col("d2").as("a"), col("d1").as("b")))
      .cache()
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a")).agg(min("nl").as("mn"))
        .select(col("a").as("node"), col("mn"))
      // materialized: the pointer-jump below reads `stepped` TWICE (probe
      // and parent side) and its plan carries the edges-join + min agg —
      // dropping this checkpoint to save one job per round was MEASURED
      // SLOWER (round 4: ~5.7 s vs ~4.3 s at sf0.1; the recomputed shuffle
      // outweighs the scheduling latency saved). `prev` (the round-start
      // label) rides along so convergence is a column compare, not a join
      // back to the previous checkpoint.
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("prev"),
          least(col("label"), coalesce(col("mn"), col("label"))).as("label"))
        .localCheckpoint()
      // Pointer jumping: also take the label OF the current label
      // (labels are node ids, so they can be looked up as nodes). The
      // neighbor step alone moves a min one hop per round (rounds =
      // component diameter); composing it with this label-of-label hop
      // halves the remaining label-tree depth each round, giving
      // O(log n) convergence on ANY component shape — a path of 2^20
      // nodes converges in ~20 rounds, not 2^20.
      val parent = stepped.select(col("node").as("pnode"), col("label").as("plabel"))
      // LAZY checkpoint + count as the materializing action: one job both
      // truncates lineage and answers "did any label change this round?" —
      // replacing the eager checkpoint PLUS join-back isEmpty probe (two
      // jobs and a shuffle) of the original loop (round-3 verdict #5).
      val next = stepped
        .join(parent, stepped("label") === parent("pnode"), "left")
        .select(stepped("node"), stepped("prev"),
          least(stepped("label"), coalesce(col("plabel"), stepped("label"))).as("label"))
        .localCheckpoint(eager = false)
      converged = next.filter(col("label") =!= col("prev")).count() == 0
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    // never emit a silently-unconverged labeling: only sf0.01 passes the
    // oracle gate, so larger runs must fail loudly instead of wrongly
    if (!converged)
      throw new IllegalStateException(
        s"clustersOfPairs: no fixpoint after $maxIter rounds (component deeper than 2^$maxIter?)")
    edges.unpersist()
    p.unpersist()
    // labels is localCheckpoint-ed: safe to release the loop scratch here
    (labels, iter)
  }

  /** Exact n-gram Jaccard via inverted-index self-join (full recall).
    *
    * Single pass: the s-equijoin that enumerates co-shingled pairs ALSO
    * counts the intersection (groupBy instead of distinct-then-recount), so
    * the quadratic part — unavoidable for full recall — runs exactly once.
    */
  def ngramJaccard(documents: DataFrame, threshold: Double): DataFrame = {
    val sh = shingleRows(documents, 3)
    val side = sideOf(sh)
    val inter = sh.select(col("doc_id").as("d1"), col("s"))
      .join(sh.select(col("doc_id").as("d2"), col("s")), "s")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    jaccardOfCounts(inter, side, side, threshold)
  }

  /** Df-capped n-gram Jaccard — [[ngramJaccard]] with the quadratic edge
    * removed: shingles with document frequency > `maxDf` are dropped from
    * CANDIDATE GENERATION (the standard stopword-shingle cut), bounding the
    * per-shingle fan-out of the inverted-index self-join to maxDf² rows —
    * O(|shingles|·maxDf) total instead of O(Σ f²), the shape that survives
    * a 100× corpus where the head shingle appears in millions of docs.
    *
    * The Jaccard VERIFY still runs over the FULL shingle sets
    * ([[cappedNgramWith]]'s exact frequent completion), so every emitted
    * pair carries the exact uncapped Jaccard — the cap only costs recall
    * for pairs whose shared shingles are ALL frequent, which a
    * ≥-threshold near-dup pair essentially never is (near-identical docs
    * share their rare shingles). Recall vs the exact baseline is
    * measurable by diffing against [[ngramJaccard]]; at the oracle scales
    * the outputs are identical.
    */
  def ngramJaccardCapped(documents: DataFrame, threshold: Double, maxDf: Int): DataFrame =
    cappedNgramWith(documents, threshold, DfCap.Absolute(maxDf))._1

  /** Corpus-RELATIVE df cap — the one-decade-up gate's finding made
    * operational: an ABSOLUTE cap silently collapses to zero recall when
    * the corpus outgrows it (at sf1, 10× the bench scale, the synthetic
    * corpus' flat vocabulary pushed every shingle's df past 20 and
    * [[ngramJaccardCapped]] returned NO pairs in both engines — agreeing,
    * and both wrong for the user). Here the cap derives IN-PLAN from the
    * df distribution: the smallest cap that keeps at least `keepPct`% of
    * DISTINCT shingles in candidate generation — Zipf corpora still prune
    * their head hard, while a corpus with no rare shingles correctly
    * declines to prune. All-integer (cum·100 ≥ keepPct·total over the
    * bounded df-histogram relation, two-phase via BoundedWindow), so the
    * cap is engine-exact.
    *
    * SAMPLE-SCALE by adjudication (round-10 sf10 campaign, the
    * [[dedupRecall]] scoping): on a vocabulary-SATURATED corpus —
    * distinct shingles plateau while df grows ∝ n — a percentile cap
    * adapts to histogram SHAPE, not corpus SIZE: the sf10 df-histogram
    * decomposition measured keepPct 90→99 moving an ≈9e9-row candidate
    * volume by only 11% at 500k docs (SCALE.md "The ngram adjudication").
    * Use this form to pick parameters on a sample; the corpus-scale run
    * is [[ngramJaccardBudget]], whose cap derives from predicted join WORK
    * and bounds candidates at O(budget·n) for any corpus shape. */
  def ngramJaccardCappedAdaptive(documents: DataFrame, threshold: Double,
                                 keepPct: Int = 99): DataFrame =
    cappedNgramWith(documents, threshold, DfCap.KeepPct(keepPct))._1

  /** Candidate-BUDGET df cap — the third cap derivation, for the corpus
    * class where the percentile form structurally fails. The sf10
    * df-histogram decomposition (SCALE.md "The ngram adjudication")
    * refuted the round-9 spill-hygiene theory: on a
    * vocabulary-SATURATED corpus (29.8k distinct 3-gram shingles over
    * 500k docs, mean df ≈ 780) df grows ∝ n, the inverted-index join
    * emits Σ df·(df−1)/2 ≈ 9e9 candidate rows, and keepPct 90 → 99 moves
    * that volume by only 11% — percentile caps adapt to histogram SHAPE,
    * not corpus SIZE ([[ngramJaccardCappedAdaptive]]'s honesty note made
    * operational). Here the cap derives from the WORK the join would do:
    * cumulative predicted candidates over the df histogram (the exact
    * same Σ df·(df−1)/2 that decomposition computes) ordered by df, and
    * the cap is the LARGEST df whose cumulative volume fits
    * `candidateBudget` rows per doc — candidate generation is O(budget·n) BY CONSTRUCTION at
    * any corpus shape, Zipf or saturated. On corpora where the full
    * volume already fits (the gate scales), the cap lands at max df and
    * output == [[ngramJaccard]] exactly (spec-pinned). Same verify as
    * every capped variant: candidate-first exact UNCAPPED Jaccard, so
    * precision is never approximate — the budget only bounds which pairs
    * can be FOUND, dropping shared-only-frequent-shingle pairs first
    * (boilerplate co-occurrence, the wanted drop). All-integer two-phase
    * prefix sum over the bounded df-histogram relation, engine-exact.
    * The same discipline as [[simhashWide]]'s banding budget: measure
    * the quadratic before paying for it.
    *
    * SIZING the budget (round-11 sf10 adjudication): the candidate bound
    * holds exactly — at 500k docs the default 256/doc predicted 1.28e8
    * candidates and the join emitted them — but each candidate's exact
    * verify carries ~2·mean_shingles join rows (~92 on that corpus), so
    * END-TO-END scratch is budget·n·mean_sh rows, LINEAR in both knobs.
    * budget=256 ≈ 23.5k verify rows/doc is routine for a cluster whose
    * executor count scales with the corpus (per-node mass divides), but
    * exceeded one 77 GB-scratch node at n=500k (ENOSPC, measured);
    * budget=16 (≈1.5k verify rows/doc, 5.6e8 total) completes on the
    * same box (SCALE.md "sf10: the budget cap demonstrated"). Size
    * budget ≈ per_node_scratch_rows · executors / n. The knob's
    * EXISTENCE is the fix: percentile caps had no setting that bounded
    * this corpus' volume at all. */
  def ngramJaccardBudget(documents: DataFrame, threshold: Double,
                         candidateBudget: Int = 256): DataFrame =
    cappedNgramWith(documents, threshold, DfCap.Budget(candidateBudget))._1

  /** Scratch-row envelope per node for [[ngramJaccardBudgetAuto]]'s
    * derivation — overridable via SPARK_GRAFT_SCRATCH_ROWS for a
    * deployment's actual per-node scratch. Default sized to THIS box by
    * the round-11 sf10 campaign: at 500k docs the ~5.6e8-row verify mass
    * of budget 16 completed inside the 77 GB scratch; budget 256's
    * ~1.2e10 rows ENOSPC'd. 6e8 reproduces the measured-safe geometry
    * with headroom. */
  val AutoScratchRows: Long =
    sys.env.get("SPARK_GRAFT_SCRATCH_ROWS").map(_.toLong).getOrElse(600000000L)

  /** Ceiling on the derived budget — keeps `ndocs · budget` comfortably
    * in BIGINT and stops a tiny corpus from deriving an absurd knob (the
    * cap saturates at max df long before this anyway). */
  private val MaxAutoBudget = 1000000L

  /** AUTO-SIZED candidate budget — the [[simhashAuto]] precedent applied
    * to [[ngramJaccardBudget]]'s knob (round-11 verdict #2: the default
    * budget=256 ENOSPCs on exactly the corpus the knob exists for, and
    * the documented sizing rule was manual). The round-11 sf10
    * adjudication established the END-TO-END scratch envelope as
    * budget · n · 2·mean_sh verify-join rows, linear in both knobs; this
    * derives the largest budget whose envelope fits the deployment:
    *
    *   budget = clamp(1 .. 1e6,
    *     scratchRows · executors / (2 · shingleRows))
    *
    * where shingleRows (= n · mean_sh, the distinct (doc_id, shingle)
    * row count) comes from ONE eager count over the cached shingle
    * relation every downstream pass reuses — the count is priced in the
    * entry, and it doubles as the cache warm-up. All-integer (Long
    * floor-division = DuckDB `//` on positives), so the oracle mirrors
    * the derivation exactly ([[duckNgramBudgetAutoSql]]). At gate scales
    * the derived budget exceeds every df rung's cumulative volume, the
    * cap lands at max df and output == [[ngramJaccard]]; at the sf10
    * saturated corpus it derives ~13 (vs the measured-safe 16) and the
    * query completes where the hand default ENOSPC'd. `executors`
    * scales the envelope for a real cluster (per-node mass divides). */
  def ngramJaccardBudgetAuto(documents: DataFrame, threshold: Double,
                             scratchRows: Long = AutoScratchRows,
                             executors: Int = 1): DataFrame =
    cappedNgramWith(documents, threshold, DfCap.AutoBudget(scratchRows, executors))._1

  /** DuckDB mirror of [[ngramJaccardBudgetAuto]] — the budget derives in
    * SQL from the same shingle-row count and the same integer floor
    * division, so both engines compute the identical cap. `scratchRows`
    * and `executors` are embedded as one literal product (computed in
    * Scala — the Double.toString lesson applied to Longs: never re-derive
    * a constant on the SQL side). */
  def duckNgramBudgetAutoSql(table: String, threshold: Double,
                             scratchRows: Long = AutoScratchRows,
                             executors: Int = 1): String = {
    val envelope: Long = scratchRows * executors
    s"""WITH ${duckSh(table)},
       |dfr AS MATERIALIZED (SELECT s, count(*)::BIGINT AS df FROM sh GROUP BY s),
       |hist AS (SELECT df, count(*)::BIGINT AS n FROM dfr GROUP BY df),
       |nd AS (SELECT count(*)::BIGINT AS ndocs FROM $table),
       |bdg AS (SELECT greatest(1, least($MaxAutoBudget,
       |               $envelope // (2 * count(*)::BIGINT))) AS b FROM sh),
       |cum AS (SELECT df, CAST(sum(n * (df * (df - 1) // 2)) OVER (ORDER BY df)
       |               AS BIGINT) AS cc FROM hist),
       |cap AS (SELECT coalesce(max(df), 1) AS cap FROM cum, nd, bdg
       |        WHERE cc <= nd.ndocs * bdg.b),
       |rare AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh
       |         JOIN dfr USING (s), cap WHERE dfr.df <= cap.cap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2, round(jac, 6) AS jaccard")}""".stripMargin
  }

  /** Asymmetric near-dup: shingle CONTAINMENT (overlap coefficient)
    * `i / min(n1, n2)` ≥ threshold — the partial-copy detector symmetric
    * Jaccard structurally misses. A 40-shingle quote embedded in a
    * 4,000-shingle page scores Jaccard ≈ 0.01 (invisible at any usable
    * threshold) but containment 1.0; for a training corpus this is the
    * quote/concatenation/boilerplate-wrapper class — the smaller doc
    * carries no novel text, the LLM-pipeline reason to want the pair.
    *
    * Same scale machinery as [[ngramJaccardBudget]] end to end: the
    * candidate-budget df cap bounds candidate generation at O(budget·n)
    * on any corpus shape, pairs are found via rare shared shingles, and
    * the intersection is completed EXACTLY over the frequent partition
    * ([[cappedNgramWith]] — the shared core), so containment values are
    * never approximate; the cap only bounds which pairs can be FOUND
    * (a pair sharing exclusively head shingles is boilerplate
    * co-occurrence, the wanted drop — and for containment specifically,
    * a contained doc made ONLY of ubiquitous shingles is template text,
    * not a copied passage). `min(n1, n2)` (not n1): the output is
    * direction-free under the d1 < d2 normalization; n1/n2 ride along
    * so the consumer can orient the containment (the smaller side is
    * the contained one). */
  def ngramContainment(documents: DataFrame, threshold: Double = 0.8,
                       candidateBudget: Int = 256): DataFrame =
    cappedNgramWith(documents, threshold, DfCap.Budget(candidateBudget),
      NgramMetric.Containment)._1

  /** How [[cappedNgramWith]] derives its df cap. Shingles above the cap
    * leave candidate generation only; the verify still counts them. */
  sealed trait DfCap
  object DfCap {
    /** A fixed cap ([[ngramJaccardCapped]]). */
    final case class Absolute(maxDf: Int) extends DfCap
    /** The smallest df keeping ≥ `keepPct`% of distinct shingles
      * ([[ngramJaccardCappedAdaptive]]). */
    final case class KeepPct(keepPct: Int) extends DfCap
    /** The largest df whose cumulative predicted self-join volume
      * Σ n·df·(df−1)/2 fits `rowsPerDoc` rows per doc
      * ([[ngramJaccardBudget]]; df = 1 if even the rarest rung exceeds it). */
    final case class Budget(rowsPerDoc: Long) extends DfCap
    /** [[Budget]] with `rowsPerDoc` derived from the scratch envelope
      * ([[ngramJaccardBudgetAuto]]). */
    final case class AutoBudget(scratchRows: Long, executors: Int) extends DfCap
  }

  /** Pair metric of [[cappedNgramWith]]: monotone increasing in the
    * intersection `i`; `sizeCols` ride into the output before the metric. */
  sealed abstract class NgramMetric(val name: String, val sizeCols: Seq[String]) {
    def of(i: Column, n1: Column, n2: Column): Column
  }
  object NgramMetric {
    /** i / (n1 + n2 − i): output (d1, d2, jaccard). */
    case object Jaccard extends NgramMetric("jaccard", Nil) {
      def of(i: Column, n1: Column, n2: Column): Column = i.cast("double") / (n1 + n2 - i)
    }
    /** i / min(n1, n2): output (d1, d2, n1, n2, containment). */
    case object Containment extends NgramMetric("containment", Seq("n1", "n2")) {
      def of(i: Column, n1: Column, n2: Column): Column = i.cast("double") / least(n1, n2)
    }
  }

  /** The capped n-gram core behind [[ngramJaccardCapped]],
    * [[ngramJaccardCappedAdaptive]], [[ngramJaccardBudget]],
    * [[ngramJaccardBudgetAuto]] and [[ngramContainment]]: (doc_id, s, df)
    * relation → df cap (`rule`) → rare-shingle self-join counting the
    * shared rare shingles → `i_ub` bound prune → exact frequent
    * completion → `metric` ≥ threshold, ordered by (d1, d2). Returns the
    * result plus a handle on every cache it creates — two corpus-scale
    * shingle caches, the per-doc sizes and the bound survivors. The
    * harness clears caches per query; a library caller unpersists the
    * handles once the result is materialized.
    *
    * Pairs are found via rare shingles only; every emitted pair carries
    * the exact UNCAPPED intersection. The bound prune evaluates the metric
    * at the UPPER BOUND `i_ub = i_r + min(f1, f2)` on the intersection
    * (f = per-doc frequent-shingle count): i ≤ i_ub always, the metric is
    * monotone increasing in i, and IEEE-754 division is monotone
    * (a1 ≤ a2, b1 ≥ b2 > 0 ⇒ fl(a1/b1) ≤ fl(a2/b2)), so a pair passing
    * the EXACT threshold always passes the bound — the prune drops only
    * pairs the final filter would drop anyway (round-13 optimization: the
    * rare self-join emits ~1.1M candidate pairs at sf0.1 of which 256
    * survive; pruning before the frequent-completion joins removes 5
    * shuffles of the megarow pair relation). The bound is the SAME
    * expression tree as the exact metric with i_ub substituted for i —
    * that is what makes float monotonicity apply. */
  def cappedNgramWith(documents: DataFrame, threshold: Double, rule: DfCap,
                      metric: NgramMetric = NgramMetric.Jaccard): (DataFrame, Seq[DataFrame]) = {
    val (shDf0, h) = dfShinglesWith(documents)
    def capped(cap: DataFrame) = (shDf0.crossJoin(broadcast(cap)), col("cap"))
    val (shDf, cap) = rule match {
      case DfCap.Absolute(maxDf) => (shDf0, lit(maxDf))
      case DfCap.KeepPct(keepPct) => capped(keepPctCap(shDf0, keepPct))
      case DfCap.Budget(rowsPerDoc) => capped(budgetCap(shDf0, documents, rowsPerDoc))
      case DfCap.AutoBudget(scratchRows, executors) =>
        // eager: prices the derivation and warms the shingle cache
        val shRows = math.max(1L, shDf0.count())
        capped(budgetCap(shDf0, documents, math.max(1L,
          math.min(MaxAutoBudget, scratchRows * executors / (2L * shRows)))))
    }
    // Per-doc set size n AND frequent-shingle count f in ONE pass over the
    // cached shingle relation (f feeds the intersection upper bound).
    // Cached: doc-cardinality, read by both sides of the rare self-join.
    val sizes = shDf.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("df") > cap, 1L).otherwise(0L)).as("f"))
      .cache()
    // Pass 1 — the bounded quadratic: count shared-rare-shingles in the
    // self-join itself (the single-pass trick of [[ngramJaccard]]; a
    // separate candidate-distinct + full re-expansion verify measured 10×
    // slower at sf0.1). Fan-out per shingle ≤ cap². The per-doc (n, f)
    // ride the grouping key — functionally determined by d1/d2, so the
    // groups are unchanged. Uncached: the bound prune makes this
    // single-referenced.
    val iRare = rareSelfJoin(shDf, cap, Some(sizes))
      .groupBy("d1", "d2", "n1", "f1", "n2", "f2")
      .agg(count(lit(1)).as("i_r"))
    val bounded = iRare
      .withColumn("i_ub", col("i_r") + least(col("f1"), col("f2")))
      .filter(metric.of(col("i_ub"), col("n1"), col("n2")) >= threshold)
      .select(col("d1"), col("d2"), col("i_r"), col("n1"), col("n2"))
      .cache() // survivors: referenced twice (frequent probe + final sum)
    // Pass 2 — exact completion over the SURVIVORS only: their FREQUENT
    // shared shingles counted candidate-first against the freq partition,
    // whose total row count is small by construction (few distinct
    // shingles exceed the cap). The cap therefore only limits which pairs
    // are found (pairs sharing exclusively frequent shingles — the
    // declared recall trade, and at 100 TB exactly the pairs one WANTS
    // dropped: boilerplate co-occurrence, not near-duplication).
    val freq = shDf.filter(col("df") > cap)
    val iFreq = bounded.select(col("d1"), col("d2"))
      .join(freq.select(col("doc_id").as("d1"), col("s")).hint("merge"), "d1")
      .join(freq.select(col("doc_id").as("d2"), col("s")).hint("merge"), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i_f"))
    val out = bounded.join(iFreq, Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"),
        (col("i_r") + coalesce(col("i_f"), lit(0L))).as("i"),
        col("n1"), col("n2"))
      .withColumn(metric.name, metric.of(col("i"), col("n1"), col("n2")))
      .filter(col(metric.name) >= threshold)
      .select(Seq(col("d1"), col("d2")) ++ metric.sizeCols.map(col) :+
        round(col(metric.name), 6).as(metric.name): _*)
      .orderBy(asc("d1"), asc("d2"))
    (out, h ++ Seq(sizes, bounded))
  }

  /** (df, n): how many distinct shingles have each df. Bounded by max df. */
  private def dfHistogram(shDf: DataFrame): DataFrame =
    shDf.select(col("s"), col("df")).distinct()
      .groupBy("df").agg(count(lit(1)).as("n"))

  /** One-row (cap) relation of [[DfCap.KeepPct]]: all-integer
    * cum·100 ≥ keepPct·total over a two-phase prefix sum. */
  private def keepPctCap(shDf: DataFrame, keepPct: Int): DataFrame = {
    // eager checkpoint: hist is read TWICE (cum + tot) — un-checkpointed,
    // each reader re-derives the distinct+groupBy over the corpus-scale
    // shingle cache. Trade: the checkpoint runs a corpus-scale job at
    // CONSTRUCTION time, and its (≤ max-df rows) RDD blocks are not
    // released by cacheManager.clearCache() — a bounded per-construction
    // drip a long-lived library session should know about.
    val hist = dfHistogram(shDf).localCheckpoint(true)
    val wH = graft.functions.BoundedWindow.boundedGlobal(col("df"), asc("df"))
    val cum = hist.withColumn("cum", sum("n").over(wH))
    val tot = hist.agg(sum("n").as("t"))
    cum.crossJoin(broadcast(tot))
      .filter(col("cum") * 100 >= lit(keepPct) * col("t"))
      .agg(min("df").as("cap"))
  }

  /** One-row (cap) relation of [[DfCap.Budget]]: the largest df whose
    * cumulative predicted candidate volume fits `rowsPerDoc`·ndocs; df = 1
    * (zero candidates) if even the rarest rung exceeds it. */
  private def budgetCap(shDf: DataFrame, documents: DataFrame, rowsPerDoc: Long): DataFrame = {
    val wH = graft.functions.BoundedWindow.boundedGlobal(col("df"), asc("df"))
    val cum = dfHistogram(shDf).withColumn("cc",
      sum(expr("n * (df * (df - 1) DIV 2)")).over(wH))
    val nd = documents.agg(count(lit(1)).as("ndocs"))
    cum.crossJoin(broadcast(nd))
      .filter(col("cc") <= col("ndocs") * rowsPerDoc)
      .agg(coalesce(max("df"), lit(1L)).as("cap"))
  }

  /** Shared (doc_id, s, df) relation of the capped core, cached (read by
    * the rare/freq filters, the size aggregate and the histogram). df is a
    * partial-agged `groupBy(s)` + s-keyed join-back, never a
    * `count OVER (PARTITION BY s)` window: the window sends every
    * occurrence of a head shingle to one task. The df aggregate derives
    * from a cached relation, so it is merge-pinned (the CLAUDE.md
    * group-aggregate rule). */
  private def dfShinglesWith(documents: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val rows = shingleRows(documents, 3)
    val dfr = rows.groupBy("s").agg(count(lit(1)).as("df"))
    val joined = rows.join(dfr.hint("merge"), "s").cache()
    (joined, Seq(rows, joined))
  }

  /** Rare-shingle self-join over the (doc_id, s, df) relation: rows at
    * df ≤ `cap`, equijoined on s, d1 < d2. Both sides merge-pinned: the
    * df filter's selectivity estimate makes either side look
    * broadcastable while rare is nearly the whole shingle relation. With
    * `sizes` (doc_id, n, f, merge-pinned: a cached doc-cardinality
    * aggregate) attached to the rare ROWS, the per-doc counts ride along
    * as n1/f1/n2/f2 — attaching at pair level instead would sort the pair
    * relation twice (measured round-13). The one definition behind
    * [[cappedNgramWith]]'s pass 1 and [[dedupRecall]]'s ngram_capped
    * candidates, so the recall report measures the join the pipeline
    * runs. */
  private def rareSelfJoin(shDf: DataFrame, cap: Column,
                           sizes: Option[DataFrame] = None): DataFrame = {
    val rare0 = shDf.filter(col("df") <= cap).select(col("doc_id"), col("s"))
    val rare = sizes.fold(rare0)(z => rare0.join(z.hint("merge"), "doc_id"))
    val carry = if (sizes.isDefined) Seq("n", "f") else Nil
    def side(k: String) = rare.select(col("doc_id").as(s"d$k") +: col("s") +:
      carry.map(c => col(c).as(c + k)): _*).hint("merge")
    side("1").join(side("2"), "s").filter(col("d1") < col("d2"))
  }

  /** DuckDB mirror of [[ngramContainment]] — budget cap + rare-shingle
    * candidates + exact intersection + overlap-coefficient tail. */
  def duckNgramContainmentSql(table: String, threshold: Double,
                              candidateBudget: Int = 256): String =
    s"""WITH ${duckSh(table)},
       |dfr AS MATERIALIZED (SELECT s, count(*)::BIGINT AS df FROM sh GROUP BY s),
       |hist AS (SELECT df, count(*)::BIGINT AS n FROM dfr GROUP BY df),
       |nd AS (SELECT count(*)::BIGINT AS ndocs FROM $table),
       |cum AS (SELECT df, CAST(sum(n * (df * (df - 1) // 2)) OVER (ORDER BY df)
       |               AS BIGINT) AS cc FROM hist),
       |cap AS (SELECT coalesce(max(df), 1) AS cap FROM cum, nd
       |        WHERE cc <= ndocs * $candidateBudget),
       |rare AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh
       |         JOIN dfr USING (s), cap WHERE dfr.df <= cap.cap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
       |inter AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
       |          GROUP BY 1, 2)
       |SELECT d1, d2, s1.n AS n1, s2.n AS n2,
       |       round(i::DOUBLE / least(s1.n, s2.n), 6) AS containment
       |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |WHERE i::DOUBLE / least(s1.n, s2.n) >= $threshold
       |ORDER BY d1, d2""".stripMargin

  def duckNgramCappedSql(table: String, threshold: Double, maxDf: Int): String =
    s"""WITH ${duckSh(table)},
       |rare AS (SELECT sh.doc_id, sh.s FROM sh
       |         JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= $maxDf) f USING (s)),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2, round(jac, 6) AS jaccard")}""".stripMargin

  /** DuckDB mirror of [[ngramJaccardCappedAdaptive]] — same in-plan
    * integer cap derivation over the df histogram. */
  def duckNgramCappedAdaptiveSql(table: String, threshold: Double,
                                 keepPct: Int = 99): String =
    s"""WITH ${duckSh(table)},
       |dfr AS MATERIALIZED (SELECT s, count(*)::BIGINT AS df FROM sh GROUP BY s),
       |hist AS (SELECT df, count(*)::BIGINT AS n FROM dfr GROUP BY df),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM hist),
       |cum AS (SELECT df, CAST(sum(n) OVER (ORDER BY df) AS BIGINT) AS c FROM hist),
       |cap AS (SELECT min(df) AS cap FROM cum, tot WHERE c * 100 >= $keepPct * t),
       |rare AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh
       |         JOIN dfr USING (s), cap WHERE dfr.df <= cap.cap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2, round(jac, 6) AS jaccard")}""".stripMargin

  /** DuckDB mirror of [[ngramJaccardBudget]] — same cumulative
    * candidate-volume cap over the df histogram. */
  def duckNgramBudgetSql(table: String, threshold: Double,
                         candidateBudget: Int = 256): String =
    s"""WITH ${duckSh(table)},
       |dfr AS MATERIALIZED (SELECT s, count(*)::BIGINT AS df FROM sh GROUP BY s),
       |hist AS (SELECT df, count(*)::BIGINT AS n FROM dfr GROUP BY df),
       |nd AS (SELECT count(*)::BIGINT AS ndocs FROM $table),
       |cum AS (SELECT df, CAST(sum(n * (df * (df - 1) // 2)) OVER (ORDER BY df)
       |               AS BIGINT) AS cc FROM hist),
       |cap AS (SELECT coalesce(max(df), 1) AS cap FROM cum, nd
       |        WHERE cc <= nd.ndocs * $candidateBudget),
       |rare AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh
       |         JOIN dfr USING (s), cap WHERE dfr.df <= cap.cap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2, round(jac, 6) AS jaccard")}""".stripMargin

  /** Embedding-cosine near-dup: hashing-embedder vectors (integer bucket
    * counts → exact arithmetic), BANDED signed-hyperplane LSH prune
    * (Charikar sign-LSH: bit j = sign of Σ_d s(j,d)·v_d, the deterministic
    * ±1 md5 signs of [[Knn.rpSigns]] evaluated by the codegen'd
    * [[graft.functions.RpProject]] kernel), exact cosine ≥ threshold on
    * surviving candidates.
    *
    * ROUND-8 REDESIGN, forced by the one-decade-up gate: the previous key
    * was the PRESENCE bitstring of the leading dims, and presence bits of
    * a nonnegative count histogram are degenerate — this round's sf1
    * corpus collapsed to TWO patterns at 50k docs (~755M candidate pairs,
    * measured), and the adaptive variant's extra presence bits were just
    * as empty, so "corpus-relative width" bought nothing. A signed
    * hyperplane splits nonnegative vectors ~evenly (the ±1 projection is
    * ~symmetric about 0), so 2^bits buckets really hold ~n/2^bits docs
    * and the within-bucket quadratic is the one the occupancy math
    * promises. Sign bits are exact cross-engine: each projection is a sum
    * of ±integer counts — an exact integer-valued double in Spark and a
    * BIGINT sparse sum in the oracle.
    *
    * Geometry: `tables` independent bands of `bits` hyperplanes (band t
    * reads bits [t·16, t·16+bits) of the 16-bit-per-band `patf` layout —
    * fixed and adaptive variants share the layout, so adaptive ≡ fixed at
    * the derived width, spec-pinned); a pair is a candidate if ANY band
    * agrees: P(detect | cos s) = 1−(1−(1−acos(s)/π)^bits)^tables ≈ 0.99
    * at s = 0.95 with 8×8. Candidate loss is the only approximation.
    *
    * Verify is candidate-first (the CLAUDE.md rule): DISTINCT (d1,d2)
    * from the NARROW band equijoin (doc_id, t, bkey rows — embeddings
    * never ride the band shuffle), then one exact-dot join back to the
    * embedding relation, so the 384-wide dot runs once per pair, never
    * once per colliding band. */
  def embedCosine(documents: DataFrame, threshold: Double, bits: Int = 8,
                  tables: Int = 8): DataFrame =
    // cached: the derived-embedding subtree (tokenize → md5 → histogram agg)
    // is referenced by both band sides AND the verify join — without the
    // cache it executes four times. Harness clears per query.
    embedCosineOf(Embedder.embed(documents), threshold, bits, tables, cache = true)

  /** Bits reserved per band in the `patf` bit string — the shared layout
    * that makes the adaptive variant a per-band prefix truncation of the
    * fixed one (same hyperplanes at every width). */
  private val EmbedBandBlock = 16

  /** Quantization scale for the normalized projections — a power of two,
    * so the scaling is IEEE-exact (exponent shift, no rounding) and
    * floor() yields the identical integer in both engines. */
  private val EmbedQScale = 1024

  /** Per-bit corpus-MEDIAN thresholds of the balanced sign-LSH key —
    * (j, t) over j ∈ [0, nBits): t_j = the smallest quantized normalized
    * projection qr with 2·cum ≥ n (an all-integer rank threshold,
    * two-phase: partial-agged (j, q) histogram + prefix over the bounded
    * histogram relation — never a corpus-wide sort per j). Input relation
    * must carry (embedding, nrm). Public to the package so
    * [[graft.sources.EmbedLayout]] persists these beside the embedding
    * artifact (round-8 verdict #3) — a corpus statistic computed once per
    * snapshot, not per query. */
  private[graft] def balancedThresholds(e: DataFrame, nBits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e1 = e.withColumn("proj", graft.functions.VecExprs.rpProject(
      col("embedding"), Knn.rpSigns(nBits, Embedder.Dim)))
    val qr = e1.select(col("nrm"), posexplode(col("proj")).as(Seq("j", "p")))
      .select(col("j"), floor(col("p") / col("nrm") * EmbedQScale).as("q"))
    val hist = qr.groupBy("j", "q").agg(count(lit(1)).as("c"))
    val tot = e1.agg(count(lit(1)).as("n"))
    val wJ = Window.partitionBy("j").orderBy("q")
    hist.withColumn("cum", sum("c").over(wJ))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy("j").agg(min("q").as("t"))
  }

  /** Attach the tables×16 MEDIAN-BALANCED hyperplane bit string to an
    * (doc_id, embedding, nrm) relation.
    *
    * Raw sign bits (`proj_j > 0`) are degenerate on this embedder: every
    * doc is a bag from ONE token distribution, so proj_j ≈ len·μ_j +
    * noise and nearly all docs agree with sign(μ_j) — measured at sf1:
    * 91-98% of the corpus on one side of each raw hyperplane, bits
    * near-constant, buckets quadratic. Two fixes compose:
    *   1. normalize by the stored L2 norm (removes the length scaling:
    *      r_j = proj_j / nrm — a single IEEE division of exact values,
    *      bit-identical cross-engine);
    *   2. threshold each bit at the corpus MEDIAN of r_j (the spectral-
    *      hashing balancing step): bit = [qr_j > t_j] with qr = floor(r·
    *      1024) and t_j = the smallest qr with 2·cum ≥ n over the
    *      (j, qr) histogram — an all-integer rank threshold computed
    *      two-phase (partial-agged groupBy + prefix over the BOUNDED
    *      histogram relation; never a corpus-wide sort per j).
    * Measured at sf1 (50k docs): 24972/25028 balance per bit; band
    * occupancy max 461 at 10 bits vs 8,757 raw — the within-bucket
    * quadratic the occupancy math promises. Thresholds are corpus
    * statistics: the artifact-backed paths read them PERSISTED beside the
    * embedding artifact ([[graft.sources.EmbedLayout.ensureThresholds]],
    * round-8 verdict #3 — the per-query recompute was a full posexplode
    * histogram pass over n×nBits projections); the in-query facades still
    * recompute (`thresholds = None`), their corpus is a derived relation
    * with no artifact to sit beside. */
  private def withBalancedPatf(e: DataFrame, tables: Int,
                               thresholds: Option[DataFrame] = None): DataFrame = {
    val nBits = tables * EmbedBandBlock
    val e1 = e.withColumn("proj", graft.functions.VecExprs.rpProject(
      col("embedding"), Knn.rpSigns(nBits, Embedder.Dim)))
    val th = thresholds.getOrElse(balancedThresholds(e, nBits))
    // nBits-row relation → broadcast array (bounded-HOF exemption).
    // Eagerly checkpointed (1 row — the KMeans k-row discipline): the
    // patf relation is read by both band sides AND the verify join, and
    // without the checkpoint each reader would re-run the corpus-scale
    // histogram aggregation behind the thresholds. After it, a reader
    // re-executes only the map-side projection.
    val thArr = th.agg(sort_array(collect_list(struct(col("j"), col("t")))).as("jt"))
      .select(transform(col("jt"), x => x.getField("t")).as("th"))
      .localCheckpoint(true)
    // stored-thresholds drift guard (round-9 ADVICE #3): a caller-supplied
    // relation that doesn't cover nBits = tables × 16 would silently band
    // with missing per-bit thresholds (zip_with pads with null → every
    // wide bit "0"), degrading the LSH key instead of failing. The
    // checkpoint above is already eager and 1 row, so the check is free.
    val got = thArr.head().getSeq[Any](0).size
    require(got == nBits,
      s"balanced-LSH thresholds cover $got bits, need $nBits (tables=$tables × $EmbedBandBlock)")
    // The bit string is built with ONE reference to `proj` (zip_with over
    // the projection and threshold arrays, then array_join). The first
    // cut used nBits separate `element_at(proj, j)` branches, and
    // CollapseProject inlined the RpProject expression into EVERY branch —
    // 128 re-evaluations of a 128×384 projection per row, 3×10^11 mults
    // at sf1 (measured: the 260 s that dominated the whole query; the
    // single-reference form runs the candidate stage in ~1.5 s). The
    // lambda is interpreted, but over a bounded 128-element array per doc
    // — the sq8Scales bounded-HOF exemption, not the per-token ban.
    e1.crossJoin(broadcast(thArr))
      .withColumn("patf", array_join(
        zip_with(col("proj"), col("th"), (p, t) =>
          when(floor(p / col("nrm") * EmbedQScale) > t, lit("1"))
            .otherwise(lit("0"))), ""))
      .drop("proj", "th")
  }

  /** [[embedCosine]] core over a prebuilt (doc_id, embedding) relation —
    * the pure-read path over the persisted [[graft.sources.EmbedLayout]]
    * artifact. Default UNcached: a parquet-backed embedding relation keeps
    * honest scan stats (the PairsLayout rule), and re-scanning it per
    * consumer is a columnar read plus a map-side projection — cheaper than
    * the broadcast-lock-in exposure a cache creates. `cache = true` is for
    * callers handing in a DERIVED subtree (the in-query [[embedCosine]]
    * path), where recomputing means re-tokenizing the corpus.
    *
    * `bits` is a FLOOR, not an absolute width (round-9 verdict #2): the
    * effective band width is `clamp(bits, 16, floor(log2(n / targetOcc)))`
    * ([[embedCosineBanded]]) — at a truly fixed width, bucket occupancy
    * grows linearly with corpus size and within-bucket candidate pairs
    * quadratically (measured: the 10-bit-band verify shuffle exceeded
    * ~70 GB of spill disk at 500k docs, twice, while the occupancy-derived
    * sibling completed). Below n = targetOcc·2^bits docs the derivation is
    * inert and `bits` behaves exactly as before; past it the width grows
    * ~log2(10) bits per decade and occupancy stays ~targetOcc.
    * [[embedCosineAdaptiveOf]] remains the fully-adaptive variant (floor
    * 1 — narrower bands on SMALL corpora, where 8 fixed bits over-prune
    * recall). */
  def embedCosineOf(emb: DataFrame, threshold: Double, bits: Int = 8,
                    tables: Int = 8, cache: Boolean = false,
                    thresholds: Option[DataFrame] = None,
                    targetOccupancy: Int = 32): DataFrame =
    embedCosineBanded(emb, threshold, bits, EmbedBandBlock, tables, cache, thresholds,
      targetOccupancy)

  /** Corpus-relative band width for [[embedCosine]]: derive
    * `bits = clamp(1, maxBits, floor(log2(n / targetOccupancy)))` IN-PLAN
    * ([[embedCosineBanded]]), so expected band-bucket occupancy stays
    * ~targetOccupancy as the corpus grows and the within-bucket quadratic
    * stays bounded — meaningful now that the hyperplane buckets are
    * balanced (under the old presence key the derived width was provably
    * useless on a degenerate corpus; see the [[embedCosine]] scaladoc).
    * The recall trade is the standard sign-LSH one — wider bands lose more
    * boundary pairs, `tables` is the recall lever, `maxBits` the
    * deployment's floor. */
  def embedCosineAdaptive(documents: DataFrame, threshold: Double,
                          targetOccupancy: Int = 32, maxBits: Int = 16,
                          tables: Int = 8): DataFrame =
    embedCosineAdaptiveOf(Embedder.embed(documents), threshold,
      targetOccupancy, maxBits, tables, cache = true)

  /** [[embedCosineAdaptive]] core over a prebuilt (doc_id, embedding)
    * relation — caching contract as in [[embedCosineOf]]. */
  def embedCosineAdaptiveOf(emb: DataFrame, threshold: Double,
                            targetOccupancy: Int = 32, maxBits: Int = 16,
                            tables: Int = 8, cache: Boolean = false,
                            thresholds: Option[DataFrame] = None): DataFrame =
    embedCosineBanded(emb, threshold, 1, maxBits, tables, cache, thresholds, targetOccupancy)

  /** The one body of [[embedCosineOf]] and [[embedCosineAdaptiveOf]]:
    * balanced patf bits ([[withBalancedPatf]]) → band width
    * `clamp(lo, hi, floor(log2(n / targetOccupancy)))`, derived IN-PLAN
    * with the exact `length(bin(x)) - 1` integer log → band equijoin →
    * candidate-first exact verify against the PLAIN (doc_id, embedding,
    * nrm) relation. Not the patf-attached one: its lineage destroys the
    * size estimate, planning the verify joins as SMJ that shuffle and sort
    * a 3 KB embedding row per candidate per side (~50 GB of sort I/O at
    * sf1's 18M candidates); the plain relation keeps honest stats —
    * broadcast verify at test scales, a doc-id shuffle join at corpus
    * scale. (With this and the [[withBalancedPatf]] inlining fix the full
    * adaptive query runs 7.5 s warm at sf1, from 255 s.) */
  private def embedCosineBanded(emb: DataFrame, threshold: Double, lo: Int, hi: Int,
                                tables: Int, cache: Boolean,
                                thresholds: Option[DataFrame],
                                targetOccupancy: Int): DataFrame = {
    require(lo <= EmbedBandBlock && hi <= EmbedBandBlock,
      s"band width clamp [$lo, $hi] exceeds band block $EmbedBandBlock")
    val e0 = emb.withColumn("nrm", sqrt(dotc(col("embedding"), col("embedding"))))
    val v = if (cache) e0.cache() else e0
    val e = withBalancedPatf(v, tables, thresholds)
    val nb = v.agg(count(lit(1)).as("n"))
      .select(greatest(lit(lo), least(lit(hi),
        length(bin(expr(s"n DIV $targetOccupancy"))) - 1)).as("bits"))
    val bands = e.crossJoin(broadcast(nb))
      .select(col("doc_id"), col("patf"), col("bits"),
        explode(expr(s"sequence(0, ${tables - 1})")).as("t"))
      .select(col("doc_id"), col("t"),
        expr(s"substring(patf, t * $EmbedBandBlock + 1, bits)").as("bkey"))
    val rawSim = dotc(col("e1"), col("e2")) / (col("n1") * col("n2"))
    bandCollisions(bands, bands, Below, band = "t").distinct()
      .join(v.select(col("doc_id").as("d1"), col("embedding").as("e1"),
        col("nrm").as("n1")), "d1")
      .join(v.select(col("doc_id").as("d2"), col("embedding").as("e2"),
        col("nrm").as("n2")), "d2")
      .filter(rawSim >= threshold)
      .select(col("d1"), col("d2"), round(rawSim, 6).as("sim"))
      .orderBy(asc("d1"), asc("d2"))
  }

  /** Per-candidate dot product over [[Embedder.duckDenseEmbCtes]]'s dense
    * lists — ARRAY-NATIVE `list_dot_product`. The round-7 sf1 gate killed
    * the previous per-candidate sparse histogram join (two 384-bucket
    * probes per pair) on single-node temp/time budgets, while the list
    * kernel is one vectorized pass per pair. Exactness is unchanged:
    * counts are integers, so the dot is an exact integer-valued double
    * whatever the summation order. */
  private def duckCosineTail(threshold: Double): String =
    s"""dots AS (SELECT c.d1, c.d2, list_dot_product(x.e, y.e) AS dot
       |         FROM cand c JOIN emb x ON x.doc_id = c.d1
       |         JOIN emb y ON y.doc_id = c.d2),
       |s AS (SELECT d.d1, d.d2, d.dot / (n1.n * n2.n) AS sim_raw
       |      FROM dots d JOIN nrm n1 ON n1.doc_id = d.d1 JOIN nrm n2 ON n2.doc_id = d.d2)
       |SELECT d1, d2, round(sim_raw, 6) AS sim
       |FROM s WHERE sim_raw >= $threshold ORDER BY d1, d2""".stripMargin

  /** Hyperplane CTEs of the cosine mirrors: the SAME md5-parity ±1 signs
    * as [[Knn.rpSigns]] recomputed in SQL (tables×16 × Dim rows —
    * bounded), projections as SPARSE integer sums over the histogram
    * (exact ≡ the dense RpProject sums: absent buckets contribute 0),
    * then the identical norm-normalize → floor-quantize → median-rank
    * threshold chain as [[withBalancedPatf]] — p/n is one IEEE division
    * of exact values, ×1024 an exponent shift, floor() the same integer
    * in both engines. */
  private def duckBandCtes(tables: Int): String =
    s"""signs AS MATERIALIZED (
       |  SELECT j, d, CASE WHEN ('0x' || substr(md5(j::VARCHAR || '_' || d::VARCHAR), 1, 1))::INT % 2 = 0
       |               THEN 1 ELSE -1 END AS sgn
       |  FROM range(0, ${tables * EmbedBandBlock}) t(j), range(0, ${Embedder.Dim}) u(d)),
       |qr AS MATERIALIZED (
       |  SELECT pr.doc_id, pr.j, CAST(floor(pr.p / nr.n * $EmbedQScale) AS BIGINT) AS q
       |  FROM (SELECT h.doc_id, s.j, CAST(sum(h.cnt * s.sgn) AS BIGINT) AS p
       |        FROM h JOIN signs s ON s.d = h.bucket GROUP BY 1, 2) pr
       |  JOIN nrm nr ON nr.doc_id = pr.doc_id),
       |qth AS (SELECT j, min(q) AS t FROM
       |          (SELECT j, q, sum(c) OVER (PARTITION BY j ORDER BY q) AS cum
       |           FROM (SELECT j, q, count(*)::BIGINT AS c FROM qr GROUP BY 1, 2)),
       |          (SELECT count(*)::BIGINT AS n FROM emb)
       |        WHERE cum * 2 >= n GROUP BY j),
       |patf AS MATERIALIZED (
       |  SELECT qr.doc_id, string_agg(CASE WHEN qr.q > qth.t THEN '1' ELSE '0' END, '' ORDER BY qr.j) AS patf
       |  FROM qr JOIN qth USING (j) GROUP BY qr.doc_id),
       |tt AS (SELECT unnest(range(0, $tables)) AS t)""".stripMargin

  /** DuckDB mirror of [[embedCosineAdaptive]] — same integer-log width
    * derivation, same banded hyperplane keys. */
  def duckEmbedCosineAdaptive(table: String, threshold: Double,
                              targetOccupancy: Int = 32, maxBits: Int = 16,
                              tables: Int = 8): String =
    duckEmbedCosineBanded(table, threshold, 1, maxBits, tables, targetOccupancy)

  /** DuckDB mirror of [[embedCosineOf]] — same floor-width derivation. */
  def duckEmbedCosine(table: String, threshold: Double, bits: Int = 8,
                      tables: Int = 8, targetOccupancy: Int = 32): String =
    duckEmbedCosineBanded(table, threshold, bits, EmbedBandBlock, tables, targetOccupancy)

  /** DuckDB mirror of [[embedCosineBanded]]: band width clamped to [lo, hi]. */
  private def duckEmbedCosineBanded(table: String, threshold: Double, lo: Int, hi: Int,
                                    tables: Int, targetOccupancy: Int): String =
    s"""WITH ${Embedder.duckDenseEmbCtes(table)},
       |${duckBandCtes(tables)},
       |nb AS (SELECT greatest($lo, least($hi,
       |               length(bin(count(*) // $targetOccupancy)) - 1)) AS bits
       |       FROM patf),
       |bands AS (SELECT doc_id, t, substr(patf, (t * $EmbedBandBlock + 1)::INT, nb.bits::INT) AS bkey
       |          FROM patf, tt, nb),
       |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |         FROM bands x JOIN bands y
       |         ON x.t = y.t AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |${duckCosineTail(threshold)}""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup via
    * cluster-then-prune over an embedding table: assign every vector to
    * its nearest centroid ([[Knn.ivfAssign]] — ONE assignment definition
    * with the IVF search path, so search and dedup can never disagree on
    * cluster membership), then within each cluster drop any vector that
    * has an EARLIER (lower vec_id) cluster-mate within `threshold` cosine.
    * The earlier-id rule is the deterministic stand-in for the paper's
    * keep-one-representative step — no iterative connected components, one
    * pass, oracle-expressible. Emits per-cluster accounting
    * (cluster, n_vecs, n_dropped, n_kept, drop_frac) ordered by cluster.
    *
    * Scale shape — the SemDeDup point: the quadratic test runs WITHIN
    * clusters only, a cluster-keyed equijoin with candidate mass
    * Σ|cluster|² ≈ N²/C, never the all-pairs θ-join; a deployment scales
    * `numCentroids` ~ √N so per-cluster work stays flat. Assignment is a
    * map-side projection against a broadcast centroid row (no shuffle);
    * the self-join is one exchange on the cluster key. `assigned` is
    * cached (three consumers: both join sides and the per-cluster
    * denominator) and the self-join is deliberately NOT merge-pinned:
    * low-cardinality-key cached self-join is the embedCosine
    * negative-result shape (4.7× regression measured round 4), not the
    * inverted-index hazard class. The per-cluster count relations are
    * bounded by `numCentroids` — broadcast of them is wanted, not a
    * hazard. Rank/filter on RAW cosine; display rounding only in the
    * final projection.
    */
  def semDedup(index: DataFrame, numCentroids: Int = 16,
               threshold: Double = 0.4): DataFrame = {
    val assigned = Knn.ivfAssign(index, numCentroids).cache()
    val a = assigned.select(col("cluster"), col("vec_id").as("v1"),
      col("ed").as("e1"), col("nrm").as("n1"))
    val b = assigned.select(col("cluster"), col("vec_id").as("v2"),
      col("ed").as("e2"), col("nrm").as("n2"))
    val rawSim = dotc(col("e1"), col("e2")) / (col("n1") * col("n2"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("v1") < col("v2") && rawSim >= threshold)
      .select(col("cluster"), col("v2")).distinct()
    val nv = assigned.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
    val nd = dropped.groupBy("cluster").agg(count(lit(1)).as("n_dropped"))
    nv.join(nd, Seq("cluster"), "left")
      .select(col("cluster"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        round(coalesce(col("n_dropped"), lit(0L)).cast("double")
          / col("n_vecs"), 6).as("drop_frac"))
      .orderBy(asc("cluster"))
  }

  /** DuckDB mirror of [[semDedup]] — the `cent`/`asg` assignment CTEs are
    * q_knn_ivf's proven pattern (argmax cosine, lowest-cid tiebreak). */
  def duckSemDedup(table: String, numCentroids: Int = 16,
                   threshold: Double = 0.4): String = {
    import graft.functions.VectorFns.duckCosine
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM $table WHERE vec_id < $numCentroids),
       |asg AS (SELECT e.vec_id, e.embedding, c.cid,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${duckCosine("e.embedding", "c.ce")} DESC, c.cid) AS crn
       |        FROM $table e CROSS JOIN cent c),
       |a AS (SELECT vec_id, embedding, cid AS cluster FROM asg WHERE crn = 1),
       |drp AS (SELECT DISTINCT y.cluster, y.vec_id
       |        FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |        WHERE ${duckCosine("x.embedding", "y.embedding")} >= $threshold),
       |nv AS (SELECT cluster, count(*)::BIGINT AS n_vecs FROM a GROUP BY cluster),
       |nd AS (SELECT cluster, count(*)::BIGINT AS n_dropped FROM drp GROUP BY cluster)
       |SELECT nv.cluster, nv.n_vecs,
       |       coalesce(nd.n_dropped, 0)::BIGINT AS n_dropped,
       |       (nv.n_vecs - coalesce(nd.n_dropped, 0))::BIGINT AS n_kept,
       |       round(coalesce(nd.n_dropped, 0)::DOUBLE / nv.n_vecs, 6) AS drop_frac
       |FROM nv LEFT JOIN nd USING (cluster) ORDER BY cluster""".stripMargin
  }

  // ----------------------------------------------------------- oracle SQL

  private def duckSh(table: String): String =
    s"""tk AS (SELECT doc_id, ${duckTokens("text")} AS t FROM $table),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, s
       |       FROM (SELECT doc_id, unnest(${duckShingles("t", 3)}) AS s FROM tk))""".stripMargin

  /** CTE chain `sizes, inter, j` computing exact Jaccard for the candidate
    * pairs in `candCte` — shared by the per-variant final selects and by
    * [[duckClustersSql]]'s recursive wrapper. */
  private def duckJaccardCtes(candCte: String): String =
    s"""sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          JOIN $candCte c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
       |          GROUP BY 1, 2),
       |j AS (SELECT d1, d2, i::DOUBLE / (s1.n + s2.n - i) AS jac
       |      FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2)""".stripMargin

  private def duckJaccard(candCte: String, filterExpr: String, selectCols: String,
                          extraJoin: String = ""): String =
    s"""${duckJaccardCtes(candCte)}
       |SELECT $selectCols FROM j $extraJoin WHERE $filterExpr ORDER BY d1, d2""".stripMargin

  def duckExact(table: String): String =
    s"""WITH g AS (SELECT md5(text) AS h, count(*)::BIGINT AS n FROM $table GROUP BY 1)
       |SELECT count(*)::BIGINT AS n_groups, CAST(sum(n) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       |       CAST(max(n) AS BIGINT) AS max_group
       |FROM g""".stripMargin

  /** CTE chain `tk, sh, sig, bands, cand` producing the MinHash+LSH band
    * candidate pairs — shared by [[duckMinhashSql]] and [[duckClustersSql]].
    * seeds/rowsPerBand mirror minhash()'s parameters — band list derived,
    * not hard-coded, so non-default calls stay in sync with the oracle. */
  private def duckMinhashCandCtes(table: String, seeds: Int, rowsPerBand: Int): String = {
    val mins = (0 until seeds).map(s => s"min(${duckMinhash("s", s)}) AS h$s").mkString(", ")
    val bandRows = (0 until seeds / rowsPerBand).map { b =>
      val key = (0 until rowsPerBand).map(r => s"h${b * rowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM sig"
    }.mkString("\n       UNION ALL ")
    s"""${duckSh(table)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS ($bandRows),
       |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |         FROM bands x JOIN bands y
       |         ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin
  }

  def duckMinhashSql(table: String, threshold: Double,
                     seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2, round(jac, 6) AS jaccard")}""".stripMargin

  /** DuckDB mirror of the persisted [[graft.sources.PairsLayout]] relation
    * (= [[nearDupPairs]]): the bare verified pair set, ordered. */
  def duckPairsSql(table: String, threshold: Double,
                   seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2")}""".stripMargin

  /** DuckDB mirror of [[clusters]]: the same MinHash pair CTEs, then
    * connected components as a recursive min-label closure — `reach` holds
    * every (node, reachable-node) pair, so `min(root)` per node is the
    * smallest doc_id in its component, which is exactly the fixpoint the
    * Spark loop converges to. */
  def duckClustersSql(table: String, threshold: Double,
                      seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH RECURSIVE ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccardCtes("cand")},
       |pairs AS (SELECT d1, d2 FROM j WHERE jac >= $threshold),
       |nodes AS (SELECT d1 AS node FROM pairs UNION SELECT d2 FROM pairs),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |          UNION SELECT d2 AS a, d1 AS b FROM pairs),
       |reach(node, root) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
       |cc AS (SELECT node AS doc_id, min(root) AS cluster FROM reach GROUP BY node)
       |SELECT doc_id, cluster, (doc_id = cluster) AS is_canonical,
       |       (count(*) OVER (PARTITION BY cluster))::BIGINT AS cluster_size
       |FROM cc ORDER BY cluster, doc_id""".stripMargin

  /** Near-dup graph health report: the degree histogram of a (d1, d2)
    * pair graph — (degree, n_docs) for every doc that appears in at least
    * one pair. This is the report a production pipeline reads
    * BEFORE pruning at scale: a fat high-degree tail means a boilerplate
    * attractor (one template near-dup to thousands of docs — prune by
    * cluster, or raise maxDf upstream), while an all-degree-1 histogram
    * means clean A↔B duplicates where pairwise dropping is safe. Same
    * diagnostic family as [[Curation]]'s funnel accounting: cheap relative
    * to the pipeline it tunes, because it reads the materialize-once
    * [[nearDupPairs]] artifact ([[graft.sources.PairsLayout]]).
    *
    * Scale shape: the pair relation is ≪ corpus by construction; the
    * endpoint union is column projections (no shuffle), the degree count
    * and the histogram are two partial-agged aggregations whose output is
    * bounded by max-degree — nothing here touches corpus cardinality
    * beyond the pair pipeline itself. Reads `pairs` twice and deliberately
    * does NOT cache: a PairsLayout read is a tiny parquet scan with honest
    * stats; a caller passing a recomputed pipeline caches it first. */
  def degreeOfPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("d1").as("doc_id"))
      .unionAll(pairs.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy(asc("degree"))

  /** DuckDB mirror of [[degreeOfPairs]] over [[nearDupPairs]] — the same shared MinHash candidate
    * CTEs and Jaccard tail as [[duckMinhashSql]], then the two-level
    * degree aggregation. */
  def duckDupDegreeSql(table: String, threshold: Double,
                       seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccardCtes("cand")},
       |pairs AS (SELECT d1, d2 FROM j WHERE jac >= $threshold),
       |deg AS (SELECT doc_id, count(*)::BIGINT AS degree FROM
       |          (SELECT d1 AS doc_id FROM pairs
       |           UNION ALL SELECT d2 FROM pairs) e GROUP BY doc_id)
       |SELECT degree, count(*)::BIGINT AS n_docs
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** Triangle census of a (d1, d2) near-dup pair graph — global
    * clustering coefficient as a ONE-row report: how clique-like is the
    * duplicate structure?
    * High closure = LSH pairs agree transitively (true duplicate groups —
    * [[clustersOfPairs]] components are dense); low closure = chains and
    * stars (threshold-boundary bridges or a boilerplate attractor linking
    * unrelated docs — inspect before a 100 TB prune, alongside
    * [[degreeOfPairs]]'s tail and [[pagerankOfPairs]]'s hubs).
    *
    * Counting contract: edges are canonical (d1 < d2), triangles are
    * enumerated once from their LOWEST vertex (edges (a,b), (a,c), b < c,
    * closed by (b,c)); wedges are Σ_v C(deg v, 2) from the degree
    * relation. All-integer; clustering = 3·T/W is one double division,
    * round(6) in the projection.
    *
    * Scale shape: the wedge join is an equijoin on the LOW endpoint of
    * the pair graph (≪ corpus); its fan-out is C(deg_low(v), 2) — the
    * [[degreeOfPairs]] histogram is the input that predicts this cost, and a
    * deployment with a fat tail prunes the attractor first (the report's
    * own advice). The closure test is candidate-first (wedges probe the
    * edge relation) with the build side merge-pinned — the
    * minhash verify-join precedent: a pair-graph relation must not become
    * a broadcast build side off a stale pre-materialization estimate.
    * `pairs` is read three times (two wedge legs + closure probe) and
    * uncached like [[degreeOfPairs]]: the artifact-read path's stats stay
    * honest. */
  def trianglesOfPairs(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("d1"), col("d2"))
    val wedgeLow = e.as("x").join(e.as("y"),
        col("x.d1") === col("y.d1") && col("x.d2") < col("y.d2"))
      .select(col("x.d2").as("wb"), col("y.d2").as("wc"))
    val tri = wedgeLow.join(
        e.select(col("d1").as("wb"), col("d2").as("wc")).hint("merge"),
        Seq("wb", "wc"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = pairs.select(col("d1").as("doc_id"))
      .unionAll(pairs.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .agg(sum(expr("degree * (degree - 1) div 2")).cast("long").as("n_wedges"))
    val edges = pairs.agg(count(lit(1)).as("n_edges"))
    edges.crossJoin(tri).crossJoin(wedges)
      .select(col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** DuckDB mirror of [[trianglesOfPairs]] over [[nearDupPairs]] — the shared pair CTEs, then the
    * same lowest-vertex triangle enumeration and degree-wedge count. */
  def duckDupTrianglesSql(table: String, threshold: Double,
                          seeds: Int = MinhashSeeds,
                          rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccardCtes("cand")},
       |pairs AS (SELECT d1, d2 FROM j WHERE jac >= $threshold),
       |wl AS (SELECT x.d2 AS wb, y.d2 AS wc
       |       FROM pairs x JOIN pairs y ON x.d1 = y.d1 AND x.d2 < y.d2),
       |tri AS (SELECT count(*)::BIGINT AS n_triangles FROM wl
       |        WHERE EXISTS (SELECT 1 FROM pairs p
       |                      WHERE p.d1 = wl.wb AND p.d2 = wl.wc)),
       |deg AS (SELECT doc_id, count(*)::BIGINT AS degree FROM
       |          (SELECT d1 AS doc_id FROM pairs
       |           UNION ALL SELECT d2 FROM pairs) u GROUP BY doc_id),
       |wd AS (SELECT CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
       |ed AS (SELECT count(*)::BIGINT AS n_edges FROM pairs)
       |SELECT ed.n_edges, tri.n_triangles, wd.n_wedges,
       |       CASE WHEN wd.n_wedges > 0
       |            THEN round(3.0 * tri.n_triangles / wd.n_wedges, 6)
       |            ELSE 0.0 END AS clustering
       |FROM ed CROSS JOIN tri CROSS JOIN wd""".stripMargin

  /** Duplicate centrality — integer-exact PageRank over a (d1, d2)
    * near-dup pair graph, `iters` fixed power iterations: which docs sit at the CENTER
    * of near-dup mass (templates radiating variants) vs its periphery?
    * Degree alone ([[degreeOfPairs]]) can't tell a hub from a member of one
    * big clique; centrality concentrates on the former, which is the
    * prune-priority / inspection queue a production pass wants.
    *
    * Arithmetic contract: ranks are integers at scale 10^12, the damping
    * step is `base + (85·Σ contrib) DIV 100` and the spread step
    * `r DIV deg` — ALL integer (floor) operations, so no float sum ever
    * happens and the oracle matches bit-for-bit; both engines truncate
    * positive integer division identically. Rank mass is bounded by
    * S·|nodes| (~10^12·|graph|), so BIGINT holds up to ~10^5 graph nodes
    * — a deployment with a larger dup graph lowers S one decade per 10×
    * nodes (the scaladoc constant, not a code change).
    *
    * Scale shape: the per-iteration step is one edge-keyed equijoin +
    * one partial-agged groupBy over the PAIR GRAPH (≪ corpus, the
    * [[clustersOfPairs]] argument), `localCheckpoint` truncates lineage
    * per round, and the symmetric edge relation guarantees every node
    * receives each round (no dangling-rank bookkeeping). Fixed iteration
    * count, not convergence-probed: centrality ordering stabilizes in a
    * few rounds on short-diameter dup components, and a FIXED count is
    * what the unrolled oracle can mirror. Testable on synthetic graphs (a
    * star must rank its hub first). */
  def pagerankOfPairs(pairs: DataFrame, iters: Int = 3, topN: Int = 20): DataFrame =
    pagerankOfPairsWith(pairs, iters, topN)._1

  /** [[pagerankOfPairs]] returning its internal caches (the doubled edge
    * relation is read every round AND by the final degree join; the plain
    * form relies on the harness's per-query cache clear). */
  def pagerankOfPairsWith(pairs: DataFrame, iters: Int = 3, topN: Int = 20)
      : (DataFrame, Seq[DataFrame]) = {
    val S = 1000000000000L
    val base = 150000000000L
    val p = pairs.select(col("d1"), col("d2")).cache()
    val edges = p.select(col("d1").as("src"), col("d2").as("dst"))
      .union(p.select(col("d2").as("src"), col("d1").as("dst")))
      .cache()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var rank = edges.select(col("src").as("node")).distinct()
      .withColumn("r", lit(S)).localCheckpoint()
    for (_ <- 1 to iters) {
      rank = edges
        .join(deg, "src")
        .join(rank.select(col("node").as("src"), col("r")), "src")
        .select(col("dst").as("node"), expr("r DIV deg").as("c"))
        .groupBy("node").agg(sum("c").as("insum"))
        .select(col("node"), (lit(base) + expr("(85 * insum) DIV 100")).as("r"))
        .localCheckpoint()
    }
    val out = rank
      .join(deg.select(col("src").as("node"), col("deg").as("degree")), "node")
      .orderBy(desc("r"), asc("node"))
      .limit(topN)
      .select(col("node").as("doc_id"), col("degree"), col("r").as("rank_q"))
    (out, Seq(p, edges))
  }

  /** DuckDB mirror of [[pagerankOfPairs]] over [[nearDupPairs]] — same pair CTEs, the power
    * iteration UNROLLED (fixed count is the contract), same integer floor
    * arithmetic (`//` truncates positive BIGINTs exactly like Spark DIV;
    * DuckDB's HUGEINT sum is cast back to BIGINT inside the bound). */
  def duckDupPagerankSql(table: String, threshold: Double, iters: Int = 3,
                         topN: Int = 20, seeds: Int = MinhashSeeds,
                         rowsPerBand: Int = MinhashRowsPerBand): String = {
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, so round i
    // would re-evaluate the whole minhash chain through r0..r_{i-1} —
    // the same O(2^T) lineage blowup the Spark loop's localCheckpoint
    // prevents; the sf1 gate measured it as a temp-spill explosion
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT e.dst AS node,
         |          (150000000000 + (85 * sum(r.r // d.deg)) // 100)::BIGINT AS r
         |        FROM edges e JOIN deg d ON d.src = e.src
         |        JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst)""".stripMargin
    }.mkString(",\n       |")
    s"""WITH ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccardCtes("cand")},
       |pairs AS MATERIALIZED (SELECT d1, d2 FROM j WHERE jac >= $threshold),
       |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1000000000000::BIGINT AS r FROM edges),
       |$iterCtes
       |SELECT rf.node AS doc_id, d2.deg AS degree, rf.r AS rank_q
       |FROM r$iters rf JOIN deg d2 ON d2.src = rf.node
       |ORDER BY rf.r DESC, doc_id LIMIT $topN""".stripMargin
  }

  /** (doc_id, grp, split) — the TOKENIZATION-FREE core of the split:
    * split depends only on the cluster label, so the straddle probe's two
    * assignment reads skip the corpus regex tokenization entirely (a
    * per-read full-text scan at corpus scale). Measured cost-neutral at
    * sf0.1 (~9 s either way under load; the pipeline is dominated by the
    * shared minhash+CC stages) — the lite form is the bandwidth-correct
    * shape at 100 TB, where text column reads the probe does not need are
    * pure waste. */
  private def liteAssignOf(docIds: DataFrame, cl: DataFrame, valPct: Int): DataFrame =
    docIds
      .join(cl, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        when(conv(substring(md5(col("grp").cast("string")), 1, 8), 16, 10)
          .cast("bigint") % 100 < valPct, "val").otherwise("train"))
      .select(col("doc_id"), col("grp"), col("split"))

  /** The per-doc half of [[leakageSplitOfPairs]]: (doc_id, ntok, grp, split) for
    * every doc, group-keyed hash assignment over an EXTERNALLY-owned pair
    * relation — the composition seam [[graft.Graft.prepareTrainingSet]]
    * uses, where the same materialized [[nearDupPairs]] feeds curation,
    * the split, and the straddle probe. `pairs` should be cached by the
    * caller (it is read by clustering here and usually again by the
    * caller's own probes); pair membership is per-pair, so a caller on a
    * FILTERED corpus passes the full-corpus pairs semi-joined to its
    * subset (the [[nearDupPairs]] restriction contract). */
  def splitAssignment(documents: DataFrame, pairs: DataFrame,
                      valPct: Int = 10, maxIter: Int = 20): DataFrame = {
    val cl = clustersOfPairs(pairs, maxIter).select(col("doc_id"), col("cluster"))
    documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("ntok"))
      .join(liteAssignOf(documents.select("doc_id"), cl, valPct), "doc_id")
  }

  /** Leakage-safe train/validation split over a (d1, d2) near-dup pair
    * relation: assign splits by NEAR-DUP
    * CLUSTER, not by document, so no near-duplicate pair can straddle the
    * boundary — the held-out set stays honest. A per-doc hash split (the
    * naive `md5(doc_id) % 100` everyone starts with) leaks: a val doc's
    * near-duplicate lands in train with probability `1 − valPct/100`, and
    * the val loss silently measures memorization. Here the hash is taken
    * of the doc's GROUP id — its near-dup cluster label, or its own id if
    * unclustered — so a whole component moves together by construction.
    *
    * The straddle count is still MEASURED, not asserted: `n_straddle`
    * joins the pair relation against both endpoints' split assignments and
    * counts disagreements (0 by construction; a nonzero value means the
    * pair/cluster plumbing broke, and the oracle would catch it the same
    * run). Output: one row per split — (split, n_groups, n_docs,
    * n_tokens, n_straddle).
    *
    * Scale shape: clustering is the [[clustersOfPairs]] O(log n) loop over
    * the materialize-once [[nearDupPairs]] seam; `pairs` is read by both
    * the CC loop and the straddle probe and is left uncached — over a
    * [[graft.sources.PairsLayout]] artifact every read is a tiny parquet
    * scan with honest stats. The assignment relation is deliberately NOT
    * cached either: it is doc-cardinality, recomputing it is one
    * checkpointed-labels join, and an uncached plan keeps natural
    * parquet-stat estimates — small now, big at scale → SMJ — instead of
    * a post-materialization actual-size estimate that would plan a
    * locked-in doc-cardinality broadcast (the round-4 curation lesson).
    * A LIBRARY caller composing the split into a pipeline uses
    * [[splitAssignment]] with its own [[nearDupPairsWith]] handles (the
    * [[graft.Graft.prepareTrainingSet]] shape). */
  def leakageSplitOfPairs(documents: DataFrame, pairs: DataFrame,
                          valPct: Int = 10, maxIter: Int = 20): DataFrame = {
    val cl = clustersOfPairs(pairs, maxIter).select(col("doc_id"), col("cluster"))
    val lite = liteAssignOf(documents.select("doc_id"), cl, valPct)
    val straddle = pairs
      .join(lite.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
      .join(lite.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
      .agg(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)).as("n_straddle"))
    documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("ntok"))
      .join(lite, "doc_id")
      .groupBy("split").agg(
        countDistinct("grp").as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"))
      .crossJoin(broadcast(straddle))
      .select(col("split"), col("n_groups"), col("n_docs"),
        col("n_tokens"), coalesce(col("n_straddle"), lit(0L)).as("n_straddle"))
      .orderBy("split")
  }

  /** DuckDB mirror of [[leakageSplitOfPairs]] over [[nearDupPairs]] — same pair CTEs as
    * [[duckClustersSql]], then group-keyed hash split + straddle recount. */
  def duckLeakageSplit(table: String, threshold: Double,
                       valPct: Int = 10,
                       seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH RECURSIVE ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |${duckJaccardCtes("cand")},
       |pairs AS (SELECT d1, d2 FROM j WHERE jac >= $threshold),
       |nodes AS (SELECT d1 AS node FROM pairs UNION SELECT d2 FROM pairs),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |          UNION SELECT d2 AS a, d1 AS b FROM pairs),
       |reach(node, root) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
       |cc AS (SELECT node AS doc_id, min(root) AS cluster FROM reach GROUP BY node),
       |asg AS (
       |  SELECT d.doc_id, len(${duckTokens("d.text")})::BIGINT AS ntok,
       |         coalesce(cc.cluster, d.doc_id) AS grp,
       |         CASE WHEN ('0x' || substr(md5(coalesce(cc.cluster, d.doc_id)::VARCHAR), 1, 8))::BIGINT
       |                   % 100 < $valPct
       |              THEN 'val' ELSE 'train' END AS split
       |  FROM $table d LEFT JOIN cc ON d.doc_id = cc.doc_id),
       |straddle AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN x.split <> y.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_straddle
       |  FROM pairs p JOIN asg x ON p.d1 = x.doc_id JOIN asg y ON p.d2 = y.doc_id)
       |SELECT split, count(DISTINCT grp)::BIGINT AS n_groups,
       |       count(*)::BIGINT AS n_docs,
       |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |       (SELECT n_straddle FROM straddle) AS n_straddle
       |FROM asg GROUP BY split ORDER BY split""".stripMargin

  def duckNgramSql(table: String, threshold: Double): String =
    s"""WITH ${duckSh(table)},
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id),
       |${duckJaccard("cand", s"jac >= $threshold", "d1, d2, round(jac, 6) AS jaccard")}""".stripMargin

  /** Ingest-time incremental near-dup: a NEW batch (the deterministic
    * `doc_id % batchMod = batchRem` slice, ~10% standing in for today's
    * crawl) checked against the EXISTING corpus — the shape a continuous
    * pipeline runs on every ingest, where re-running all-pairs dedup over
    * corpus ∪ batch would redo yesterday's work quadratically.
    *
    * Scale shape: the corpus-side band index is the persisted artifact (in
    * production: the bucketed table [[graft.sources.IndexBuild
    * .writeBucketed]] writes, bucketed by band key, so the probe below is
    * co-located and shuffle-free); the batch side is small by construction
    * — its bands broadcast naturally. Candidates come from the band-key
    * equijoin (new × old only, never old × old), and the exact-Jaccard
    * verify is candidate-first as everywhere in this family. Emitted roles
    * are (batch_doc, corpus_doc) — not the symmetric d1 < d2 — because the
    * downstream decision is one-sided: drop or link the NEW doc.
    */
  def minhashIncremental(documents: DataFrame, threshold: Double,
                         batchMod: Int = 10, batchRem: Int = 7,
                         seeds: Int = MinhashSeeds,
                         rowsPerBand: Int = MinhashRowsPerBand): DataFrame = {
    val sh = shingleRows(documents, 3)
    val bands = bandRowsOf(sh, seeds, rowsPerBand)
    val newB = bands.filter(col("doc_id") % batchMod === batchRem)
    val oldB = bands.filter(col("doc_id") % batchMod =!= batchRem)
    val side = sideOf(sh)
    asBatchCorpus(jaccardVerify(bandCollisions(newB, oldB, None).distinct(), side, side,
      threshold))
  }

  /** (d1, d2, jaccard) → the one-sided (batch_doc, corpus_doc, jaccard)
    * roles of the incremental variants, role-ordered. */
  private def asBatchCorpus(pairs: DataFrame): DataFrame =
    pairs.select(col("d1").as("batch_doc"), col("d2").as("corpus_doc"), col("jaccard"))
      .orderBy(asc("batch_doc"), asc("corpus_doc"))

  /** Two-RELATION form of [[minhashIncremental]] (whose `doc_id % mod`
    * split of one table is the oracle-testable stand-in): the batch and
    * the corpus arrive as separate (doc_id, text) relations — the shape
    * [[graft.Graft.ingestBatch]] runs, where the batch is freshly chunked
    * elements and the corpus is the persisted index. Emits (batch_doc,
    * corpus_doc, jaccard) role-ordered, one row per batch doc within
    * `threshold` of a corpus doc. Spec-proven row-equal to
    * [[minhashIncremental]] when fed the same mod-split slices.
    *
    * doc_ids need not be disjoint across the two relations: roles are kept
    * separate end-to-end (per-side shingle relations, per-side band
    * indexes, role-keyed verify joins), and the candidate join drops
    * same-id pairs outright (`d1 =!= d2`, enforced in code since round 6 —
    * previously only the scaladoc claimed it), so a re-ingested id never
    * self-pairs against its own superseded corpus row. Scale shape is
    * [[minhashIncremental]]'s: candidates are
    * the batch-bands × corpus-band-index equijoin (new × old only), the
    * corpus side being the persisted artifact (bucketed by band key →
    * co-located probe); verify is candidate-first ([[probeIndex]] over
    * the batch's and the corpus's own shingle relations). Both shingle
    * relations are cached (bands + verify + sizes read each), so both
    * verify sides carry the merge pins — cached-aggregate build sides must
    * never broadcast (round-2 lesson).
    */
  def minhashAgainst(batch: DataFrame, corpus: DataFrame, threshold: Double,
                     seeds: Int = MinhashSeeds, rowsPerBand: Int = MinhashRowsPerBand): DataFrame =
    minhashAgainstWith(batch, corpus, threshold, seeds, rowsPerBand)._1

  /** [[minhashAgainst]] plus handles on its two cached shingle relations,
    * so an EAGER caller ([[graft.Graft.ingestBatch]]) can unpersist them
    * once the gate's report is materialized — the buildSummariesWith
    * precedent: without the handles the caller must rebuild the private
    * shingle plans and rely on sameResult matching, which silently becomes
    * a no-op (a per-ingest corpus-cardinality cache leak) the moment this
    * operator changes shingle width or normalization. */
  def minhashAgainstWith(batch: DataFrame, corpus: DataFrame, threshold: Double,
                         seeds: Int = MinhashSeeds,
                         rowsPerBand: Int = MinhashRowsPerBand): (DataFrame, Seq[DataFrame]) = {
    val shB = shingleRows(batch, 3)
    val shC = shingleRows(corpus, 3)
    (probeIndex(shB, bandRowsOf(shB, seeds, rowsPerBand), bandRowsOf(shC, seeds, rowsPerBand),
      shC, sizesOf(shC), threshold), Seq(shB, shC))
  }

  /** The PERSISTED-INDEX form of [[minhashAgainst]] (round-8 verdict #2):
    * the corpus side arrives as the three stored signature relations a
    * [[graft.sources.SignatureLayout]] holds — band rows (doc_id, band,
    * bkey), distinct shingle rows (doc_id, s), per-doc shingle sizes
    * (doc_id, n) — instead of raw text. Per-batch work is then O(batch
    * shingle pass + band probe + candidate-first verify): the corpus is
    * never re-tokenized, re-shingled, or re-signed, which is the entire
    * point of incremental maintenance (the previous shape redid the
    * corpus signature pipeline per ingest batch — a daily full-corpus
    * pass at 100 TB).
    *
    * Broadcast discipline differs from [[minhashAgainst]] on purpose:
    * the corpus relations here are UNCACHED parquet reads, so their size
    * estimates are actual file stats — small index → broadcast is correct,
    * 100 TB index → shuffle join, no lock-in hazard (the round-4 curation
    * lesson). Only the CACHED batch-side relations (shB and its
    * doc-cardinality sizes aggregate) carry the merge pins. Production
    * layout note: bucketing the stored shingles by doc_id and the band
    * rows by bkey ([[graft.sources.IndexBuild.writeBucketed]] precedent)
    * makes the probe and verify co-located and shuffle-free on the corpus
    * side; the plain-parquet layout written here costs one corpus-side
    * shuffle in the verify join — already ≪ the re-sign it replaces.
    *
    * Spec contract (PairsLayoutSpec): probing a written index ≡
    * [[minhashAgainst]] on the same (batch, corpus) relations, row-exact. */
  def minhashProbeIndexWith(batch: DataFrame, corpusBands: DataFrame,
                            corpusShingles: DataFrame, corpusSizes: DataFrame,
                            threshold: Double, seeds: Int = MinhashSeeds,
                            rowsPerBand: Int = MinhashRowsPerBand): (DataFrame, Seq[DataFrame]) = {
    val shB = shingleRows(batch, 3)
    val bandsB = bandRowsOf(shB, seeds, rowsPerBand)
    (probeIndex(shB, bandsB, corpusBands, corpusShingles, corpusSizes, threshold), Seq(shB))
  }

  /** Probe core over PRECOMPUTED batch relations — the one MinHash probe
    * body, shared by [[minhashProbeIndexWith]], [[minhashAgainstWith]] and
    * [[graft.sources.PairsLayout.upsert]] (which reuses the batch
    * shingles/bands it is about to append, one shingle pass per ingest).
    * Each verify side is merge-pinned iff its shingles are cached
    * ([[ShingleSide]]): the batch side always, the corpus side only for
    * [[minhashAgainstWith]]'s cached relations, never for stored
    * parquet. */
  private[graft] def probeIndex(shB: DataFrame, bandsB: DataFrame,
                                corpusBands: DataFrame, corpusShingles: DataFrame,
                                corpusSizes: DataFrame, threshold: Double): DataFrame =
    asBatchCorpus(jaccardVerify(bandCollisions(bandsB, corpusBands, Differ).distinct(),
      sideOf(shB), ShingleSide(corpusShingles, corpusSizes), threshold))

  /** DuckDB mirror of [[minhashIncremental]]. The verify CTEs are the
    * role-ordered variant of [[duckJaccardCtes]]: (batch, corpus) pairs are
    * not doc_id-ordered, so the intersection join keys on the candidate's
    * own roles instead of the symmetric `a.doc_id < b.doc_id`. */
  def duckMinhashIncrementalSql(table: String, threshold: Double,
                                batchMod: Int = 10, batchRem: Int = 7,
                                seeds: Int = MinhashSeeds,
                                rowsPerBand: Int = MinhashRowsPerBand): String =
    s"""WITH ${duckMinhashCandCtes(table, seeds, rowsPerBand)},
       |icand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |          FROM bands x JOIN bands y
       |          ON x.band = y.band AND x.bkey = y.bkey
       |          AND x.doc_id % $batchMod = $batchRem
       |          AND y.doc_id % $batchMod <> $batchRem),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS i
       |          FROM icand c
       |          JOIN sh a ON a.doc_id = c.d1
       |          JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
       |          GROUP BY 1, 2),
       |j AS (SELECT d1, d2, i::DOUBLE / (s1.n + s2.n - i) AS jac
       |      FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2)
       |SELECT d1 AS batch_doc, d2 AS corpus_doc, round(jac, 6) AS jaccard
       |FROM j WHERE jac >= $threshold ORDER BY batch_doc, corpus_doc""".stripMargin

  /** Recall accounting for the approximate dedup paths — the dedup twin of
    * [[KnnRecall.annRecall]]: each LSH variant's pair set vs the exact
    * inverted-index baseline [[ngramJaccard]] (full recall by
    * construction), at the SAME threshold and shingle width, as one
    * oracle-gated row per variant: (variant, n_found, n_hits, n_expected,
    * recall). Every variant verifies candidates with exact Jaccard, so
    * n_hits must equal n_found (precision 1 by construction) — the hits
    * join is the containment proof, and recall isolates what the CANDIDATE
    * GENERATION (bands / hamming cut / df cap) trades away.
    *
    * This is the query a deployment runs on a corpus SAMPLE to pick
    * (seeds, bands, maxHamming, maxDf) before a 100 TB pass — the exact
    * baseline is affordable on the sample, never the corpus. All variants
    * share the cached shingle relation (identical plan → one cache entry),
    * so the union amortizes tokenization across the four pipelines.
    */
  def dedupRecall(documents: DataFrame, threshold: Double = 0.5, maxDf: Int = 20): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val sh = shingleRows(documents, 3)
    val exact = ngramJaccard(documents, threshold).select(col("d1"), col("d2")).cache()
    // found ≡ candidates ∩ exact (round-14, guide §1.2 "don't compute
    // things you throw away"): every variant verifies its candidates with
    // the SAME exact shingle-Jaccard ≥ threshold the baseline computes —
    // precision 1 by construction was already this query's documented
    // invariant (n_hits == n_found) — so a pair is in a variant's output
    // iff it is in that variant's CANDIDATE set and in `exact`. The
    // previous form re-ran all three candidate-first verify pipelines,
    // recomputing per variant the intersection/size joins whose
    // ≥-threshold survivors the cached `exact` already holds (TimeQ warm:
    // 14.1 s → 8.1 s at sf0.1). Candidate sets come from the exact
    // generators the standalone entries execute (minhashCandidatesOf /
    // rareSelfJoin / simhashCandPairs — single source of truth), and
    // DedupSpec pins found ≡ candidates ∩ exact against the full
    // pipelines' outputs.
    val (shDf, shHandles) = dfShinglesWith(documents)
    val (simCand, simHandles) = simhashCandPairs(documents, SimhashMaxHamming)
    val found =
      minhashCandidatesOf(bandRowsOf(sh, MinhashSeeds, MinhashRowsPerBand))
        .withColumn("variant", lit("minhash"))
      .unionByName(rareSelfJoin(shDf, lit(maxDf)).select(col("d1"), col("d2")).distinct()
        .withColumn("variant", lit("ngram_capped")))
      .unionByName(simCand.select(col("d1"), col("d2"))
        .withColumn("variant", lit("simhash")))
    val nExp = exact.agg(count(lit(1)).as("n_expected"))
    // hint("merge") on the probe side: `exact` is a cached pair relation
    // whose pre-materialization estimate would plan a locked-in broadcast —
    // on a large tuning sample the all-pairs baseline is the BIGGEST
    // relation in this query (same hazard class as ShingleSide's pins)
    val counts = found
      .join(exact.hint("merge"), Seq("d1", "d2"), "left_semi")
      .groupBy("variant")
      .agg(count(lit(1)).as("n_found"))
    // static variant list: a variant whose candidate generation finds ZERO
    // pairs must still report (n_found = 0, recall = 0) — a silently
    // missing row is exactly the failure a measurement query must expose
    val report = Seq("minhash", "ngram_capped", "simhash").toDF("variant")
      .join(counts, Seq("variant"), "left")
      .crossJoin(broadcast(nExp))
      .select(col("variant"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        // n_hits ≡ n_found: the precision-1 identity, now by construction
        // of the intersection rather than by a measured left-join — the
        // emitted values are unchanged (oracle-gated)
        coalesce(col("n_found"), lit(0L)).as("n_hits"),
        col("n_expected"),
        // vacuous recall (0 of 0 expected) reports 1.0, not a null divide
        when(col("n_expected") === 0, lit(1.0))
          .otherwise(round(coalesce(col("n_found"), lit(0L)).cast("double")
            / col("n_expected").cast("double"), 6)).as("recall"))
      .orderBy("variant")
    // the report is 3 rows: materialize it and release every cache built
    // above, so a library caller leaks nothing (dependents first)
    val rows = report.collect()
    (Seq(exact) ++ simHandles ++ shHandles.reverse :+ sh).foreach(_.unpersist())
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
  }

  /** DuckDB mirror of [[dedupRecall]] — the variant queries nest as derived
    * tables (DuckDB allows WITH inside subqueries), so each mirror stays
    * the single source of truth for its variant. */
  def duckDedupRecall(table: String, threshold: Double = 0.5, maxDf: Int = 20): String =
    s"""WITH exact AS (SELECT d1, d2 FROM (${duckNgramSql(table, threshold)}) x),
       |found AS (
       |  SELECT 'minhash' AS variant, d1, d2 FROM (${duckMinhashSql(table, threshold)}) a
       |  UNION ALL
       |  SELECT 'ngram_capped' AS variant, d1, d2 FROM (${duckNgramCappedSql(table, threshold, maxDf)}) b
       |  UNION ALL
       |  SELECT 'simhash' AS variant, d1, d2 FROM (${duckSimhashSql(table, threshold)}) c),
       |ne AS (SELECT count(*)::BIGINT AS n_expected FROM exact),
       |counts AS (SELECT f.variant, count(*)::BIGINT AS n_found,
       |                  CAST(sum(CASE WHEN e.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |           FROM found f LEFT JOIN exact e USING (d1, d2)
       |           GROUP BY f.variant),
       |vs AS (SELECT * FROM (VALUES ('minhash'), ('ngram_capped'), ('simhash')) v(variant))
       |SELECT vs.variant, coalesce(c.n_found, 0)::BIGINT AS n_found,
       |       coalesce(c.n_hits, 0)::BIGINT AS n_hits, ne.n_expected,
       |       CASE WHEN ne.n_expected = 0 THEN 1.0::DOUBLE
       |            ELSE round(CAST(coalesce(c.n_hits, 0) AS DOUBLE)
       |                       / CAST(ne.n_expected AS DOUBLE), 6) END AS recall
       |FROM vs LEFT JOIN counts c USING (variant) CROSS JOIN ne
       |ORDER BY variant""".stripMargin

  /** Duplicated-span coverage: for every document, how many of its tokens
    * sit inside a `spanLen`-token window that also appears verbatim in some
    * OTHER document — the span-level view of duplication that pair-level
    * near-dup misses (boilerplate headers, license blocks, templated
    * paragraphs shared across otherwise-distinct docs). Suffix-array span
    * dedup over training corpora is the published shape (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"); this is
    * its relational formulation: positional n-grams stand in for suffix
    * ranges, and coverage is an interval-union length.
    *
    * Output: (doc_id, dup_spans, covered_tokens, n_tokens, dup_frac) for
    * EVERY doc (zero rows for clean docs), ordered by doc_id. A pipeline
    * cuts on dup_frac or feeds covered ranges to a span-removal pass.
    *
    * Scale shape — one corpus-wide shuffle, zero corpus-cardinality joins:
    *   1. positional spans (doc_id, i, s) via the posexplode + lead windows
    *      (token sort co-located per doc);
    *   2. cross-doc test as `min(doc_id) OVER (PARTITION BY s) !=
    *      max(doc_id) OVER (...)` — the agg-over-window rule (CLAUDE.md):
    *      no groupBy+join-back, no distinct-count state, and the only
    *      exchange keyed on the span string. Skew caveat: windows get no
    *      partial aggregation and no AQE skew splitting, so a HEAD span
    *      (boilerplate repeated ~10⁸×) lands on one task. On a corpus with
    *      corpus-scale boilerplate, pass `skewSafe = true`: the cross-doc
    *      test becomes a partial-agged `groupBy(s).agg(min,max)` +
    *      AQE-skew-splittable semi-join back on s (implemented in
    *      [[dupSpanStarts]], spec-proven equivalent; measured crossover in
    *      SCALE.md — the window form stays the default per the CLAUDE.md
    *      window-vs-join-back entry);
    *   3. coverage per doc: sort surviving positions within each doc and
    *      sum `least(spanLen, i - lag(i))` — the equal-length-interval
    *      union identity — then doc-cardinality joins onto token totals.
    *      Since round 5 the totals come from the SAME cached token
    *      relation as span detection (the old `size(tokens(text))` form
    *      re-tokenized the corpus a second time), which makes this the
    *      mandatory-cache case: both cached-derived aggregate join sides
    *      (tot, cov) carry hint("merge") pins on the high-cardinality
    *      doc_id key, and zero-token docs are restored via the
    *      documents.select(doc_id) left join (spanRemoved's pattern).
    */
  /** Shared subtree of [[spanCoverage]] and [[spanRemoved]]: the (doc_id, i)
    * start positions of `spanLen`-token windows that also appear verbatim in
    * some OTHER document — ONE definition of "duplicated span", so the
    * coverage measurement and the removal pass cannot disagree about what
    * counts as duplicated. Steps 1-2 of the scale-shape note on
    * [[spanCoverage]] (positional spans; agg-over-window cross-doc test).
    *
    * `skewSafe` selects the documented head-span fallback: the default
    * agg-over-window form puts ALL occurrences of one span value on one
    * window task (no partial aggregation, no AQE skew splitting for
    * windows) — fine under Zipfian span frequencies, a single-task
    * straggler when corpus-scale boilerplate repeats one span ~10⁸×. The
    * fallback computes the cross-doc test as a partial-agged
    * `groupBy(s).agg(min,max)` and LEFT-SEMI joins occurrences back on s:
    * the head span's occurrence mass is combined map-side before the
    * exchange, and the semi-join is sort-merge under AQE skew splitting.
    * The cross-doc span relation is a corpus-cardinality aggregate whose
    * caller may hand this function a CACHED token relation (spanRemoved
    * does; spanCoverage too since the round-5 review) — the mandatory-
    * cache hazard class — so its semi-join probe side carries the
    * hint("merge") pin: the join keys on the span string (high
    * cardinality, the decontam-measured-safe shape, not the embedCosine
    * bucket-key negative-result shape). Known trade (round-5
    * review): the occ subtree feeds both the groupBy and the probe, so
    * its lead-window work above the shared doc_id exchange evaluates
    * twice (ReuseExchange shares the exchange and everything below it —
    * the scan and tokenize run once); caching occ instead would
    * materialize spanLen strings per token position AND reintroduce the
    * estimate hazard this branch exists to avoid, so the recompute is the
    * deliberate choice. Spec-asserted equivalent on a synthetic
    * 50%-boilerplate corpus (`OperatorSpec`); measured crossover recorded
    * in SCALE.md. */
  private def dupSpanStarts(tok: DataFrame, spanLen: Int,
                            skewSafe: Boolean): DataFrame = {
    // span construction IS shingle construction with the position carried:
    // one definition (TextFns.shingleRowsOfTokens), so a tokenizer or
    // separator change can never diverge the span family from the other
    // shingle consumers (round-5 review; this replaced a hand-rolled copy
    // of the same lead-window fold)
    val occ = graft.functions.TextFns
      .shingleRowsOfTokens(tok, spanLen, Seq("doc_id", "i"))
    if (skewSafe) {
      val crossDoc = occ.groupBy("s")
        .agg(min("doc_id").as("dmin"), max("doc_id").as("dmax"))
        .filter(col("dmin") =!= col("dmax"))
        .select("s")
      // pin: crossDoc is a corpus-cardinality aggregate over a possibly
      // CACHED token relation (both callers cache since round 5) — the
      // lock-in hazard class; span-string key = high cardinality = safe SMJ
      occ.join(crossDoc.hint("merge"), Seq("s"), "left_semi")
        .select(col("doc_id"), col("i"))
    } else {
      val wS = org.apache.spark.sql.expressions.Window.partitionBy("s")
      occ
        .withColumn("dmin", min("doc_id").over(wS))
        .withColumn("dmax", max("doc_id").over(wS))
        .filter(col("dmin") =!= col("dmax"))
        .select(col("doc_id"), col("i"))
    }
  }

  def spanCoverage(documents: DataFrame, spanLen: Int = 5,
                   skewSafe: Boolean = false): DataFrame = {
    // one cached token relation feeds span detection AND the per-doc token
    // totals (round-5 review: the old `size(tokens(text))` totals re-read
    // and re-tokenized the whole corpus a second time); zero-token docs are
    // restored by the documents.select(doc_id) left join — the spanRemoved
    // pattern. Cache contract: harness-cleared per query (Dedup header).
    val tok = graft.functions.TextFns.tokenRowsOf(documents).cache()
    val dup = dupSpanStarts(tok, spanLen, skewSafe)
    val wCov = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")
    val cov = dup
      .withColumn("prev", lag("i", 1).over(wCov))
      .withColumn("contrib",
        when(col("prev").isNull, lit(spanLen))
          .otherwise(least(lit(spanLen), col("i") - col("prev"))))
      .groupBy("doc_id").agg(
        count(lit(1)).as("dup_spans"),
        sum("contrib").cast("long").as("covered_tokens"))
    val tot = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    // both tot and cov are cached-derived doc-cardinality aggregates →
    // mandatory-cache pins (doc_id key: high cardinality, decontam-safe)
    documents.select(col("doc_id"))
      .join(tot.hint("merge"), Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .join(cov.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        col("n_tokens"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")), 6).as("dup_frac"))
      .orderBy(asc("doc_id"))
  }

  /** DuckDB mirror of [[spanCoverage]] — same positional spans (1-based vs
    * Spark's 0-based positions: only position DIFFERENCES enter the
    * arithmetic), same min!=max cross-doc test, same interval-union sum. */
  def duckSpanSql(table: String, spanLen: Int = 5): String = {
    val sExpr = (0 until spanLen).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS t FROM $table),
       |occ AS (SELECT doc_id, i, $sExpr AS s
       |        FROM tk, unnest(generate_series(1, len(t) - ${spanLen - 1})) AS g(i)),
       |dup AS (SELECT doc_id, i FROM
       |          (SELECT doc_id, i,
       |                  min(doc_id) OVER (PARTITION BY s) AS dmin,
       |                  max(doc_id) OVER (PARTITION BY s) AS dmax
       |           FROM occ)
       |        WHERE dmin <> dmax),
       |cov AS (SELECT doc_id, count(*)::BIGINT AS dup_spans,
       |               CAST(sum(CASE WHEN prev IS NULL THEN $spanLen
       |                             ELSE least($spanLen, i - prev) END) AS BIGINT) AS covered_tokens
       |        FROM (SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM dup)
       |        GROUP BY doc_id),
       |tot AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM tk)
       |SELECT t.doc_id, coalesce(dup_spans, 0)::BIGINT AS dup_spans,
       |       coalesce(covered_tokens, 0)::BIGINT AS covered_tokens, n_tokens,
       |       round(CASE WHEN n_tokens = 0 THEN 0.0
       |                  ELSE coalesce(covered_tokens, 0)::DOUBLE / n_tokens::DOUBLE END, 6) AS dup_frac
       |FROM tot t LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Span-REMOVAL pass — the deliverable of exact-substring dedup
    * ([[spanCoverage]] measures duplicated-span coverage; this emits the
    * cleaned corpus, completing the Lee et al. 2022 pipeline): every token
    * inside a cross-doc duplicated `spanLen`-token window is cut, the
    * survivors are reassembled in position order, and the per-doc token
    * accounting is carried alongside.
    *
    * Output: (doc_id, cleaned_text, n_kept_tokens, n_removed_tokens,
    * n_tokens) for EVERY doc — kept + removed = total by construction
    * (spec-asserted), and n_removed_tokens equals [[spanCoverage]]'s
    * covered_tokens because both derive from the SAME [[dupSpanStarts]]
    * relation (also spec-asserted, operator-level conservation).
    *
    * Scale shape, on top of [[dupSpanStarts]]' one corpus exchange:
    *   1. ONE cached token relation feeds both the span-start detection
    *      and the keep/cut join (round-5 review: uncached, the consumers
    *      sit under different exchanges — doc_id window vs (doc_id, i)
    *      join — so nothing is reused and the corpus tokenized twice; the
    *      cache trades ~|tokens| rows of storage for the second full
    *      corpus read, measured cost-neutral at sf0.1). The cache makes
    *      this the MANDATORY-cache case, so the cached-derived `starts`
    *      side of the (doc_id, i) join carries the hint("merge") pin —
    *      high-cardinality key, the decontam-measured-safe shape, never
    *      the embedCosine bucket-self-join negative-result shape;
    *   2. covered(p) = running max of the start flag over ROWS
    *      [p-spanLen+1, p] per doc — positions are dense (posexplode), so
    *      the ROWS frame is exactly the span-interval test with no
    *      per-span explode and no interval join;
    *   3. reassembly: ONE doc-keyed groupBy; survivors are collected as
    *      (i, token) structs, array_sort'ed, and concat_ws'd. This is the
    *      documented exception to the interpreted-HOF rule: the lambda is
    *      a field extraction (no per-element md5/concat work), the
    *      alternative is a second window + string_agg emulation, and a
    *      doc's tokens are bounded (docs are chunked upstream) — the same
    *      pattern [[graft.sources.IndexBuild.buildSummaries]] uses.
    *      Window skew: both windows partition by doc_id (bounded groups),
    *      never by span — the head-span hazard lives entirely inside
    *      [[dupSpanStarts]]' documented exposure.
    */
  def spanRemoved(documents: DataFrame, spanLen: Int = 5,
                  skewSafe: Boolean = false): DataFrame = {
    // one token relation feeds BOTH the span-start detection and the
    // keep/cut join — cached (harness-cleared contract, Dedup header):
    // uncached, the two consumers sit under different exchanges (doc_id
    // window vs (doc_id, i) join), so nothing is reused and the corpus
    // tokenizes twice (round-5 review; measured below in SCALE.md)
    val tok = graft.functions.TextFns.tokenRowsOf(documents).cache()
    val starts = dupSpanStarts(tok, spanLen, skewSafe).withColumn("st", lit(1))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i").rowsBetween(-(spanLen - 1), 0)
    val marked = tok.join(starts.hint("merge"), Seq("doc_id", "i"), "left")
      .withColumn("cov", max(coalesce(col("st"), lit(0))).over(wRun))
    val agg = marked.groupBy("doc_id").agg(
      count(lit(1)).cast("long").as("n_tokens"),
      sum(col("cov")).cast("long").as("n_removed_tokens"),
      concat_ws(" ", transform(
        array_sort(collect_list(
          when(col("cov") === 0, struct(col("i"), col("t0"))))),
        x => x.getField("t0"))).as("cleaned_text"))
    // restore zero-token docs (no token rows at all) with empty output
    documents.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        (coalesce(col("n_tokens"), lit(0L))
          - coalesce(col("n_removed_tokens"), lit(0L))).as("n_kept_tokens"),
        coalesce(col("n_removed_tokens"), lit(0L)).as("n_removed_tokens"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy(asc("doc_id"))
  }

  /** DuckDB mirror of [[spanRemoved]] — same dup relation as [[duckSpanSql]]
    * (1-based positions; only differences and frames enter the logic), same
    * ROWS-frame coverage test, string_agg ORDER BY i reassembly. */
  def duckSpanRemovedSql(table: String, spanLen: Int = 5): String = {
    val sExpr = (0 until spanLen).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS t FROM $table),
       |tok AS (SELECT doc_id, i, t[i] AS tt
       |        FROM tk, unnest(generate_series(1, len(t))) AS g(i)),
       |occ AS (SELECT doc_id, i, $sExpr AS s
       |        FROM tk, unnest(generate_series(1, len(t) - ${spanLen - 1})) AS g(i)),
       |dup AS (SELECT doc_id, i FROM
       |          (SELECT doc_id, i,
       |                  min(doc_id) OVER (PARTITION BY s) AS dmin,
       |                  max(doc_id) OVER (PARTITION BY s) AS dmax
       |           FROM occ)
       |        WHERE dmin <> dmax),
       |m AS (SELECT k.doc_id, k.i, k.tt,
       |             max(CASE WHEN d.i IS NOT NULL THEN 1 ELSE 0 END)
       |               OVER (PARTITION BY k.doc_id ORDER BY k.i
       |                     ROWS BETWEEN ${spanLen - 1} PRECEDING AND CURRENT ROW) AS cov
       |      FROM tok k LEFT JOIN dup d ON d.doc_id = k.doc_id AND d.i = k.i),
       |a AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |             CAST(sum(cov) AS BIGINT) AS n_removed_tokens,
       |             coalesce(string_agg(CASE WHEN cov = 0 THEN tt END, ' ' ORDER BY i), '') AS cleaned_text
       |      FROM m GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text,
       |       (coalesce(a.n_tokens, 0) - coalesce(a.n_removed_tokens, 0))::BIGINT AS n_kept_tokens,
       |       coalesce(a.n_removed_tokens, 0)::BIGINT AS n_removed_tokens,
       |       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens
       |FROM (SELECT doc_id FROM $table) d LEFT JOIN a USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  def duckSimhashSql(table: String, threshold: Double,
                     maxHamming: Int = SimhashMaxHamming): String = {
    val sums = (0 until 64).map(i => s"sum(${duckSimhashBitFromChunk(s"c${i / 16}", i % 16)})")
    val chunkCols = (0 until 4).map(c => s"${duckMd5Chunk16("m", c)} AS c$c").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band, substr(simhash, ${b * 16 + 1}, 16) AS bkey FROM sig")
      .mkString("\n       UNION ALL ")
    s"""WITH ${duckSh(table)},
       |tok AS (SELECT doc_id, $chunkCols
       |        FROM (SELECT doc_id, md5(t3.tt) AS m
       |              FROM (SELECT doc_id, unnest(t) AS tt FROM tk) t3) t2),
       |sig AS (SELECT doc_id, ${duckSimhashFromSums(sums)} AS simhash
       |        FROM tok GROUP BY doc_id),
       |bands AS ($bandRows),
       |${duckSimhashTail("bands", 64, maxHamming, threshold)}""".stripMargin
  }

  /** Band self-join → hamming cut → exact-Jaccard tail shared by
    * [[duckSimhashSql]] and [[duckSimhashWideSql]] over their band CTE
    * (doc_id, simhash, band, bkey). */
  private def duckSimhashTail(bandsCte: String, width: Int, maxHamming: Int,
                              threshold: Double): String =
    s"""cand0 AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
       |                 x.simhash AS s1, y.simhash AS s2
       |          FROM $bandsCte x JOIN $bandsCte y
       |          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |cand AS (SELECT d1, d2, hamming FROM
       |           (SELECT d1, d2, CAST(${duckHamming("s1", "s2", width)} AS BIGINT) AS hamming
       |            FROM cand0) h
       |         WHERE hamming <= $maxHamming),
       |${duckJaccard("cand", s"jac >= $threshold",
                      "d1, d2, c2.hamming, round(jac, 6) AS jaccard",
                      "JOIN cand c2 USING (d1, d2)")}""".stripMargin

  /** Lane-packed signed-bit signature aggregation (round-13): the naive
    * form aggregates one ±1 sum COLUMN per signature bit (64/128 hash-agg
    * buffer slots, 64/128 codegen'd buffer updates per token row, and an
    * O(width) Catalyst tree at the agg). Here each LONG accumulator packs
    * TWO bit-counts at 31-bit lanes (bit contribution ∈ {0,1}, so a lane
    * is an exact counter; 31 bits ≅ 2^31 tokens/doc headroom — a lane
    * overflows only past 2.1e9 tokens in ONE document), halving buffer
    * slots and updates. The per-bit signed sum is recovered exactly as
    * 2·cnt − n_tokens (cnt = lane value, both exact integers), so
    * [[graft.functions.TextFns.simhashFromSums]]'s `> 0` test — and the
    * oracle's per-bit ±1 sum — are bit-identical. `tok` carries
    * (doc_id, c0..c{width/16-1}) 16-bit chunks. */
  private def packedSignatureOf(tok: DataFrame, width: Int): DataFrame = {
    def bit(i: Int) = shiftright(col(s"c${i / 16}"), 15 - (i % 16))
      .bitwiseAND(lit(1)).cast("long")
    val accCols = (0 until width / 2).map { j =>
      sum(bit(2 * j) + shiftleft(bit(2 * j + 1), 31)).as(s"a$j")
    }
    val agg = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("ntok"), accCols: _*)
    val mask = (1L << 31) - 1
    val sums = (0 until width).map { i =>
      (shiftright(col(s"a${i / 2}"), 31 * (i % 2)).bitwiseAND(lit(mask)) * 2) -
        col("ntok")
    }
    agg.select(col("doc_id"), simhashFromSums(sums).as("simhash"))
  }

  /** Banded-SimHash candidate pairs (d1 < d2, hamming ≤ maxHamming,
    * distinct) — the candidate half shared by [[simhash]] (which verifies
    * them) and [[dedupRecall]] (which intersects them with the exact
    * baseline — see its scaladoc), plus the handle on its cached
    * signature relation. Same single-source-of-truth contract as
    * [[minhashCandidatesOf]]. */
  private def simhashCandPairs(documents: DataFrame,
                               maxHamming: Int): (DataFrame, Seq[DataFrame]) = {
    // chunks projected once per token (md5 CSE'd within the project); the
    // 64 signed-bit sums are then integer shift/mask arithmetic — measured
    // ~13% end-to-end vs the substring+IN string test (see TextFns)
    val tok = documents.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("m", md5(col("t")))
      .select(col("doc_id") +: (0 until 4).map(c => md5Chunk16(col("m"), c).as(s"c$c")): _*)
    // one row per doc (tiny); cached because the band self-join references
    // it on both sides and the broadcast side can't reuse the exchange —
    // without the cache the token explode + lane-packed agg executes twice.
    // (Verify/Bench clear the cache after every query.)
    val sig = packedSignatureOf(tok, 64)
      // two 32-bit halves for the verify: hamming is then xor+popcount per
      // collision instead of 64 substring compares (the phashDedup
      // precedent — 128 single-char allocations per candidate gone)
      .withColumn("h1", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
      .cache()
    val bands = sig.select(col("doc_id"), col("h1"), col("h2"), explode(array(
      (0 until 4).map(b => struct(
        lit(b).as("band"),
        substring(col("simhash"), b * 16 + 1, 16).as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"), col("h1"), col("h2"), col("bb.band"), col("bb.bkey"))
    // self-join on (band, bkey): both sides are the identical subtree, so
    // the physical plan reuses one shuffle exchange (no cache needed).
    // hamming is computed and filtered BEFORE the distinct: collisions drop
    // early and the dedup Exchange carries (d1, d2, hamming) instead of two
    // 64-char signatures.
    val cand = bandCollisions(bands, bands, Below, carry = Seq(
        (bit_count(col("x.h1").bitwiseXOR(col("y.h1"))) +
          bit_count(col("x.h2").bitwiseXOR(col("y.h2")))).cast("long").as("hamming")))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    (cand, Seq(sig))
  }

  /** Banded SimHash near-dup: 64-bit signature per doc — bit i set iff the
    * signed sum over tokens of md5-bit i is positive — split into 4×16-bit
    * bands; docs sharing ANY band bucket become candidates (near-identical
    * signatures differ in few bits, so at least one band usually matches).
    * Candidates are verified on the FULL signature (hamming ≤ maxHamming),
    * then by exact shingle Jaccard ≥ threshold.
    *
    * Scale shape: each band key ranges over 2^16 near-uniform md5-derived
    * values, so buckets stay small and the per-band equijoin is the linear
    * LSH shape — unlike whole-signature equality on a saturated 16-bit
    * space (round-1 design), which paired quadratically inside each of at
    * most 65,536 signatures. The hamming verify is a 64-term compare on
    * candidate pairs only; the Jaccard verify is [[jaccardVerify]],
    * carrying `hamming` through the agg key so the candidate subtree is
    * referenced exactly once. */
  def simhash(documents: DataFrame, threshold: Double,
              maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val (cand, _) = simhashCandPairs(documents, maxHamming)
    val side = sideOf(shingleRows(documents, 3))
    jaccardVerify(cand, side, side, threshold, carry = Seq("hamming"))
  }

  /** Corpus-size-dispatching simhash facade — the round-10 verdict's
    * "auto-width" resolution (What's wrong #2): the 64-bit [[simhash]]
    * caps band discrimination at 4×16 bits, which the sf10 campaign
    * measured as 1.43e9 candidate rows / 77–145 GB shuffle scratch at
    * 500k docs, while [[simhashWide]]'s 128-bit budget ladder completes
    * the same corpus in 16 GB (51× candidate cut). Signature WIDTH fixes
    * the PLAN SHAPE (one aggregate column per bit — a lazy plan cannot
    * choose 64 vs 128 columns at runtime the way `simhashWide` derives
    * its band bits in-plan), so the dispatch is one eager `count()` —
    * a metadata-cheap parquet count, priced honestly in the entry — then
    * the decision table README's dedup row documents:
    *
    *   n ≤ `widthSwitch` (200k docs) → [[simhash]] (64-bit, 4×16 bands;
    *     scratch stays single-digit GB through sf1/50k docs);
    *   n > `widthSwitch`             → [[simhashWide]] (128-bit,
    *     budget-laddered 16..32-bit band keys; the measured sf10 path).
    *
    * Below the switch the two variants' band recall differs (4×16 vs the
    * ladder's 8×16) but BOTH verify candidates exactly, and every gate
    * scale the oracle actually runs at (sf0.01 driver gate, sf1 re-gate)
    * sits below the switch, so the 64-bit oracle stays the oracle of
    * record; above it the entry is gated engine-complete (the sf10
    * campaign convention — DuckDB itself cannot run the dedup oracles
    * there) and the wide mirror is the documented semantics. */
  def simhashAuto(documents: DataFrame, threshold: Double,
                  widthSwitch: Long = 200000L): DataFrame = {
    val n = documents.count()
    if (n <= widthSwitch) simhash(documents, threshold)
    else simhashWide(documents, threshold)
  }

  /** Width-parameterized SimHash signature relation `(doc_id, simhash)` —
    * `width` signature bits (multiple of 32) from ⌈width/128⌉ md5 blocks
    * per token occurrence: block 0 is `md5(t)` (so the first 64 bits of
    * ANY width reproduce [[simhash]]'s signature exactly — spec-pinned),
    * block b ≥ 1 is `md5(t || "#b")`. Chunk c reads hex chars of block
    * c DIV 8 (the [[graft.functions.TextFns.md5Chunk16]] integer form);
    * repeated md5 references collapse into one Project and whole-stage
    * CSE evaluates each block once per token. */
  def simhashSignatures(documents: DataFrame, width: Int): DataFrame = {
    require(width > 0 && width % 32 == 0,
      s"signature width $width must be a positive multiple of 32")
    val nChunks = width / 16
    val nBlocks = (nChunks + 7) / 8
    val tok = documents.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id") +: (0 until nBlocks).map(b =>
        (if (b == 0) md5(col("t"))
         else md5(concat(col("t"), lit(s"#$b")))).as(s"m$b")): _*)
      .select(col("doc_id") +: (0 until nChunks).map(c =>
        md5Chunk16(col(s"m${c / 8}"), c % 8).as(s"c$c")): _*)
    packedSignatureOf(tok, width)
  }

  /** Band-bits ladder for [[simhashWide]]'s candidate-budget derivation —
    * a FIXED literal list (the BM25 fixed-order pivot pattern), so both
    * engines evaluate the identical rungs. */
  private val SimhashBitsLadder = Seq(16, 20, 24, 28, 32)

  /** Width-parameterized banded SimHash near-dup — the [[simhash]]
    * family's scale path. The round-10 sf10 campaign adjudicated the
    * 64-bit entry budget-bound at 500k docs with a STRUCTURAL ceiling
    * behind it (SCALE.md "two decades up"): a 64-bit signature caps band
    * discrimination at 4×16 bits — band keys can never exceed 16 bits
    * without dropping below 4 bands. The sf10 band-occupancy measurement
    * (SCALE.md "Width-parameterized SimHash") quantified the cost: the
    * 4×16 geometry emits 1.43e9 candidate rows (max bucket 18,749 of
    * 500k docs), while 32-bit keys over a 128-bit signature
    * emit 2.77e7 — 51× fewer with 4 bands intact.
    *
    * Band bits derive IN-PLAN by CANDIDATE BUDGET, not the occupancy
    * model the phash/embed variants use: simhash band keys are not
    * md5-uniform — bits follow the corpus' token distribution, so
    * near-dup clusters and boilerplate pile entire sub-corpora into few
    * buckets, and the measured sf10 volume exceeds the uniform
    * n²·bands/2^(bits+1) estimate ~370×. A size-only formula
    * (`log2(n/occ)`) therefore under-widens exactly when it matters.
    * Instead the operator MEASURES: for each rung of a fixed bits ladder
    * (16/20/24/28/32) it computes the exact candidate volume the band
    * self-join would emit — Σ c·(c−1)/2 over the (band, bkey) occupancy
    * histogram, one cheap aggregate per rung over the cached signature
    * relation, no join paid (the [[ngramJaccardCappedAdaptive]]
    * df-histogram discipline applied to banding) — and picks the
    * SMALLEST bits whose predicted volume fits `candidateBudget` rows
    * per doc (ladder max as fallback). All-integer, engine-identical;
    * smallest-first keeps maximum recall inside the budget: at the gate
    * scales 16 bits win (8×16 bands — strict-superset recall vs the
    * 64-bit entry, measured +23 real pairs at sf0.1), at sf10 the budget
    * pushes to 32-bit keys and the query completes where the 64-bit
    * entry ENOSPC'd. Candidates are DISTINCT (d1, d2) BEFORE the
    * hamming compare (a pair can collide in up to width/bits bands — the
    * phash candidate-first lesson), hamming runs word-wise (xor +
    * popcount over width/32 conv'd 32-bit halves of the cached
    * signature), and the exact shingle-Jaccard verify is candidate-first
    * with merge-pinned inverted-index sides ([[jaccardVerify]] —
    * broadcast there is the measured 680 s → 9 s hazard). `maxHamming`
    * scales with width: the 64-bit entry's 8-of-64 fraction is
    * 16-of-128. False positives cannot occur (hamming and Jaccard are
    * verified exactly); band candidate loss is the only approximation,
    * standard LSH — the budget is the recall-for-volume knob and its
    * effect is measurable per corpus from band-key occupancy
    * (Σ c·(c−1)/2, SCALE.md "Width-parameterized SimHash") before running
    * anything quadratic. */
  def simhashWide(documents: DataFrame, threshold: Double, width: Int = 128,
                  maxHamming: Int = 16, candidateBudget: Int = 256): DataFrame = {
    // cached: band self-join reads it twice, the hamming join-back twice
    // more, and every ladder rung aggregates it (the simhash cache note;
    // harness clears per query)
    val sig = simhashSignatures(documents, width).cache()
    val ladder = SimhashBitsLadder.filter(_ <= width)
    // all rungs in ONE shuffle: explode each doc to its (kbits, band,
    // bkey) rows across the whole ladder (~27 narrow rows/doc at width
    // 128) and aggregate once — five separate per-rung jobs measured
    // ~2–4 s of pure job overhead at sf0.1. Values are identical to the
    // per-rung form (same integer counts, same Σ c·(c−1)/2), so the
    // oracle keeps its per-rung CTEs.
    val preds = sig.select(col("simhash"), explode(array(ladder.flatMap(k =>
        (0 until width / k).map(b => struct(lit(k).as("kbits"),
          substring(col("simhash"), b * k + 1, k).as("bkey"),
          lit(b).as("band")))): _*)).as("r"))
      .select(col("r.kbits"), col("r.band"), col("r.bkey"))
      .groupBy("kbits", "band", "bkey").agg(count(lit(1)).as("c"))
      .groupBy("kbits")
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).as("pred"))
    // 1-row relation, eagerly checkpointed (the KMeans k-row discipline):
    // both band sides AND nothing else re-run the ladder aggregates
    val nb = preds.crossJoin(broadcast(sig.agg(count(lit(1)).as("n"))))
      .agg(coalesce(
        min(when(col("pred") <= col("n") * candidateBudget, col("kbits"))),
        lit(ladder.max)).cast("int").as("bits"))
      .localCheckpoint(true)
    // narrow band rows: the width-char signature string does NOT ride the
    // band shuffle — the hamming compare re-reads it from the cached sig
    val bands = sig.crossJoin(broadcast(nb))
      .select(col("doc_id"), col("bits"), col("simhash"),
        explode(expr(s"sequence(0, $width DIV bits - 1)")).as("band"))
      .select(col("doc_id"), col("band"),
        expr("substring(simhash, band * bits + 1, bits)").as("bkey"))
    val cand = bandCollisions(bands, bands, Below).distinct()
    val words = width / 32
    val sw = sig.select(col("doc_id") +: (0 until words).map(i =>
      conv(substring(col("simhash"), i * 32 + 1, 32), 2, 10).cast("long").as(s"h$i")): _*)
    val ham = (0 until words).map(i =>
        bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))))
      .reduce(_ + _).cast("long")
    val candH = cand
      .join(sw.select(col("doc_id").as("d1") +:
        (0 until words).map(i => col(s"h$i").as(s"a$i")): _*), "d1")
      .join(sw.select(col("doc_id").as("d2") +:
        (0 until words).map(i => col(s"h$i").as(s"b$i")): _*), "d2")
      .select(col("d1"), col("d2"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val side = sideOf(shingleRows(documents, 3))
    jaccardVerify(candH, side, side, threshold, carry = Seq("hamming"))
  }

  /** DuckDB mirror of [[simhashWide]] — same salted md5 blocks, integer
    * chunk bits, candidate-budget band derivation (one occupancy-
    * histogram aggregate per ladder rung, smallest fitting bits wins),
    * native `hamming()` past 64 bits
    * ([[graft.functions.TextFns.duckHamming]]), exact-Jaccard verify. */
  def duckSimhashWideSql(table: String, threshold: Double, width: Int = 128,
                         maxHamming: Int = 16, candidateBudget: Int = 256): String = {
    require(width > 0 && width % 32 == 0,
      s"signature width $width must be a positive multiple of 32")
    val nChunks = width / 16
    val nBlocks = (nChunks + 7) / 8
    val md5Cols = (0 until nBlocks).map(b =>
      if (b == 0) "md5(t3.tt) AS m0" else s"md5(t3.tt || '#$b') AS m$b").mkString(", ")
    val chunkCols = (0 until nChunks).map(c =>
      s"${duckMd5Chunk16(s"m${c / 8}", c % 8)} AS c$c").mkString(", ")
    val sums = (0 until width).map(i =>
      s"sum(${duckSimhashBitFromChunk(s"c${i / 16}", i % 16)})")
    val ladder = SimhashBitsLadder.filter(_ <= width)
    val predCtes = ladder.map { k =>
      s"""p$k AS (SELECT $k AS kbits, coalesce(sum(c * (c - 1) // 2), 0)::BIGINT AS pred
         |        FROM (SELECT count(*) AS c
         |              FROM (SELECT band, substr(simhash, (band * $k + 1)::INT, $k) AS bkey
         |                    FROM (SELECT simhash, unnest(range(0, ${width / k})) AS band
         |                          FROM sig) b$k)
         |              GROUP BY band, bkey) o$k)""".stripMargin
    }.mkString(",\n")
    val predUnion = ladder.map(k => s"SELECT * FROM p$k").mkString(" UNION ALL ")
    s"""WITH ${duckSh(table)},
       |tokm AS (SELECT doc_id, $md5Cols
       |         FROM (SELECT doc_id, unnest(t) AS tt FROM tk) t3),
       |tok AS (SELECT doc_id, $chunkCols FROM tokm),
       |sig AS MATERIALIZED (SELECT doc_id, ${duckSimhashFromSums(sums)} AS simhash
       |        FROM tok GROUP BY doc_id),
       |$predCtes,
       |nn AS (SELECT count(*) AS n FROM sig),
       |nb AS (SELECT CAST(coalesce(
       |               min(CASE WHEN p.pred <= nn.n * $candidateBudget THEN p.kbits END),
       |               ${ladder.max}) AS INT) AS bits
       |       FROM ($predUnion) p, nn),
       |br AS (SELECT s.doc_id, s.simhash, nb.bits,
       |              unnest(range(0, $width // nb.bits)) AS band
       |       FROM sig s, nb),
       |bk AS (SELECT doc_id, simhash, band,
       |              substr(simhash, (band * bits + 1)::INT, bits) AS bkey
       |       FROM br),
       |${duckSimhashTail("bk", width, maxHamming, threshold)}""".stripMargin
  }
}
