package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns.{duckSignBucketAt, signBucketAt}
import graft.functions.VecExprs.dotc
import graft.functions.VectorFns.duckDot

/** Graph-based ANN construction: the k-NN graph by NN-descent
  * (Dong, Moses & Li, WWW 2011), the build primitive behind the
  * graph-ANN family (KGraph/NSG/HNSW-adjacent) — the one modern ANN
  * family the engine's LSH/IVF/PQ variants didn't cover.
  *
  * Reference anchor: the vector-search surface
  * (/root/reference/coding_agent/tools/vector_search_tool.py:33-79)
  * delegates to ChromaDB's HNSW; an HNSW graph is built sequentially and
  * cannot be expressed as a distributed plan, but its foundation — every
  * node's k nearest neighbors — can: NN-descent is the standard
  * shared-nothing formulation ("a neighbor of a neighbor is likely a
  * neighbor"), and each refinement round is a self-join + top-k, which is
  * exactly what Spark scales.
  *
  * Algorithm (deterministic variant, both engines identical):
  *  1. init: banded sign-LSH candidates — `tables` disjoint dimension
  *     blocks, band width derived IN-PLAN as
  *     `clamp(2, Block, floor(log2(n DIV targetOcc)))` (the
  *     embedCosineAdaptiveOf geometry: fixed widths make within-bucket
  *     candidates quadratic in corpus size — the q_dedup_embed sf10
  *     lesson), exact cosine, keep top-k per node.
  *  2. round r: reverse edges capped at k per target (the NN-descent
  *     reverse-sample bound — an uncapped hub of indegree d would emit d²
  *     join rows), candidates = neighbors-of-neighbors over the capped
  *     union ∪ current edges, DISTINCT FIRST (candidate-first: dedup
  *     before the expensive rescore), exact cosine, top-k per node.
  *     Per-node lists are monotone in quality: the candidate set always
  *     contains the current list, so recall never regresses (spec-pinned).
  *
  * Scale shape: every step is a keyed equijoin or keyed top-k —
  * partial-agg/AQE-skew friendly; the per-round join fan-out is bounded
  * by 4k² per node by the reverse cap; rank-filter windows are
  * WindowGroupLimit-pruned (and the heap rewrite applies). The graph
  * state (n·k rows) is eagerly localCheckpoint-ed per round — the
  * iterative-state discipline (without it round r re-evaluates the whole
  * prefix; with T=2 rounds the loop costs exactly T passes).
  *
  * Float discipline: scoring joins the PLAIN (vec_id, ed, nrm) relation
  * (honest stats — broadcast at test scale, shuffle join at corpus
  * scale); `sim = dot/(n1·n2)` is the shared bit-exact kernel; all
  * ranking on raw doubles, ties → neighbor id; round(6) display-only.
  */
object NnDescent {

  /** Per-table dimension block: table t reads dims [t·Block, t·Block+bits). */
  val Block = 16

  /** (vec_id, sgn) full-width sign projection — the narrow per-node
    * relation [[graft.sources.GraphLayout]] persists beside the graph so
    * query-time seeding never rescans the embedding column (round-10
    * ADVICE #4: the walk was "hops tiny jobs" but its seeding re-derived
    * the bands from the full corpus per search). Width is `tables·Block`
    * chars, so the SAME stored string serves any band-bits value — bits
    * stay derived in-plan from the count (a count over this narrow
    * relation, not the wide vectors), keeping the stored-seed path
    * bit-identical to the recompute path and the oracle. */
  private[graft] def signsOf(index: DataFrame, tables: Int): DataFrame =
    index.select(col("vec_id"),
      signBucketAt(col("embedding"), 0, tables * Block).as("sgn"))

  /** (vec_id, t, bkey) banded sign-LSH keys over a (vec_id, sgn)
    * relation, band width derived IN-PLAN from its count (clamp(2,
    * Block, floor(log2(n DIV targetOcc)))) — shared by the graph build
    * (all-pairs init within a bucket) and the graph search (the query's
    * own buckets seed the walk). */
  private[graft] def bandKeysOfSigns(signs: DataFrame, targetOcc: Int): DataFrame = {
    val nb = signs.agg(count(lit(1)).as("n"))
      .select(greatest(lit(2), least(lit(Block),
        length(bin(expr(s"n DIV $targetOcc"))) - 1)).as("bits"))
    signs
      .crossJoin(broadcast(nb))
      .select(col("vec_id"),
        explode(expr(s"sequence(0, length(sgn) DIV $Block - 1)")).as("t"),
        col("sgn"), col("bits"))
      .select(col("vec_id"), col("t"),
        expr(s"substring(sgn, t * $Block + 1, bits)").as("bkey"))
  }

  /** [[bandKeysOfSigns]] at a FIXED band width — the frozen-bits form
    * (round-13): no count, no corpus scan, just the explode + substring
    * over whatever sign relation is passed. Identical values to the
    * in-plan form whenever `bits == bitsFor(count, targetOcc)`. */
  private[graft] def bandKeysAt(signs: DataFrame, bits: Int): DataFrame =
    signs
      .select(col("vec_id"),
        explode(expr(s"sequence(0, length(sgn) DIV $Block - 1)")).as("t"),
        col("sgn"))
      .select(col("vec_id"), col("t"),
        expr(s"substring(sgn, t * $Block + 1, $bits)").as("bkey"))

  /** The band-width rule as eager Scala — EXACTLY the in-plan
    * `greatest(2, least(Block, length(bin(n DIV occ)) - 1))` (bin() is
    * unpadded, so length(bin(x)) - 1 = floor(log2(x)) for x ≥ 1 and 0
    * for x = 0; the clamp floor covers both). Used to FREEZE bits into a
    * stored artifact's sidecar at snapshot time
    * ([[graft.sources.GraphLayout.writeBase]]). */
  def bitsFor(n: Long, targetOcc: Int): Int = {
    val m = n / targetOcc
    val lg = if (m <= 0L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(m)
    math.max(2, math.min(Block, lg))
  }

  private def bandKeys(index: DataFrame, tables: Int, targetOcc: Int): DataFrame =
    bandKeysOfSigns(signsOf(index, tables), targetOcc)

  /** The NN-descent build described above. Candidate volume per node per
    * stage measured flat across four decades (SCALE.md "NN-descent
    * candidate volume"). */
  def knnGraph(index: DataFrame, k: Int = 8, tables: Int = 4,
               rounds: Int = 2, targetOcc: Int = 16): DataFrame = {
    require(tables * Block <= 384, "sign blocks exceed embedding dims")
    val v = index.select(col("vec_id"),
        col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))

    def score(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("vec_id").as("a"), col("ed").as("ea"), col("nrm").as("na")), "a")
      .join(v.select(col("vec_id").as("b"), col("ed").as("eb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        (dotc(col("ea"), col("eb")) / (col("na") * col("nb"))).as("s"))

    def topPerA(scored: DataFrame): DataFrame = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("a").orderBy(desc("s"), asc("b"))).cast("long"))
      .filter(col("rn") <= k)

    val bands = bandKeys(index, tables, targetOcc)
    val init = bands.as("x").join(bands.as("y"),
        col("x.t") === col("y.t") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()

    var g = topPerA(score(init)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // reverse edges capped at k per target, then the general neighborhood
      val rev = g
        .withColumn("rrn", row_number().over(
          Window.partitionBy("b").orderBy(desc("s"), asc("a"))))
        .filter(col("rrn") <= k)
        .select(col("b").as("a"), col("a").as("b"))
      val u = g.select("a", "b").union(rev)
      val cand = u.as("x")
        .join(u.select(col("a").as("b"), col("b").as("c")).as("y"), "b")
        .select(col("a"), col("c").as("b"))
        .filter(col("a") =!= col("b"))
        .union(g.select("a", "b"))
        .distinct()
      g = topPerA(score(cand)).localCheckpoint(true)
    }
    g.select(col("a").as("vec_id"), col("b").as("nbr"), col("rn"),
        round(col("s"), 6).as("sim"))
      .orderBy(asc("vec_id"), asc("rn"))
  }

  // --------------------------------------------------------- graph upsert

  /** Incremental batch insertion into an existing k-NN graph — the HNSW
    * insert analog, batch form: all new nodes are placed simultaneously
    * (deterministic — no sequential insert order to mirror), the stored
    * graph provides the refinement edges, and per-insert work is
    * O(batch · bucket occupancy + batch · k²), never a corpus rebuild.
    *
    *  - new-node candidates: the batch's sign-LSH buckets over the FULL
    *    post-insert relation (band bits re-derived in-plan from the
    *    post-insert count — the width a full rebuild would use), plus one
    *    refinement hop through the OLD graph's edges ("a neighbor of my
    *    bucket-mate is likely my neighbor");
    *  - new-node lists: exact-cosine top-k over those candidates;
    *  - old-node lists: re-cut top-k over (stored edges ∪ reversed new
    *    edges) — the candidate set contains the stored list, so every old
    *    node's list quality is MONOTONE under upsert (rank-r similarity
    *    never decreases; spec-pinned).
    *
    * Like the full build, an upsert is NOT promised to equal a fresh
    * rebuild (candidate exposure differs — same contract as every
    * NN-descent implementation); the oracle mirrors the upsert algorithm
    * itself, so the gate pins the exact incremental semantics.
    *
    * At-least-once replay safety (round-10 ADVICE #1): a foreachBatch
    * crash between the artifact swap and the streaming-checkpoint commit
    * replays the batch against state that already absorbed it — the
    * stored graph may carry batch-node a-side lists, and the stored
    * vectors may already contain the batch's rows. Both inputs are
    * therefore anti-joined against the batch ids here: `old` drops
    * replayed batch vectors (a duplicated vec_id would double every
    * score-join row and emit duplicate rn per list) and `gOldEdges`
    * drops batch a-side lists (newEdges owns those — without the guard a
    * replay emits two (vec_id, rn) lists per batch node). On a clean run
    * both guards are no-ops, so the oracle is unchanged; on a replay the
    * result is a VALID upsert whose candidate exposure may slightly
    * exceed the clean run's (re-cut old lists expose their batch
    * neighbors one hop earlier) — the same "upsert ≠ rebuild" contract.
    */
  def graphUpsert(old: DataFrame, batch: DataFrame, k: Int = 8,
                  tables: Int = 4, rounds: Int = 2,
                  targetOcc: Int = 16): DataFrame =
    graphUpsertWith(old,
      knnGraph(old, k, tables, rounds, targetOcc)
        .select(col("vec_id").as("a"), col("nbr").as("b")),
      batch, k, tables, targetOcc)

  /** [[graphUpsert]] core over an ALREADY-BUILT edge relation (a, b) —
    * the stored-artifact path [[graft.sources.GraphLayout.upsertStored]]
    * maintains per micro-batch without ever rebuilding the base graph. */
  def graphUpsertWith(old: DataFrame, gOldEdges: DataFrame, batch: DataFrame,
                      k: Int = 8, tables: Int = 4,
                      targetOcc: Int = 16,
                      oldSigns: Option[DataFrame] = None,
                      frozenBits: Option[Int] = None,
                      storedBands: Option[DataFrame] = None): DataFrame =
    upsertCore(old, gOldEdges, batch, k, tables, targetOcc, oldSigns,
      deltaOnly = false, frozenBits, storedBands)

  /** The TOUCHED-LISTS-ONLY upsert (round-12, the per-batch full-graph
    * rewrite fix): returns (vec_id, nbr, rn, sim) rows for exactly the
    * nodes whose adjacency list an insert batch CHANGES — the batch nodes
    * plus the old nodes that receive a reversed new edge (the re-cut
    * set). Every other old node's candidate set under [[graphUpsertWith]]
    * is its existing edges alone, and re-scoring the same k edges with
    * the same deterministic cosine + (desc s, asc b) rank reproduces the
    * stored list bit-for-bit — so
    *
    *   graphUpsertWith(old, g, batch) ≡
    *     stored rows for untouched ids ∪ graphUpsertDeltaWith(...)
    *
    * (spec-pinned). The delta form never scores the O(n·k) stored edge
    * relation — per-batch compute is O(batch·(occ+k²) + recut·k), the
    * HNSW-insert cost envelope the reference's in-place index pays
    * (`vector_search_tool.py:42-46`), and the piece that lets
    * [[graft.sources.GraphLayout.upsertStored]] rewrite only the buckets
    * the batch touches instead of the whole artifact. */
  def graphUpsertDeltaWith(old: DataFrame, gOldEdges: DataFrame,
                           batch: DataFrame, k: Int = 8, tables: Int = 4,
                           targetOcc: Int = 16,
                           oldSigns: Option[DataFrame] = None,
                           frozenBits: Option[Int] = None,
                           storedBands: Option[DataFrame] = None): DataFrame =
    upsertCore(old, gOldEdges, batch, k, tables, targetOcc, oldSigns,
      deltaOnly = true, frozenBits, storedBands)

  private def upsertCore(old: DataFrame, gOldEdges: DataFrame, batch: DataFrame,
                         k: Int, tables: Int,
                         targetOcc: Int,
                         oldSigns: Option[DataFrame],
                         deltaOnly: Boolean,
                         frozenBits: Option[Int] = None,
                         storedBands: Option[DataFrame] = None): DataFrame = {
    val batchIds = batch.select("vec_id")
    val oldOnly = old.join(batchIds, Seq("vec_id"), "left_anti")
    val full = oldOnly.unionByName(batch)
    // band relation over the post-insert corpus: from the PERSISTED sign
    // strings when the stored artifact provides them (only the batch's
    // signs are computed — the corpus embedding column is never rescanned
    // per micro-batch; same replay anti-join as `old`), else derived from
    // the live relation. Bits are in-plan from the unioned count by
    // default; a STORED artifact passes `frozenBits` (the width recorded
    // in its sidecar at snapshot time — round-13: a per-batch in-plan
    // width is a per-batch corpus count, and it's what forced the banding
    // probe to re-key the whole sign relation every micro-batch).
    val fullSigns = oldSigns match {
      case Some(s) => s.join(batchIds, Seq("vec_id"), "left_anti")
        .unionByName(signsOf(batch, tables))
      case None => signsOf(full, tables)
    }
    // SPLIT score join (round-11, the SignatureLayout probe shape): the
    // per-batch rescore joins the corpus-scale vector relation on both
    // pair sides. Unioning old∪batch BEFORE the join (the r10 form)
    // destroys any partitioning the stored side arrives with, so every
    // batch re-exchanged the corpus twice. Joining the two sides
    // SEPARATELY and unioning the (disjoint — ids never overlap, and the
    // replay guard enforces it) results keeps the stored side's bucketed
    // layout usable: the batch side is explicitly broadcast (O(batch)),
    // the stored side joins pre-partitioned when it comes from
    // [[graft.sources.GraphLayout]]'s bucketed vectors. Each candidate
    // relation is eagerly checkpointed first (tiny: O(batch·(occ+k²))
    // for newCand; the old re-cut is the O(n·k) graph relation the batch
    // rewrites anyway), since the nested split join references the pair
    // subtree four times (the CollapseProject re-evaluation lesson).
    val vOld = oldOnly.select(col("vec_id"),
        col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
    val vNew = batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))

    def score(pairs: DataFrame): DataFrame = {
      def side(p: DataFrame, key: String, e: String, n: String): DataFrame = {
        def proj(vs: DataFrame) =
          vs.select(col("vec_id").as(key), col("ed").as(e), col("nrm").as(n))
        p.join(proj(vOld), key).unionByName(p.join(broadcast(proj(vNew)), key))
      }
      side(side(pairs, "a", "ea", "na"), "b", "eb", "nb")
        .select(col("a"), col("b"),
          (dotc(col("ea"), col("eb")) / (col("na") * col("nb"))).as("s"))
    }

    def topPerA(scored: DataFrame): DataFrame = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("a").orderBy(desc("s"), asc("b"))).cast("long"))
      .filter(col("rn") <= k)

    val bids = batch.select(col("vec_id").as("a"))
    val gOld = gOldEdges.join(bids, Seq("a"), "left_anti")
    // the post-insert band relation the bucket-candidate join probes:
    //   - (frozen, stored): stored band rows (the caller pre-prunes to the
    //     batch's band-key partitions — pruning only ever REMOVES rows
    //     that can't equijoin the batch's (t, bkey) keys, so it is pure
    //     IO) + the batch's own keys at the frozen width. NO corpus term:
    //     neither a count nor a full re-key. Replay anti-join mirrors
    //     `fullSigns`'s.
    //   - (frozen, none): full re-key at the frozen width (the semantics
    //     alone, for spec/sequential-expectation callers).
    //   - default: in-plan width from the post-insert count.
    // bandsX = the BATCH's band rows (the probe side), bandsY = the full
    // post-insert band relation. In the stored path bandsX is cut
    // directly from the batch's signs, so the x side never evaluates the
    // stored relation at all — one fewer read of the corpus-side subtree
    // per micro-batch (and the right shape at scale: the probe side is
    // O(batch) by construction).
    val (bandsX, bandsY) = (frozenBits, storedBands) match {
      case (Some(bits), Some(sb)) =>
        val bb = bandKeysAt(signsOf(batch, tables), bits)
        (bb, sb.join(batchIds, Seq("vec_id"), "left_anti").unionByName(bb))
      case (Some(bits), None) =>
        val b = bandKeysAt(fullSigns, bits)
        (b.join(batchIds, Seq("vec_id")), b)
      case (None, Some(_)) => throw new IllegalArgumentException(
        "storedBands requires frozenBits — stored band keys are only valid " +
          "at the width they were written with")
      case (None, None) =>
        val b = bandKeysOfSigns(fullSigns, targetOcc)
        (b.join(batchIds, Seq("vec_id")), b)
    }
    val bucketCand = bandsX.as("x")
      .join(bandsY.as("y"),
        col("x.t") === col("y.t") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    // one refinement hop through the stored graph: bucket-mate's neighbors
    val hopCand = bucketCand
      .join(gOld.select(col("a").as("b"), col("b").as("c")), "b")
      .select(col("a"), col("c").as("b"))
      .filter(col("a") =!= col("b"))
    val newCand = bucketCand.union(hopCand).distinct().localCheckpoint(true)
    val newEdges = topPerA(score(newCand)).localCheckpoint(true)
    // old nodes re-cut over stored edges ∪ reversed new edges; deltaOnly
    // restricts the stored side to the RE-CUT nodes' own lists (broadcast:
    // the re-cut id set is O(batch·k)) — same per-a candidate sets, so
    // per-a results are identical to the full form's
    val recutRev = newEdges.select(col("b").as("a"), col("a").as("b"))
      .join(bids, Seq("a"), "left_anti") // a batch-node a-side is newEdges' job
    val gOldSide =
      if (deltaOnly)
        gOld.join(broadcast(recutRev.select("a").distinct()), "a")
      else gOld
    val oldCand = gOldSide.union(recutRev).distinct().localCheckpoint(true)
    val oldEdges = topPerA(score(oldCand))
    oldEdges.unionByName(newEdges)
      .select(col("a").as("vec_id"), col("b").as("nbr"), col("rn"),
        round(col("s"), 6).as("sim"))
      .orderBy(asc("vec_id"), asc("rn"))
  }

  /** DuckDB mirror of [[graphUpsert]]: [[duckKnnGraph]] over the OLD
    * slice as the stored graph, then the batch placement + old re-cut.
    *
    * `frozenBaseBits`: mirror of the STORED-artifact maintenance path
    * (round-13) — band width frozen at the snapshot, i.e. derived from
    * the OLD slice's count (what [[graft.sources.GraphLayout.writeBase]]
    * records in the `_graft_bands` sidecar), not the post-insert count.
    * The default mirrors the in-memory [[graphUpsert]] API, whose width
    * is the one a full rebuild would use. */
  def duckGraphUpsert(table: String, oldPred: String, batchPred: String,
                      k: Int = 8, tables: Int = 4, rounds: Int = 2,
                      targetOcc: Int = 16,
                      frozenBaseBits: Boolean = false): String = {
    val graphCtes = duckKnnGraphParts(
      s"(SELECT * FROM $table WHERE $oldPred) oldsrc",
      k, tables, rounds, targetOcc)._1
    val sgn = duckSignBucketAt("embedding", 0, tables * Block)
    val sc = s"${duckDot("va.embedding", "vb.embedding")} / (va.n * vb.n)"
    val bitsSrc = if (frozenBaseBits) "FROM fvn WHERE NOT isb" else "FROM fvn"
    s"""WITH $graphCtes,
       |gold AS MATERIALIZED (SELECT a, b FROM g$rounds WHERE rn <= $k),
       |fvn AS MATERIALIZED (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS n,
       |         $sgn AS sgn, ($batchPred) AS isb
       |  FROM $table WHERE ($oldPred) OR ($batchPred)),
       |fbb AS (SELECT greatest(2, least($Block, length(bin((count(*)::BIGINT) // $targetOcc)) - 1)) AS bits $bitsSrc),
       |fbands AS MATERIALIZED (
       |  SELECT vec_id, isb, t, substr(sgn, t * $Block + 1, bits) AS bkey
       |  FROM fvn CROSS JOIN fbb CROSS JOIN (SELECT unnest(range(0, $tables)) AS t)),
       |bcand AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM fbands x JOIN fbands y ON x.t = y.t AND x.bkey = y.bkey AND x.vec_id <> y.vec_id
       |  WHERE x.isb),
       |ncand AS (SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM bcand
       |  UNION ALL
       |  SELECT bc.a, g.c AS b FROM bcand bc
       |  JOIN (SELECT a AS bb, b AS c FROM gold) g ON bc.b = g.bb
       |  WHERE bc.a <> g.c)),
       |nsc AS (SELECT nc.a, nc.b, $sc AS s
       |  FROM ncand nc JOIN fvn va ON va.vec_id = nc.a JOIN fvn vb ON vb.vec_id = nc.b),
       |nedge AS MATERIALIZED (SELECT a, b, s, row_number() OVER (PARTITION BY a ORDER BY s DESC, b)::BIGINT AS rn
       |  FROM nsc),
       |ocand AS (SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM gold
       |  UNION ALL
       |  SELECT ne.b AS a, ne.a AS b FROM nedge ne
       |  WHERE ne.rn <= $k AND ne.b NOT IN (SELECT vec_id FROM fvn WHERE isb))),
       |osc AS (SELECT oc.a, oc.b, $sc AS s
       |  FROM ocand oc JOIN fvn va ON va.vec_id = oc.a JOIN fvn vb ON vb.vec_id = oc.b),
       |oedge AS (SELECT a, b, s, row_number() OVER (PARTITION BY a ORDER BY s DESC, b)::BIGINT AS rn
       |  FROM osc)
       |SELECT a AS vec_id, b AS nbr, rn, round(s, 6) AS sim FROM (
       |  SELECT * FROM oedge WHERE rn <= $k
       |  UNION ALL SELECT * FROM nedge WHERE rn <= $k)
       |ORDER BY vec_id, rn""".stripMargin
  }

  // --------------------------------------------------------- graph search

  /** ANN query over a prebuilt k-NN graph: greedy best-first beam walk —
    * the query-time half of the graph-ANN family (what ChromaDB's HNSW
    * does on every `semantic_search`, minus the layer hierarchy). The
    * entry set seeds from the query's OWN sign-LSH buckets (coarse probe
    * → graph refine — a greedy walk on a plain k-NN graph from arbitrary
    * entries stalls in local minima: measured exact-top-10 recall from
    * lowest-id entries was 4/10 at sf0.001 vs 7/10 LSH-seeded, 9/10 at
    * sf0.01), unioned with the `beam` lowest vec_ids so the seed set is
    * never empty when the query's buckets are singletons.
    *
    * Per hop: expand the beam's stored out-edges (a tiny join against the
    * [[graft.sources.GraphLayout]] artifact — broadcast-beam at any
    * scale; at 100 TB the vector fetch is a point-lookup join against
    * the bucketed vector layout), drop already-visited nodes, score the
    * frontier exactly against the query, fold into the visited set, and
    * re-cut the beam to the best `beam` visited. `hops` is fixed, so the
    * walk is `hops` tiny jobs over eagerly-checkpointed ≤(beam·k·hops)-row
    * state — the MMR loop discipline. Output: the best `k` visited.
    *
    * Every score is the shared bit-exact cosine kernel; ties → vec_id;
    * round(6) display-only. The DuckDB mirror ([[duckGraphSearch]])
    * rebuilds the graph in SQL ([[duckKnnGraph]]'s CTE chain) and unrolls
    * the walk hop by hop.
    */
  /** `pred`: metadata post-filter (the reference's Q1 `where=` on the
    * graph path). The walk itself stays UNFILTERED — constraining the
    * walk to matching nodes severs the graph's connectivity (the
    * standard graph-ANN filtered-search result); the filter applies at
    * final selection over the visited set, and the caller compensates
    * selectivity with a wider `beam` (the HNSW post-filter/efSearch
    * convention). */
  def graphSearch(index: DataFrame, graph: DataFrame, queryVec: DataFrame,
                  k: Int = 10, beam: Int = 8, hops: Int = 3,
                  excludeId: Long = 0L, tables: Int = 4,
                  targetOcc: Int = 16,
                  pred: Option[org.apache.spark.sql.Column] = None,
                  signs: Option[DataFrame] = None): DataFrame = {
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
    // seed set: the query's own band buckets (bits derived from the FULL
    // index count — the same relation the graph build banded) + the beam
    // lowest ids as the never-empty fallback. When the caller holds the
    // persisted sign relation (GraphLayout), seeding is a narrow keyed
    // probe against it — NO embedding-column rescan per search (ADVICE
    // #4); content is bit-identical to the recompute path, so the oracle
    // is unchanged.
    val bands = signs.map(bandKeysOfSigns(_, targetOcc))
      .getOrElse(bandKeys(index, tables, targetOcc))
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
      case Some(p) =>
        visited.join(index.filter(p).select("vec_id"), "vec_id")
      case None => visited
    }
    // rank the ≤k survivors without a global window (coalesce(1) +
    // in-partition sort + monotonically_increasing_id ≡ row_number on
    // partition 0) — keeps WindowExec warnings out of the bench tail so
    // a real unpartitioned-window regression would stand out
    selected.orderBy(desc("s"), asc("vec_id")).limit(k)
      .coalesce(1).sortWithinPartitions(desc("s"), asc("vec_id"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("long"))
      .select(col("rank"), col("vec_id"), round(col("s"), 6).as("sim"))
      .orderBy("rank")
  }

  /** Batched multi-query [[graphSearch]]: every (qid, qv) row walks the
    * graph SIMULTANEOUSLY — the walk state is keyed by qid, each hop is
    * one join for ALL queries, and the per-query sequential structure
    * costs `hops` jobs TOTAL, not `hops · |queries|`. This is where the
    * relational formulation beats a pointer-chasing ANN service at
    * scale: a re-rank workload pushing 10⁶ queries through the graph is
    * the same plan with a bigger qid domain. Exclusion is per-query
    * (vec_id ≠ qid), matching [[Knn.multiScored]]'s contract. */
  def multiGraphSearch(index: DataFrame, graph: DataFrame, queries: DataFrame,
                       k: Int = 10, beam: Int = 8, hops: Int = 3,
                       tables: Int = 4, targetOcc: Int = 16,
                       signs: Option[DataFrame] = None): DataFrame = {
    val q = queries.select(col("qid"), col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val v = index.select(col("vec_id"),
        col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))

    def score(ids: DataFrame): DataFrame = ids
      .join(v, "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        (dotc(col("ed"), col("qe")) / (col("nrm") * col("qn"))).as("s"))

    val qids = queries.select("qid")
    val bands = signs.map(bandKeysOfSigns(_, targetOcc))
      .getOrElse(bandKeys(index, tables, targetOcc))
    val qb = bands.join(broadcast(qids), bands("vec_id") === qids("qid"))
      .select(col("qid"), col("t"), col("bkey"))
    val lshSeeds = bands.join(broadcast(qb), Seq("t", "bkey"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val lowSeeds = v.select("vec_id").orderBy(asc("vec_id")).limit(beam)
      .crossJoin(broadcast(qids))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val edges = graph.select(col("vec_id"), col("nbr"))
    var visited = score(lshSeeds.union(lowSeeds).distinct())
      .localCheckpoint(true)
    val wq = Window.partitionBy("qid").orderBy(desc("s"), asc("vec_id"))
    for (_ <- 1 to hops) {
      val b = visited.withColumn("brn", row_number().over(wq))
        .filter(col("brn") <= beam).select("qid", "vec_id")
      val frontier = edges.join(b, "vec_id")
        .filter(col("nbr") =!= col("qid"))
        .select(col("qid"), col("nbr").as("vec_id")).distinct()
        .join(visited.select("qid", "vec_id"), Seq("qid", "vec_id"), "left_anti")
      visited = visited.union(score(frontier)).localCheckpoint(true)
    }
    visited.withColumn("rn", row_number().over(wq).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("rn"), round(col("s"), 6).as("sim"))
      .orderBy(asc("qid"), asc("rn"))
  }

  /** recall@k of the batched graph walk vs the exact top-k over the same
    * query set — the graph row beside q_knn_recall's LSH/IVF/SQ8/PQ
    * variants (same report schema, same exact baseline construction). */
  def graphRecall(index: DataFrame, graph: DataFrame, queries: DataFrame,
                  k: Int = 10, beam: Int = 8, hops: Int = 3,
                  signs: Option[DataFrame] = None): DataFrame = {
    val got = multiGraphSearch(index, graph, queries, k, beam, hops,
        signs = signs)
      .select("qid", "vec_id")
    val w = Window.partitionBy("qid").orderBy(desc("sim_raw"), asc("vec_id"))
    val exact = Knn.multiScored(index, queries)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"))
      .cache() // intersection probe + expected-count agg
    val nExpected = exact.agg(count(lit(1)).as("n_expected"))
    got.join(exact.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nExpected))
      .select(lit("graph").as("variant"), col("n_returned"), col("n_hits"),
        col("n_expected"),
        round(col("n_hits").cast("double") / col("n_expected").cast("double"), 6)
          .as("recall"))
  }

  /** DuckDB mirror of [[graphRecall]]: graph chain + the batched walk
    * (hop state keyed by qid) + the exact baseline + the intersection. */
  def duckGraphRecall(table: String, nQueries: Int, k: Int = 10,
                      beam: Int = 8, hops: Int = 3, gk: Int = 8,
                      tables: Int = 4, rounds: Int = 2,
                      targetOcc: Int = 16): String = {
    val graphCtes = duckKnnGraphParts(table, gk, tables, rounds, targetOcc)._1
    val qsim = s"(${duckDot("vv.embedding", "q.qe")} / (vv.n * q.qn))"
    val hopCtes = (1 to hops).map { h =>
      s"""b$h AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS brn
         |  FROM v${h - 1}) WHERE brn <= $beam),
         |f$h AS (SELECT DISTINCT b.qid, e.b AS vec_id
         |        FROM edges e JOIN b$h b USING (vec_id)
         |        WHERE e.b <> b.qid AND NOT EXISTS (
         |          SELECT 1 FROM v${h - 1} v WHERE v.qid = b.qid AND v.vec_id = e.b)),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1} UNION ALL
         |        SELECT f.qid, f.vec_id, $qsim AS s
         |        FROM f$h f JOIN vn vv ON vv.vec_id = f.vec_id
         |        JOIN qs q ON q.qid = f.qid)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphCtes,
       |edges AS MATERIALIZED (SELECT a AS vec_id, b FROM g$rounds WHERE rn <= $gk),
       |qs AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe, n AS qn FROM vn
       |       WHERE vec_id < $nQueries),
       |qb AS (SELECT vec_id AS qid, t, bkey FROM bands WHERE vec_id < $nQueries),
       |lows AS (SELECT vec_id FROM vn ORDER BY vec_id LIMIT $beam),
       |seeds AS (SELECT DISTINCT qid, vec_id FROM (
       |  SELECT qb.qid, x.vec_id FROM bands x JOIN qb USING (t, bkey)
       |  WHERE x.vec_id <> qb.qid
       |  UNION ALL
       |  SELECT q.qid, l.vec_id FROM qs q CROSS JOIN lows l WHERE l.vec_id <> q.qid)),
       |v0 AS MATERIALIZED (SELECT s.qid, s.vec_id, $qsim AS s
       |       FROM seeds s JOIN vn vv ON vv.vec_id = s.vec_id
       |       JOIN qs q ON q.qid = s.qid),
       |$hopCtes,
       |got AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
       |  FROM v$hops) WHERE rn <= $k),
       |ex AS MATERIALIZED (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY ${duckDot("e.embedding", "q.qe")} / (e.n * q.qn) DESC, e.vec_id) AS rn
       |  FROM vn e CROSS JOIN qs q WHERE e.vec_id <> q.qid) WHERE rn <= $k)
       |SELECT 'graph' AS variant,
       |       count(*)::BIGINT AS n_returned,
       |       sum(CASE WHEN ex.qid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
       |       (SELECT count(*)::BIGINT FROM ex) AS n_expected,
       |       round(sum(CASE WHEN ex.qid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |             / (SELECT count(*) FROM ex), 6) AS recall
       |FROM got LEFT JOIN ex ON got.qid = ex.qid AND got.vec_id = ex.vec_id""".stripMargin
  }

  /** DuckDB mirror of [[graphSearch]]: [[duckKnnGraph]]'s graph CTEs with
    * the beam walk unrolled on top (hop CTEs v0/b1/f1/v1/…). */
  def duckGraphSearch(table: String, k: Int = 10, beam: Int = 8,
                      hops: Int = 3, excludeId: Long = 0L,
                      gk: Int = 8, tables: Int = 4, rounds: Int = 2,
                      targetOcc: Int = 16,
                      predSql: Option[String] = None): String = {
    val graphCtes = duckKnnGraphParts(table, gk, tables, rounds, targetOcc)._1
    val qsim = s"(${duckDot("vv.embedding", "q.qv")} / (vv.n * q.qn))"
    val hopCtes = (1 to hops).map { h =>
      s"""b$h AS (SELECT vec_id FROM v${h - 1} ORDER BY s DESC, vec_id LIMIT $beam),
         |f$h AS (SELECT DISTINCT e.b AS vec_id
         |        FROM edges e JOIN b$h USING (vec_id)
         |        WHERE e.b NOT IN (SELECT vec_id FROM v${h - 1})),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1} UNION ALL
         |        SELECT vv.vec_id, $qsim AS s
         |        FROM vv JOIN f$h USING (vec_id) CROSS JOIN q)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphCtes,
       |edges AS MATERIALIZED (SELECT a AS vec_id, b FROM g$rounds
       |          WHERE rn <= $gk AND b <> $excludeId),
       |q AS (SELECT embedding AS qv, sqrt(${duckDot("embedding", "embedding")}) AS qn
       |      FROM $table WHERE vec_id = $excludeId),
       |vv AS MATERIALIZED (SELECT vec_id, embedding, n FROM vn WHERE vec_id <> $excludeId),
       |seeds AS (
       |  SELECT DISTINCT vec_id FROM (
       |    SELECT x.vec_id FROM bands x
       |    JOIN (SELECT t, bkey FROM bands WHERE vec_id = $excludeId) qy USING (t, bkey)
       |    WHERE x.vec_id <> $excludeId
       |    UNION ALL
       |    SELECT vec_id FROM (SELECT vec_id FROM vv ORDER BY vec_id LIMIT $beam))),
       |v0 AS MATERIALIZED (SELECT vv.vec_id, $qsim AS s
       |       FROM seeds JOIN vv USING (vec_id) CROSS JOIN q),
       |$hopCtes
       |SELECT row_number() OVER (ORDER BY s DESC, vec_id)::BIGINT AS rank,
       |       vec_id, round(s, 6) AS sim
       |FROM (SELECT v.* FROM v$hops v${predSql.map(p =>
               s" JOIN $table t ON t.vec_id = v.vec_id AND ($p)").getOrElse("")}
       |      ORDER BY v.s DESC, v.vec_id LIMIT $k)
       |ORDER BY rank""".stripMargin
  }

  /** [[duckKnnGraph]]'s CTE chain and final SELECT as SEPARATE strings —
    * the composition seam [[duckGraphUpsert]]/[[duckGraphSearch]]/
    * [[duckGraphRecall]] build on (round-10 ADVICE #2: they previously
    * re-split the assembled SQL with `lastIndexOf` on the final SELECT's
    * exact text — any rewording broke the splice with no compile-time
    * signal). `rounds = 0` emits a valid chain ending at `g0` (no
    * trailing comma — ADVICE #3's dangling-comma asymmetry vs the Spark
    * path). */
  def duckKnnGraphParts(table: String, k: Int = 8, tables: Int = 4,
                        rounds: Int = 2, targetOcc: Int = 16): (String, String) = {
    val sgn = duckSignBucketAt("embedding", 0, tables * Block)
    def topPerA(src: String): String =
      s"""SELECT a, b, s, row_number() OVER (PARTITION BY a ORDER BY s DESC, b)::BIGINT AS rn
         |      FROM $src""".stripMargin
    def roundCtes(r: Int, prev: String): String =
      s"""rev$r AS (SELECT b AS a, a AS b FROM (
         |  SELECT a, b, row_number() OVER (PARTITION BY b ORDER BY s DESC, a) AS rrn
         |  FROM $prev) WHERE rrn <= $k),
         |u$r AS (SELECT a, b FROM $prev UNION ALL SELECT a, b FROM rev$r),
         |sc$r AS (SELECT cand.a, cand.b,
         |    ${duckDot("va.embedding", "vb.embedding")} / (va.n * vb.n) AS s
         |  FROM (SELECT DISTINCT a, b FROM (
         |          SELECT x.a AS a, y.c AS b
         |          FROM u$r x JOIN (SELECT a AS b, b AS c FROM u$r) y USING (b)
         |          WHERE x.a <> y.c
         |          UNION ALL SELECT a, b FROM $prev)) cand
         |  JOIN vn va ON va.vec_id = cand.a
         |  JOIN vn vb ON vb.vec_id = cand.b),
         |g$r AS (${topPerA(s"sc$r")})""".stripMargin
    val chain = (1 to rounds).map(r =>
      roundCtes(r, s"(SELECT * FROM g${r - 1} WHERE rn <= $k)")).mkString(",\n")
    val base =
      s"""vn AS MATERIALIZED (
         |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS n,
         |         $sgn AS sgn
         |  FROM $table),
         |bb AS (SELECT greatest(2, least($Block, length(bin((count(*)::BIGINT) // $targetOcc)) - 1)) AS bits FROM vn),
         |bands AS (
         |  SELECT vec_id, t, substr(sgn, t * $Block + 1, bits) AS bkey
         |  FROM vn CROSS JOIN bb CROSS JOIN (SELECT unnest(range(0, $tables)) AS t)),
         |init AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bands x JOIN bands y ON x.t = y.t AND x.bkey = y.bkey AND x.vec_id <> y.vec_id),
         |sc0 AS (SELECT init.a, init.b,
         |    ${duckDot("va.embedding", "vb.embedding")} / (va.n * vb.n) AS s
         |  FROM init JOIN vn va ON va.vec_id = init.a JOIN vn vb ON vb.vec_id = init.b),
         |g0 AS (${topPerA("sc0")})""".stripMargin
    val ctes = if (rounds >= 1) base + ",\n" + chain else base
    val fin =
      s"""SELECT a AS vec_id, b AS nbr, rn, round(s, 6) AS sim
         |FROM g$rounds WHERE rn <= $k ORDER BY vec_id, rn""".stripMargin
    (ctes, fin)
  }

  /** DuckDB mirror of [[knnGraph]] — the refinement loop unrolled into
    * one CTE chain per round (deterministic round count makes recursion
    * unnecessary, and unrolled CTEs sidestep DuckDB's recursive-term
    * restrictions entirely). */
  def duckKnnGraph(table: String, k: Int = 8, tables: Int = 4,
                   rounds: Int = 2, targetOcc: Int = 16): String = {
    val (ctes, fin) = duckKnnGraphParts(table, k, tables, rounds, targetOcc)
    s"WITH $ctes\n$fin"
  }
}
