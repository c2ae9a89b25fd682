package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
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
  * prefix; with T=2 rounds the loop costs exactly T passes). A round's
  * checkpoint is released once the next one is materialized; the last
  * one backs the returned lazy graph, so an eager writer
  * ([[graft.sources.GraphLayout.writeBase]]) [[release]]s it after its
  * write.
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

  /** [[bandKeysAt]]'s (t, bkey) rows of one sign string, on the driver,
    * cut exactly as it cuts them: t < length(sgn) DIV Block. */
  private[graft] def bandKeysOfSign(sg: String, bits: Int): Seq[(Long, String)] =
    (0 until sg.length / Block).map(t =>
      (t.toLong, sg.substring(t * Block, math.min(sg.length, t * Block + bits))))

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
      val next = topPerA(score(cand)).localCheckpoint(true)
      release(g)
      g = next
    }
    g.select(col("a").as("vec_id"), col("b").as("nbr"), col("rn"),
        round(col("s"), 6).as("sim"))
      .orderBy(asc("vec_id"), asc("rn"))
  }

  /** Unpersist the `localCheckpoint` blocks `df` reads (the RDD leaves of
    * its plan), once nothing will read `df` again. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ => ()
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

  /** [[graphUpsert]] core over an ALREADY-BUILT edge relation (a, b), the
    * in-memory reference of the stored-artifact path
    * [[graft.sources.GraphLayout.upsertStored]] maintains per micro-batch
    * ([[graphUpsertDelta]] computes exactly its changed lists). `frozenBits`
    * cuts the band keys at a fixed width instead of the in-plan width of
    * the post-insert count (the stored artifact's sidecar width). */
  def graphUpsertWith(old: DataFrame, gOldEdges: DataFrame, batch: DataFrame,
                      k: Int = 8, tables: Int = 4,
                      targetOcc: Int = 16,
                      frozenBits: Option[Int] = None): DataFrame = {
    val batchIds = batch.select("vec_id")
    val oldOnly = old.join(batchIds, Seq("vec_id"), "left_anti")
    val full = oldOnly.unionByName(batch)
    val fullSigns = signsOf(full, tables)
    // SPLIT score join (round-11, the SignatureLayout probe shape): the
    // per-batch rescore joins the corpus-scale vector relation on both
    // pair sides. Unioning old∪batch BEFORE the join (the r10 form)
    // destroys any partitioning the stored side arrives with, so every
    // batch re-exchanged the corpus twice. Joining the two sides
    // SEPARATELY and unioning the (disjoint — ids never overlap, and the
    // replay guard enforces it) results keeps the stored side's layout
    // usable: the batch side is explicitly broadcast (O(batch)). Each
    // candidate relation is eagerly checkpointed first, since the nested
    // split join references the pair subtree four times (the
    // CollapseProject re-evaluation lesson).
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
    // the post-insert band relation: in-plan width from its count, or the
    // frozen width; the batch's own rows are the probe side
    val bands = frozenBits.fold(bandKeysOfSigns(fullSigns, targetOcc))(
      bandKeysAt(fullSigns, _))
    val bucketCand = bands.join(batchIds, Seq("vec_id")).as("x")
      .join(bands.as("y"),
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
    // old nodes re-cut over stored edges ∪ reversed new edges
    val recutRev = newEdges.select(col("b").as("a"), col("a").as("b"))
      .join(bids, Seq("a"), "left_anti") // a batch-node a-side is newEdges' job
    val oldCand = gOld.union(recutRev).distinct().localCheckpoint(true)
    val oldEdges = topPerA(score(oldCand))
    oldEdges.unionByName(newEdges)
      .select(col("a").as("vec_id"), col("b").as("nbr"), col("rn"),
        round(col("s"), 6).as("sim"))
      .orderBy(asc("vec_id"), asc("rn"))
  }

  /** The lists an insert batch CHANGES, for the stored-artifact path
    * ([[graft.sources.GraphLayout.upsertStored]]): (vec_id, nbr, rn, sim)
    * rows for the batch nodes plus the old nodes that receive a reversed
    * new edge (the re-cut set R). Every other old node's candidate set
    * under [[graphUpsertWith]] is its own stored list, and re-scoring it
    * with the same cosine and (s desc, b asc) rank reproduces it bit for
    * bit, so
    *
    *   graphUpsertWith(vectors, graph, batch) ≡
    *     stored rows for untouched ids ∪ graphUpsertDelta(...)
    *
    * (spec-pinned, replays and exact ties included). Per batch the work is
    * O(batch·(occ + k²)) — the HNSW-insert cost envelope of the reference's
    * in-place index (`vector_search_tool.py:42-46`) — and never scores the
    * O(n·k) stored edge relation.
    *
    * That state is bounded, so it lives on the DRIVER ([[graphSearch]]'s
    * rule): the batch is collected once (no job for the local relation
    * upsertStored passes), and stored state arrives in one job per
    * dependency level that has ids left to fetch, each a `Union` of narrow
    * scans filtered to the level's ids ([[idIn]], band keys likewise):
    *   1. `bands`' rows sharing a (t, bkey) with the batch — bucket mates;
    *   2. the mates' stored edges and vectors;
    *   3. the hop targets' (mates' neighbours') edges and vectors — R is a
    *      subset of mates ∪ hop targets, so R's lists are then fetched;
    *   4. the vectors of R's stored neighbours.
    * Scores are [[graft.functions.DotProduct]]'s sequential loop over the
    * same doubles, so they are bit-identical to the Spark form; ranking is
    * Spark's double order (NaN largest, −0.0 = 0.0, null last), ties → b;
    * `round(s, 6)` is the folded projection of the returned local relation.
    * A zero norm gives a null score where ANSI is off and raises where it
    * is on, as Spark's division does.
    *
    * Inputs: `vectors` (vec_id, embedding) and `graph` (vec_id, nbr, …) map
    * a set of ids to the stored relations' rows — any superset of those
    * ids' rows (a caller may prune by bucket) — and `batch` (vec_id,
    * embedding) is the insert; vec_id is a key of the stored vectors and of
    * `batch`. `bands` maps the batch's distinct (t, bkey) keys to stored
    * (vec_id, t, bkey) rows at width `bits`, likewise any superset of the
    * rows sharing one of those keys (a caller may prune by key partition). Batch ids are dropped from every stored side, as
    * [[graphUpsertWith]]'s anti-joins drop them, so a replayed batch
    * reduces to a valid upsert.
    *
    * Driver memory: at most |batch| + min(n, batch·tables·occ·(1+k) +
    * batch·k²) vectors (mates, their neighbours, R's neighbours) and k
    * stored edges per fetched list. */
  private[graft] def graphUpsertDelta(vectors: Seq[Long] => DataFrame,
                                      graph: Seq[Long] => DataFrame,
                                      bands: Seq[(Long, String)] => DataFrame,
                                      batch: DataFrame, k: Int, tables: Int,
                                      bits: Int): DataFrame = {
    val spark = batch.sparkSession
    val ansi = spark.sessionState.conf.ansiEnabled
    // a vector and its norm, sqrt(dotc(ed, ed)); null embedding → null ed
    final class Vec(val ed: Array[Double]) {
      val n: Double = if (ed == null) 0.0 else math.sqrt(dot(ed, ed))
    }
    def vecAt(r: Row, i: Int) = new Vec(
      if (r.isNullAt(i)) null else r.getSeq[Double](i).toArray)
    val bt = batch.select(col("vec_id"), col("embedding").cast("array<double>"),
        signBucketAt(col("embedding"), 0, tables * Block)).collect()
    val bv = bt.map(r => r.getLong(0) -> vecAt(r, 1)).toMap
    require(bv.size == bt.length, "graphUpsertDelta: batch vec_id is not a key")
    val keysOf = bt.map { r =>
      r.getLong(0) -> (if (r.isNullAt(2)) Nil else bandKeysOfSign(r.getString(2), bits))
    }
    val keys = keysOf.flatMap(_._2).distinct.toSeq

    // 1. bucket mates: stored band rows (batch ids dropped) ∪ the batch's
    val keySet = keys.toSet
    val inKeys = udf((t: Long, b: String) => keySet((t, b)))
    val stored = (if (keys.isEmpty) Seq.empty[Row]
      else bands(keys).filter(inKeys(col("t"), col("bkey")))
        .select("vec_id", "t", "bkey").collect().toSeq)
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
      .filterNot(r => bv.contains(r._1))
    val byKey = (stored ++ keysOf.flatMap { case (id, ks) => ks.map(id -> _) })
      .groupMap(_._2)(_._1)
    val mates = keysOf.map { case (a, ks) =>
      a -> ks.flatMap(byKey.getOrElse(_, Nil)).filter(_ != a).distinct }

    // stored state fetched so far: vectors and edge lists by id
    val vecs = mutable.Map.empty[Long, Vec]
    val edges = mutable.Map.empty[Long, mutable.LinkedHashSet[Long]]
    val asked, listed = mutable.Set.empty[Long]
    // ids de-duplicated BEFORE the membership tests: candidate lists
    // repeat ids many times over (a 20,000-row batch's hop candidates)
    def fetch(lists: Iterable[Long], vs: Iterable[Long]): Unit = {
      val es = lists.iterator.distinct.filterNot(i => bv.contains(i) || listed(i)).toSeq
      val ws = vs.iterator.distinct.filterNot(i => bv.contains(i) || asked(i)).toSeq
      listed ++= es
      asked ++= ws
      Seq(
        Option.when(es.nonEmpty)(graph(es).filter(idIn(es))
          .select(col("vec_id"), col("nbr"), lit(null).cast("array<double>").as("ed"))),
        Option.when(ws.nonEmpty)(vectors(ws).filter(idIn(ws))
          .select(col("vec_id"), lit(null).cast("long").as("nbr"),
            col("embedding").cast("array<double>").as("ed")))
      ).flatten.reduceOption(_ union _).foreach(_.collect().foreach { r =>
        val id = r.getLong(0)
        if (r.isNullAt(1)) vecs(id) = vecAt(r, 2)
        else edges.getOrElseUpdate(id, mutable.LinkedHashSet.empty) += r.getLong(1)
      })
    }
    def vecOf(id: Long): Option[Vec] = bv.get(id).orElse(vecs.get(id))
    def listOf(id: Long): Iterable[Long] = edges.getOrElse(id, Nil)
    // top-k of `a` over the candidates with a vector row (the score join)
    def top(a: Long, cand: Iterable[Long]): Seq[(Long, Option[Double])] =
      vecOf(a).toSeq.flatMap { va =>
        cand.toSeq.distinct.flatMap(b => vecOf(b).map { vb =>
          b -> (if (va.ed == null || vb.ed == null) None else {
            val d = va.n * vb.n
            if (d != 0.0) Some(dot(va.ed, vb.ed) / d)
            else if (ansi) throw new ArithmeticException(
              s"graphUpsertDelta: zero norm scoring ($a, $b)")
            else None
          })
        }).sorted(byRank).take(k)
      }

    // 2. mates' lists and vectors; 3. hop targets' lists and vectors
    fetch(mates.flatMap(_._2), mates.flatMap(_._2))
    val newCand = mates.map { case (a, ms) =>
      a -> (ms ++ ms.flatMap(listOf).filter(_ != a)) }
    val cand = newCand.flatMap(_._2)
    fetch(cand, cand)
    val newEdges = newCand.map { case (a, c) => a -> top(a, c) }
    // 4. the re-cut set: old nodes gaining a reversed new edge, over their
    // stored list ∪ those edges
    val recutRev = newEdges.toSeq
      .flatMap { case (a, l) => l.map(_._1).filterNot(bv.contains).map(_ -> a) }
      .groupMap(_._1)(_._2)
    fetch(Nil, recutRev.keys.flatMap(listOf))
    val oldEdges = recutRev.map { case (r, rev) => r -> top(r, listOf(r) ++ rev) }

    val out = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("nbr", LongType, nullable = false),
      StructField("rn", LongType, nullable = false), StructField("s", DoubleType)))
    val rows = (newEdges ++ oldEdges).toSeq.sortBy(_._1).flatMap { case (a, l) =>
      l.zipWithIndex.map { case ((b, s), i) => Row(a, b, i + 1L, s.map(Double.box).orNull) }
    }
    spark.createDataFrame(rows.asJava, out)
      .select(col("vec_id"), col("nbr"), col("rn"), round(col("s"), 6).as("sim"))
  }

  /** `vec_id` ∈ `ids`, as a hash-set lookup. A literal `IN` of thousands
    * of ids is pushed into the parquet scan, where it costs ≈ 40 µs a row
    * (measured on a 160,000-row graph relation: 7.0 s with a 20,000-id
    * `IN`, 0.5 s with this filter). */
  private[graft] def idIn(ids: Iterable[Long]): Column = {
    val s = ids.toSet
    udf((id: Long) => s.contains(id)).apply(col("vec_id"))
  }

  /** [[graft.functions.DotProduct]]'s loop: sequential double sum over the
    * shorter length — the same operations in the same order, so the same
    * bits. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** (id, score) in Spark's `ORDER BY s DESC, id` order: doubles by
    * `SQLOrderingUtil` (NaN largest, −0.0 = 0.0), a null score last. */
  private[operators] val byRank: Ordering[(Long, Option[Double])] = (a, b) => {
    val c = (a._2, b._2) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (x, y) => java.lang.Boolean.compare(x.isEmpty, y.isEmpty)
    }
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
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
    * never empty when the query's buckets are singletons. Seeding reads
    * the stored row of `excludeId`: its band keys, at the width
    * [[bitsFor]] derives from the sign relation's count, are the query's
    * buckets; without that row there are no LSH seeds.
    *
    * The walk's state is bounded — one query vector, a beam of `beam`
    * ids, a frontier of ≤ beam·k ids — so it lives on the driver and
    * every step is one narrow job selected by literal `IN` lists: no join,
    * no checkpoint, no persisted state. A step over an id set S collects
    * the union of S's index rows (exact cosine against the query literal,
    * [[graft.functions.VecExprs.cosineTo]], plus the `pred` flag) and S's
    * stored out-edges; on a bucketed graph the `IN` list prunes the read
    * to the touched buckets. Per hop the beam is the best `beam` visited
    * ids, the frontier their fetched neighbours not yet visited; an empty
    * frontier ends the walk early with the same answer. Jobs per call:
    * the query row, one count over the sign relation (map stage + result),
    * the LSH seed ids, the `beam` lowest ids, then one per scored set —
    * at most hops + 6, fewer when the walk stops early. Output: the best
    * `k` visited ids that satisfy `pred`, as a local relation.
    *
    * Contract: the call is EAGER (its jobs run here, the returned frame
    * is local); `vec_id` must be a key of `index`; `queryVec` holds at
    * most one `qv` row (none → empty result); the driver holds at most
    * |seeds| + hops·beam·k scored rows and k edges per scored row.
    *
    * Every score is the shared bit-exact cosine kernel; ranking is on raw
    * doubles in Spark's order (NaN largest, −0.0 = 0.0, null last), ties
    * → vec_id; round(6) display-only. The DuckDB mirror
    * ([[duckGraphSearch]]) rebuilds the graph in SQL ([[duckKnnGraph]]'s
    * CTE chain) and unrolls the walk hop by hop.
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
                  pred: Option[Column] = None,
                  signs: Option[DataFrame] = None): DataFrame = {
    val out = StructType(Seq(StructField("rank", LongType, nullable = false),
      StructField("vec_id", LongType), StructField("s", DoubleType)))
    def local(rows: Seq[Row]): DataFrame = index.sparkSession
      .createDataFrame(rows.asJava, out)
      .select(col("rank"), col("vec_id"), round(col("s"), 6).as("sim"))
    Knn.queryOf(queryVec, "graphSearch").fold(local(Nil)) { qv =>
      val sim = Knn.simTo(qv, col("ed"), sqrt(dotc(col("ed"), col("ed"))))
      val ok = pred.map(coalesce(_, lit(false))).getOrElse(lit(true))

      // seeds: the stored query row's band keys, as literals
      val sg = signs.getOrElse(signsOf(index, tables))
      val st = sg.agg(count(lit(1)),
        collect_set(when(col("vec_id") === excludeId, col("sgn")))).head()
      val bits = bitsFor(st.getLong(0), targetOcc)
      val sameBucket = st.getSeq[String](1)
        .flatMap(s => (0 until s.length / Block).map { t =>
          substring(col("sgn"), t * Block + 1, bits) ===
            s.substring(t * Block, math.min(s.length, t * Block + bits))
        }).reduceOption(_ || _)
      def ids(df: DataFrame): Seq[Long] = df.collect().toSeq.map(_.getLong(0))
      val lshSeeds = sameBucket.toSeq.flatMap(m =>
        ids(sg.filter(col("vec_id") =!= excludeId && m).select("vec_id")))
      val lowSeeds = ids(index.filter(col("vec_id") =!= excludeId)
        .select("vec_id").orderBy(asc("vec_id")).limit(beam))

      // driver state: id → (score, pred flag), id → fetched out-edges
      val visited = mutable.Map.empty[Long, (Option[Double], Boolean)]
      val nbrs = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
      def step(set: Seq[Long], withEdges: Boolean): Unit = {
        val vs = index.filter(col("vec_id").isin(set: _*) && col("vec_id") =!= excludeId)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"),
            ok.as("ok"))
          .select(col("vec_id"), sim.as("s"), col("ok"), lit(null).cast("long").as("nbr"))
        lazy val es = graph.filter(col("vec_id").isin(set: _*) && col("nbr") =!= excludeId)
          .select(col("vec_id"), lit(null).cast("double").as("s"),
            lit(null).cast("boolean").as("ok"), col("nbr"))
        (if (withEdges) vs.union(es) else vs).collect().foreach { r =>
          val id = r.getLong(0)
          if (r.isNullAt(2)) nbrs.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += r.getLong(3)
          else visited(id) = (if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))
        }
      }
      def best(n: Int, keep: Boolean => Boolean): Seq[(Long, Option[Double])] =
        visited.toSeq.collect { case (id, (s, f)) if keep(f) => (id, s) }
          .sorted(byRank).take(n)

      step((lshSeeds ++ lowSeeds).distinct, hops > 0)
      var h = 1
      while (h <= hops) {
        val frontier = best(beam, _ => true)
          .flatMap(b => nbrs.getOrElse(b._1, Nil)).distinct.filterNot(visited.contains)
        if (frontier.isEmpty) h = hops + 1
        else { step(frontier, h < hops); h += 1 }
      }
      local(best(k, identity).zipWithIndex.map { case ((id, s), i) =>
        Row(i + 1L, id, s.map(Double.box).orNull)
      })
    }
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
