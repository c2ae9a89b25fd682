package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VecExprs.{bestCentroid, dotc}

/** Distributed Lloyd k-means over the embedding column — the trainer the
  * quantization family's scaladocs point at ("a deployment trains k-means
  * offline and swaps the codebook", [[Knn.pqCodes]]; "re-train or split",
  * [[Knn.ivfStats]]). The reference never trains its index either (ChromaDB
  * default HNSW, /root/reference/coding_agent/tools/indexing_agent.py:61-72);
  * this engine closes its own documented gap instead: IVF and PQ can now run
  * on TRAINED structures, with the recall shift measured (SCALE.md), not
  * asserted.
  *
  * Algorithm: spherical assignment (argmax cosine, lowest-cid tiebreak — the
  * IDENTICAL [[graft.functions.BestCentroid]] semantics the IVF layout uses,
  * so a trained centroid relation is drop-in for [[Knn.topKIvfWith]]), then
  * per-cluster mean update; `iters` fixed rounds, deterministic init = the
  * `k` lowest-vec_id vectors (the same rule as the untrained
  * [[Knn.ivfAssign]] baseline, which makes trained-vs-untrained recall a
  * controlled comparison).
  *
  * Float discipline (the engine-exactness argument): per-dim cluster sums go
  * through order-free DECIMAL(38,12) (the eventStats/ivfStats moments
  * pattern — double addition is partition-order-sensitive, decimal is not);
  * the mean is `CAST(sum AS DOUBLE) / CAST(n AS DOUBLE)` — one IEEE division
  * of two deterministic operands — so the trained centroids, every
  * subsequent assignment, and the final report are bit-identical in Spark
  * and DuckDB. Empty clusters keep their previous centroid (left join +
  * coalesce), mirrored exactly in the oracle.
  *
  * Scale shape: each round is ONE corpus pass — a broadcast cross join of a
  * k-row centroid array (codegen'd BestCentroid, no per-row join fan-out)
  * feeding a posexplode→groupBy(cluster, d) partial-agged sum of k·dims
  * groups; no corpus-keyed window, no self-join, no driver collect. The
  * k-row centroid relation is `localCheckpoint(eager)`ed per round: without
  * the cut, round t's plan embeds round t-1's TWICE (assignment + the
  * empty-cluster fallback join), and lineage re-evaluation doubles per
  * round — O(2^T) corpus scans; with it, training is exactly T scans, the
  * textbook distributed-Lloyd cost. The checkpoint materializes k rows —
  * trivially small — and is an EAGER, self-contained step, so it follows the
  * StreamOps start()/stop() precedent (never mutates session conf, never
  * caches a corpus-cardinality relation; no broadcast-lock-in exposure
  * because only the k-row side is ever a build side).
  */
object KMeans {

  /** Train `k` centroids for `iters` Lloyd rounds.
    * Returns (cid: long, ce: array<double>, cn: double) — the
    * [[Knn.topKIvfWith]]/[[Knn.ivfAssignWith]] centroid-relation contract. */
  def train(index: DataFrame, k: Int = 16, iters: Int = 3): DataFrame = {
    val e = index.select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
    val cent0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("ed").as("ce"), col("nrm").as("cn"))
    lloyd(e.select(col("ed"), col("nrm")), cent0, iters)
  }

  /** The Lloyd loop over an arbitrary seed relation — lets callers whose
    * rows have no numeric vec_id (e.g. the code-elements index, string
    * ids) supply their own deterministic seeds. `e` needs (ed, nrm);
    * `cent0` needs (cid, ce, cn). Each round's checkpoint is released once
    * the next one is materialized; the last round's stays with the result,
    * for a caller that persists it to release ([[NnDescent.release]]). */
  private[graft] def lloyd(e: DataFrame, cent0: DataFrame, iters: Int): DataFrame = {
    var cent = cent0
    for (round <- 1 to iters) {
      val centArr = broadcast(
        cent.agg(collect_list(struct(col("cid"), col("ce"), col("cn"))).as("cents")))
      val asg = e.crossJoin(centArr)
        .withColumn("cluster", bestCentroid(col("cents"), col("ed"), col("nrm")))
      // Per-(cluster, dim) decimal sums; count(*) per (cluster, d) equals the
      // cluster's row count because every member contributes every dim.
      val upd = asg
        .select(col("cluster"), posexplode(col("ed")).as(Seq("d", "v")))
        .groupBy("cluster", "d")
        .agg(sum(col("v").cast("decimal(38,12)")).as("s"), count(lit(1)).as("n"))
        .withColumn("m", col("s").cast("double") / col("n").cast("double"))
        .groupBy("cluster")
        .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("dm"))
        // k-row relation: the interpreted transform lambda runs k times over
        // dims-length arrays — the sq8Scales bounded-HOF exemption.
        .select(col("cluster").as("ucid"),
          transform(col("dm"), x => x.getField("m")).as("uce"))
      val next = cent.join(upd, col("cid") === col("ucid"), "left")
        .select(col("cid"), coalesce(col("uce"), col("ce")).as("ce"))
        .withColumn("cn", sqrt(dotc(col("ce"), col("ce"))))
        .localCheckpoint(true)
      // the superseded round's checkpoint (never the caller's seeds)
      if (round > 1) NnDescent.release(cent)
      cent = next
    }
    cent
  }

  /** Post-training report — [[Knn.ivfStats]] over the TRAINED layout plus
    * the training objective: per-cell fill, mean/min member→centroid cosine
    * (order-free decimal sums), and the centroid norm (a trained spherical
    * centroid's norm < 1 measures cell spread directly). Deterministic
    * ORDER BY cluster. */
  def stats(index: DataFrame, cent: DataFrame): DataFrame = {
    val assigned = Knn.ivfAssignWith(index, cent)
    val cells = assigned
      .join(broadcast(cent), col("cluster") === col("cid"))
      .withColumn("csim",
        dotc(col("ed"), col("ce")) / (col("nrm") * col("cn")))
      .groupBy("cluster").agg(
        count(lit(1)).as("n_vecs"),
        sum(col("csim").cast("decimal(28,12)")).as("simsum"),
        min(col("csim")).as("mn"),
        min(col("cn")).as("cnorm"))
    cells.select(col("cluster"), col("n_vecs"),
      round(col("simsum").cast("double") / col("n_vecs").cast("double"), 6).as("mean_csim"),
      round(col("mn"), 6).as("min_csim"),
      round(col("cnorm"), 6).as("centroid_norm"))
      .orderBy(asc("cluster"))
  }

  /** The ONE DuckDB assignment-CTE generator — the oracle-side twin of
    * [[Knn.ivfAssignWith]]'s "both phases change together" rule: every
    * mirror that assigns vectors to centroids (training rounds, stats,
    * elbow, trained search, recall) generates this pair, so the tiebreak
    * and cosine tree can never drift between mirrors (review finding:
    * the block used to be copy-pasted four times).
    * Emits `$asgName` (ranked cross join) and `$outName`
    * (vec_id, label, embedding, cluster). */
  private[graft] def duckAssignCtes(table: String, centCte: String,
                                        asgName: String, outName: String): String = {
    import graft.functions.VectorFns.duckCosine
    s"""$asgName AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${duckCosine("e.embedding", "c.ce")} DESC, c.cid) AS crn
       |        FROM $table e CROSS JOIN $centCte c),
       |$outName AS (SELECT vec_id, label, embedding, cid AS cluster FROM $asgName WHERE crn = 1)""".stripMargin
  }

  /** Literal PQ fragments over a TRAINED codebook entry (dsub-length `ce`
    * list, aliases `p` = parts, `c` = codebook, `q` = query) — one
    * definition for training, the trained-search oracle, and the recall
    * oracle (review finding: three hand-maintained copies). */
  private[operators] def pqTrainedDistSql(dsub: Int): String =
    (1 to dsub).map(i =>
      s"(p.sv[$i]::DOUBLE - c.ce[$i]::DOUBLE) * (p.sv[$i]::DOUBLE - c.ce[$i]::DOUBLE)")
      .mkString(" + ")

  private[operators] def pqTrainedPdotSql(dsub: Int): String =
    (1 to dsub).map(i =>
      s"(q.qv[c.sub*$dsub+$i]::DOUBLE * c.ce[$i]::DOUBLE)").mkString(" + ")

  /** Choose-k sweep (the "elbow" input): train at each k, report one row
    * per k — cells occupied, objective (mean member→centroid cosine, via
    * order-free decimal sums), and fill spread (min/max cell size, the
    * probe-cost bound [[Knn.ivfStats]] tracks per cell). The tuning query
    * behind the ivfStats scaladoc's "re-train or split" advice: run on a
    * corpus sample, read where the objective flattens. Cost: Σ trainings
    * — deliberately a sample-scale query, like q_dedup_recall. */
  def elbow(index: DataFrame, ks: Seq[Int] = Seq(4, 8, 16, 32),
            iters: Int = 2): DataFrame = {
    // the per-k trainers are driver-side iterative loops (eager k-row
    // checkpoints per Lloyd round), so a sequential sweep serializes
    // 4 × iters small jobs — train the ks CONCURRENTLY (independent
    // lineages, the concurrent-maintenance-writes scheduling note)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val trained = ks.map(k => k -> Future(train(index, k, iters)))
      .map { case (k, f) => k -> Await.result(f, Duration.Inf) }
    trained.map { case (k, cent) =>
      val assigned = Knn.ivfAssignWith(index, cent)
      assigned
        .join(broadcast(cent), col("cluster") === col("cid"))
        .withColumn("csim",
          dotc(col("ed"), col("ce")) / (col("nrm") * col("cn")))
        .groupBy("cluster").agg(
          count(lit(1)).as("n"),
          sum(col("csim").cast("decimal(28,12)")).as("simsum"))
        .agg(
          count(lit(1)).as("n_cells"),
          sum(col("n")).as("n_vecs"),
          sum(col("simsum")).as("simsum"),
          min(col("n")).as("min_cell"),
          max(col("n")).as("max_cell"))
        .select(lit(k).as("k"), col("n_cells"),
          round(col("simsum").cast("double") / col("n_vecs").cast("double"), 6)
            .as("mean_csim"),
          col("min_cell"), col("max_cell"))
    }.reduce(_ unionByName _).orderBy("k")
  }

  /** DuckDB mirror of [[elbow]] — one prefixed train chain per k. */
  def duckElbowSql(table: String, ks: Seq[Int] = Seq(4, 8, 16, 32),
                   iters: Int = 2): String = {
    import graft.functions.VectorFns.duckCosine
    val chains = ks.map { k =>
      val p = s"k${k}_"
      duckTrainCtes(table, k, iters, p) + ",\n" +
        duckAssignCtes(table, s"${p}cent$iters", s"${p}fasg", s"${p}fa")
    }.mkString(",\n")
    val branches = ks.map { k =>
      val p = s"k${k}_"
      s"""SELECT $k::INTEGER AS k, count(*)::BIGINT AS n_cells,
         |       round(CAST(sum(simsum) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS mean_csim,
         |       min(n) AS min_cell, max(n) AS max_cell
         |FROM (
         |  SELECT cluster, count(*)::BIGINT AS n,
         |         sum(CAST(csim AS DECIMAL(28,12))) AS simsum
         |  FROM (
         |    SELECT fa.cluster, ${duckCosine("fa.embedding", "c.ce")} AS csim
         |    FROM ${p}fa fa
         |    JOIN ${p}cent$iters c ON fa.cluster = c.cid) w
         |  GROUP BY cluster) cells""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $chains
       |$branches
       |ORDER BY k""".stripMargin
  }

  // ------------------------------------------------------------ PQ trainer

  /** The PQ subvector relation (vec_id, sub, sv: array<double> of dsub) —
    * ONE construction shared by training, code assignment, and the oracle
    * mirrors, so the subspace slicing can never diverge between phases. */
  private[operators] def pqParts(index: DataFrame, m: Int, dsub: Int): DataFrame =
    index.select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .select(col("vec_id"), explode(array((0 until m).map(lit(_)): _*)).as("sub"), col("ed"))
      .select(col("vec_id"), col("sub"),
        slice(col("ed"), col("sub") * dsub + 1, lit(dsub)).as("sv"))

  /** Literal dsub-term L2² between the subvector and a codebook entry —
    * fixed index order, the [[Knn.pqCodes]] float discipline (an identical
    * expression tree in both engines). */
  private def l2Sub(dsub: Int) = (1 to dsub).map { i =>
    val d = element_at(col("sv"), i) - element_at(col("ce"), i)
    d * d
  }.reduce(_ + _)

  /** Assign every (vec_id, sub) to its nearest codebook entry — argmin L2²,
    * lowest-cid tiebreak: the PQ family's own assignment semantics
    * ([[Knn.pqCodes]]), against an INJECTED codebook (sub, cid, ce).
    * Output (vec_id, sub, cid, sv, ce) — the codes relation, with the
    * subvector and its assigned codebook entry. */
  private[operators] def pqAssignWith(parts: DataFrame, cent: DataFrame,
                                      dsub: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "sub").orderBy(asc("dist"), asc("cid"))
    parts.join(broadcast(cent), Seq("sub"))
      .withColumn("dist", l2Sub(dsub))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid"), col("sv"), col("ce"))
  }

  /** Per-subspace Lloyd trainer for PQ codebooks — [[train]]'s loop with
    * the subspace key carried through every stage and the PQ metric (L2²)
    * instead of cosine. Init: each subspace's codebook = the k lowest
    * vec_ids' own subvectors (exactly the untrained [[Knn.pqCodes]]
    * codebook, making trained-vs-untrained recall a controlled
    * comparison). Returns (sub: int, cid: long, ce: array<double>).
    *
    * Scale shape: identical to [[train]] per round — the codebook is an
    * m·k-row broadcast; the update is a posexplode→groupBy(sub, cluster, d)
    * partial-agged decimal sum over m·k·dsub groups; localCheckpoint per
    * round bounds lineage the same way. */
  def trainPq(index: DataFrame, m: Int = 8, dsub: Int = 8,
              k: Int = 16, iters: Int = 3): DataFrame = {
    val parts = pqParts(index, m, dsub)
    var cent = parts.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("ce"))
    for (_ <- 1 to iters) {
      val asg = pqAssignWith(parts, cent, dsub)
        .select(col("sub"), col("cid").as("cluster"), col("sv"))
      val upd = asg
        .select(col("sub"), col("cluster"), posexplode(col("sv")).as(Seq("d", "v")))
        .groupBy("sub", "cluster", "d")
        .agg(sum(col("v").cast("decimal(38,12)")).as("s"), count(lit(1)).as("n"))
        .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
        .groupBy("sub", "cluster")
        .agg(sort_array(collect_list(struct(col("d"), col("mu")))).as("dm"))
        .select(col("sub").as("usub"), col("cluster").as("ucid"),
          transform(col("dm"), x => x.getField("mu")).as("uce"))
      cent = cent.join(upd,
          col("sub") === col("usub") && col("cid") === col("ucid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("uce"), col("ce")).as("ce"))
        .localCheckpoint(true)
    }
    cent
  }

  /** DuckDB mirror of [[trainPq]]: CTE chain `pqt_cent0 … pqt_cent$iters`
    * keyed by sub throughout; same decimal-sum means, same empty-cell
    * coalesce. `pqt_parts` expects a `subs` CTE in scope is NOT assumed —
    * it generates its own series. */
  def duckTrainPqCtes(table: String, m: Int = 8, dsub: Int = 8,
                      k: Int = 16, iters: Int = 3): String = {
    val distTerms = pqTrainedDistSql(dsub)
    val init =
      s"""pqt_subs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),
         |pqt_parts AS (SELECT e.vec_id, s.sub,
         |                     list_slice(e.embedding, s.sub*$dsub+1, s.sub*$dsub+$dsub) AS sv
         |              FROM $table e CROSS JOIN pqt_subs s),
         |pqt_cent0 AS (SELECT sub, vec_id AS cid, list_transform(sv, x -> x::DOUBLE) AS ce
         |              FROM pqt_parts WHERE vec_id < $k)""".stripMargin
    val rounds = (1 to iters).map { t =>
      val p = s"pqt_cent${t - 1}"
      s"""pqt_asg$t AS (SELECT p.vec_id, p.sub, p.sv, c.cid,
         |                row_number() OVER (PARTITION BY p.vec_id, p.sub
         |                  ORDER BY ($distTerms) ASC, c.cid) AS rn
         |              FROM pqt_parts p JOIN $p c USING (sub)),
         |pqt_a$t AS (SELECT sub, cid AS cluster, sv FROM pqt_asg$t WHERE rn = 1),
         |pqt_x$t AS (SELECT sub, cluster, generate_subscripts(sv, 1) AS d, unnest(sv) AS v
         |            FROM pqt_a$t),
         |pqt_u$t AS (SELECT sub, cluster, d,
         |                   sum(CAST(v::DOUBLE AS DECIMAL(38,12))) AS s, count(*) AS n
         |            FROM pqt_x$t GROUP BY sub, cluster, d),
         |pqt_uc$t AS (SELECT sub, cluster AS cid,
         |                    list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY d) AS ce
         |             FROM pqt_u$t GROUP BY sub, cluster),
         |pqt_cent$t AS (SELECT p.sub, p.cid, COALESCE(u.ce, p.ce) AS ce
         |               FROM $p p LEFT JOIN pqt_uc$t u
         |                 ON p.sub = u.sub AND p.cid = u.cid)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** DuckDB mirror of [[train]]: the CTE chain `cent0 … cent$iters`, each
    * round = proven q_knn_ivf assignment CTEs against the previous round's
    * centroids + the decimal-sum mean update + the empty-cluster coalesce.
    * The caller composes `cent$iters` exactly where the untrained mirrors
    * use their `cent` CTE. */
  def duckTrainCtes(table: String, k: Int = 16, iters: Int = 3,
                    prefix: String = ""): String = {
    val init =
      s"""${prefix}cent0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
         |          FROM $table WHERE vec_id < $k)""".stripMargin
    duckTrainCtesFrom(table, init, iters, prefix)
  }

  /** [[duckTrainCtes]] with a caller-supplied `cent0` CTE — the seeding
    * seam ([[duckSeedCtes]] plugs the farthest-first chain in here). */
  private def duckTrainCtesFrom(table: String, init: String, iters: Int,
                                prefix: String = ""): String = {
    import graft.functions.VectorFns.duckCosine
    val rounds = (1 to iters).map { t =>
      val p = s"${prefix}cent${t - 1}"
      s"""${duckAssignCtes(table, p, s"${prefix}asg$t", s"${prefix}a$t")},
         |${prefix}x$t AS (SELECT cluster, generate_subscripts(embedding, 1) AS d, unnest(embedding) AS v
         |        FROM ${prefix}a$t),
         |${prefix}u$t AS (SELECT cluster, d, sum(CAST(v::DOUBLE AS DECIMAL(38,12))) AS s, count(*) AS n
         |        FROM ${prefix}x$t GROUP BY cluster, d),
         |${prefix}uc$t AS (SELECT cluster AS cid,
         |                list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY d) AS ce
         |         FROM ${prefix}u$t GROUP BY cluster),
         |${prefix}cent$t AS (SELECT p.cid, COALESCE(u.ce, p.ce) AS ce
         |           FROM $p p LEFT JOIN ${prefix}uc$t u ON p.cid = u.cid)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** Deterministic k-means++-style seeding — farthest-first traversal
    * (Gonzalez 1985, the k-center 2-approximation; the deterministic
    * member of the k-means++ family, trading the D² random draw for the
    * argmax): seed 1 is the md5-ranked "random" pick, each next seed the
    * vector MINIMIZING its best cosine to the chosen set (i.e. the
    * farthest point spherically), ties to the lowest vec_id. Exactly
    * mirrored in SQL ([[duckSeedCtes]]) — the md5 rank, the greatest()
    * over per-seed cosines, and the tiebreak are all engine-exact — so a
    * trained-from-farthest-seeds layout is oracle-gateable end to end.
    *
    * Scale shape: k driver rounds, each ONE corpus pass (broadcast seed
    * literals folded into the scan projection) ending in a
    * TakeOrderedAndProject of ONE row — the sanctioned global top-k; the
    * collected state is k rows (facade tolerance). An offline trainer
    * step, like [[train]] itself.
    *
    * Returns (cid = 0..k-1 in pick order, ce, cn). */
  def seedsFarthest(index: DataFrame, k: Int): DataFrame = {
    val spark = index.sparkSession
    // cached: the k sequential farthest-first picks each rescan this
    // relation (16 parquet scans + norm recomputes otherwise; round-13).
    // No join consumes it — TakeOrdered only — so there is no broadcast
    // lock-in exposure; released before returning.
    val e = index.select(col("vec_id"),
        col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .cache()
    case class Seed(id: Long, ed: Seq[Double], nrm: Double)
    def of(r: org.apache.spark.sql.Row) =
      Seed(r.getLong(0), r.getSeq[Double](1), r.getDouble(2))
    val first = of(e
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), asc("vec_id"))
      .limit(1).select("vec_id", "ed", "nrm").head())
    val picked = scala.collection.mutable.ArrayBuffer(first)
    while (picked.length < k) {
      val sims = picked.map(s =>
        dotc(col("ed"), typedlit(s.ed)) / (col("nrm") * lit(s.nrm)))
      val best = if (sims.size == 1) sims.head else greatest(sims.toSeq: _*)
      picked += of(e
        .filter(!col("vec_id").isin(picked.map(_.id).toSeq: _*))
        .withColumn("ms", best)
        .orderBy(asc("ms"), asc("vec_id"))
        .limit(1).select("vec_id", "ed", "nrm").head())
    }
    import spark.implicits._
    e.unpersist()
    picked.toSeq.zipWithIndex
      .map { case (s, i) => (i.toLong, s.ed, s.nrm) }
      .toDF("cid", "ce", "cn")
  }

  /** [[train]] from [[seedsFarthest]] — same Lloyd loop, seeded spread-out
    * instead of by lowest vec_id; objective/coherence shift vs the
    * baseline init is measured through [[stats]] (q_kmeans_pp). */
  def trainFarthest(index: DataFrame, k: Int = 16, iters: Int = 3): DataFrame = {
    val e = index.select(col("embedding").cast("array<double>").as("ed"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
    lloyd(e, seedsFarthest(index, k).localCheckpoint(true), iters)
  }

  /** DuckDB mirror of [[seedsFarthest]]: k chained one-row CTEs, each an
    * ORDER BY greatest(cosines-to-chosen) ASC, vec_id LIMIT 1 — emits
    * `${prefix}cent0` (cid, ce) for [[duckTrainCtesFrom]]. */
  private def duckSeedCtes(table: String, k: Int, prefix: String = ""): String = {
    import graft.functions.VectorFns.duckCosine
    val ctes = (1 to k).map { i =>
      if (i == 1)
        s"""${prefix}fs1 AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ce, embedding
           |       FROM $table ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 1)""".stripMargin
      else {
        val froms = (1 until i).map(j => s"${prefix}fs$j s$j").mkString(", ")
        val notIn = (1 until i).map(j => s"t.vec_id <> s$j.vec_id").mkString(" AND ")
        val coss = (1 until i).map(j => duckCosine("t.embedding", s"s$j.embedding"))
        val ms = if (coss.size == 1) coss.head else coss.mkString("greatest(", ", ", ")")
        s"""${prefix}fs$i AS MATERIALIZED (SELECT t.vec_id, list_transform(t.embedding, x -> x::DOUBLE) AS ce, t.embedding
           |       FROM $table t, $froms WHERE $notIn
           |       ORDER BY $ms ASC, t.vec_id LIMIT 1)""".stripMargin
      }
    }
    val union = (1 to k).map(i =>
      s"SELECT ${i - 1}::BIGINT AS cid, ce FROM ${prefix}fs$i").mkString("\n       UNION ALL ")
    s"""${ctes.mkString(",\n")},
       |${prefix}cent0 AS ($union)""".stripMargin
  }

  /** DuckDB mirror of [[stats]] over a farthest-seeded training run. */
  def duckStatsPpSql(table: String, k: Int = 16, iters: Int = 3): String = {
    import graft.functions.VectorFns.{duckCosine, duckNorm}
    s"""WITH ${duckSeedCtes(table, k)},
       |${duckTrainCtesFrom(table, "__ppseed_marker__", iters)},
       |cent AS (SELECT cid, ce, ${duckNorm("ce")} AS cn FROM cent$iters),
       |${duckAssignCtes(table, "cent", "fasg", "fa")},
       |w AS (SELECT fa.cluster, ${duckCosine("fa.embedding", "c.ce")} AS csim, c.cn
       |      FROM fa JOIN cent c ON fa.cluster = c.cid),
       |cells AS (SELECT cluster, count(*)::BIGINT AS n_vecs,
       |                 sum(CAST(csim AS DECIMAL(28,12))) AS simsum,
       |                 min(csim) AS mn, min(cn) AS cnorm
       |          FROM w GROUP BY cluster)
       |SELECT cluster, n_vecs,
       |       round(CAST(simsum AS DOUBLE) / n_vecs::DOUBLE, 6) AS mean_csim,
       |       round(mn, 6) AS min_csim,
       |       round(cnorm, 6) AS centroid_norm
       |FROM cells ORDER BY cluster""".stripMargin
      .replace("__ppseed_marker__,\n", "") // cent0 already emitted by the seed chain
  }

  /** DuckDB mirror of [[stats]] over [[duckTrainCtes]]'s final centroids. */
  def duckStatsSql(table: String, k: Int = 16, iters: Int = 3): String = {
    import graft.functions.VectorFns.{duckCosine, duckNorm}
    s"""WITH ${duckTrainCtes(table, k, iters)},
       |cent AS (SELECT cid, ce, ${duckNorm("ce")} AS cn FROM cent$iters),
       |${duckAssignCtes(table, "cent", "fasg", "fa")},
       |w AS (SELECT fa.cluster, ${duckCosine("fa.embedding", "c.ce")} AS csim, c.cn
       |      FROM fa JOIN cent c ON fa.cluster = c.cid),
       |cells AS (SELECT cluster, count(*)::BIGINT AS n_vecs,
       |                 sum(CAST(csim AS DECIMAL(28,12))) AS simsum,
       |                 min(csim) AS mn, min(cn) AS cnorm
       |          FROM w GROUP BY cluster)
       |SELECT cluster, n_vecs,
       |       round(CAST(simsum AS DOUBLE) / n_vecs::DOUBLE, 6) AS mean_csim,
       |       round(mn, 6) AS min_csim,
       |       round(cnorm, 6) AS centroid_norm
       |FROM cells ORDER BY cluster""".stripMargin
  }
}
