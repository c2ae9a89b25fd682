package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.TestSpark.jobsOf
import graft.functions.VectorFns.{signBucket, signBucketAt}
import graft.functions.VecExprs.{bestCentroid, dotc, rpProject}

/** The single-query kNN entries (candidates → exact rescore → rank, the
  * query a driver literal) against [[JoinedKnn]], the formulation that
  * joined a broadcast one-row query relation into every plan: row for row,
  * schema names and types, with exact score ties in the results. */
class KnnSingleQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb = Tables.embeddings(spark, TestSpark.sf)
  // every vector twice (ids shifted by 100,000), so each score appears at
  // least twice and the vec_id tie-break decides the order of every pair
  private lazy val index = emb.unionByName(emb.withColumn("vec_id", col("vec_id") + 100000L))
    .localCheckpoint(true)
  private lazy val lastId = index.agg(max("vec_id")).head().getLong(0)
  private lazy val pqBook = KMeans.trainPq(index, iters = 2)
  private lazy val ivfCent = KMeans.train(index, k = 8, iters = 1)

  private def qv(id: Long): DataFrame =
    index.filter(col("vec_id") === id).select(col("embedding").as("qv"))

  /** (entry name, new formulation, joined formulation) over (query, excludeId). */
  private type Entry = (DataFrame, Option[Long]) => DataFrame
  private lazy val entries: Seq[(String, Entry, Entry)] = Seq(
    ("topK", (q, x) => Knn.topK(index, q, 10, excludeId = x),
      (q, x) => JoinedKnn.topK(index, q, 10, excludeId = x)),
    ("topK pred", (q, x) => Knn.topK(index, q, 5, pred = Some(col("label") === 3), excludeId = x),
      (q, x) => JoinedKnn.topK(index, q, 5, pred = Some(col("label") === 3), excludeId = x)),
    ("topKLsh", (q, _) => Knn.topKLsh(index, q, 10, bits = 4),
      (q, _) => JoinedKnn.topKLsh(index, q, 10, bits = 4)),
    ("topKLshMultiprobe", (q, _) => Knn.topKLshMultiprobe(index, q, 10, bits = 4),
      (q, _) => JoinedKnn.topKLshMultiprobe(index, q, 10, bits = 4)),
    ("topKLshBanded", (q, _) => Knn.topKLshBanded(index, q, 10, bandBits = 4, tables = 16),
      (q, _) => JoinedKnn.topKLshBanded(index, q, 10, bandBits = 4, tables = 16)),
    ("topKIvf", (q, x) => Knn.topKIvf(index, q, 10, numCentroids = 16, nprobe = 4, excludeId = x),
      (q, x) => JoinedKnn.topKIvf(index, q, 10, numCentroids = 16, nprobe = 4, excludeId = x)),
    ("topKIvfWith", (q, x) => Knn.topKIvfWith(index, ivfCent, q, 10, nprobe = 3, excludeId = x),
      (q, x) => JoinedKnn.topKIvfWith(index, ivfCent, q, 10, nprobe = 3, excludeId = x)),
    ("topKSq8", (q, x) => Knn.topKSq8(index, q, 10, excludeId = x),
      (q, x) => JoinedKnn.topKSq8(index, q, 10, excludeId = x)),
    ("topKIvfSq8", (q, x) => Knn.topKIvfSq8(index, q, 10, excludeId = x),
      (q, x) => JoinedKnn.topKIvfSq8(index, q, 10, excludeId = x)),
    ("topKRp", (q, x) => Knn.topKRp(index, q, 10, excludeId = x),
      (q, x) => JoinedKnn.topKRp(index, q, 10, excludeId = x)),
    ("topKPq", (q, x) => Knn.topKPq(index, q, 10, excludeId = x),
      (q, x) => JoinedKnn.topKPq(index, q, 10, excludeId = x)),
    ("topKPqTrained", (q, x) => Knn.topKPqTrained(index, q, 10, excludeId = x, centOpt = Some(pqBook)),
      (q, x) => JoinedKnn.topKPqTrained(index, q, 10, excludeId = x, centOpt = Some(pqBook))))

  private def sameResult(what: String, got: DataFrame, want: DataFrame): Unit = {
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(got) == fields(want), what)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"$what\n got: ${g.mkString(" ")}\nwant: ${w.mkString(" ")}")
  }

  test("every entry equals the joined formulation: ids 0, 7 and the last, exclusions, ties") {
    for ((name, mk, joined) <- entries; id <- Seq(0L, 7L, lastId);
         x <- Seq(Some(id), Some(-5L))) {
      sameResult(s"$name q=$id exclude=$x", mk(qv(id), x), joined(qv(id), x))
    }
    // ties reach the results: some returned pair shares a score
    val sims = Knn.topK(index, qv(7L), 10).collect().map(_.getAs[Double]("sim"))
    assert(sims.distinct.length < sims.length, sims.mkString(" "))
  }

  test("topKPqTrained retrains in-query the same way") {
    sameResult("topKPqTrained iters=1",
      Knn.topKPqTrained(index, qv(7L), 10, iters = 1, excludeId = Some(7L)),
      JoinedKnn.topKPqTrained(index, qv(7L), 10, iters = 1, excludeId = Some(7L)))
  }

  test("no query row gives an empty result; a null qv scores null; two rows fail the require") {
    val none = qv(-1L)
    val nul = index.limit(1).select(lit(null).cast("array<float>").as("qv"))
    val two = index.filter(col("vec_id") < 2).select(col("embedding").as("qv"))
    for ((name, mk, joined) <- entries) {
      sameResult(s"$name, no query row", mk(none, Some(0L)), joined(none, Some(0L)))
      sameResult(s"$name, null qv", mk(nul, Some(0L)), joined(nul, Some(0L)))
      val e = intercept[IllegalArgumentException](mk(two, Some(0L)))
      assert(e.getMessage.contains(s"${name.split(' ').head} takes one query row, got 2"),
        e.getMessage)
    }
  }

  // the query collect and the ranking scan: a broadcast query relation
  // joined back in would add a job
  test("topK runs two jobs") {
    var n = 0
    assert(jobsOf { n = Knn.topK(index, qv(0L), 10, excludeId = Some(0L)).collect().length } == 2)
    assert(n == 10)
  }

  test("topKLshBanded runs two jobs") {
    var n = 0
    assert(jobsOf {
      n = Knn.topKLshBanded(index, qv(0L), 10, bandBits = 4, tables = 16).collect().length
    } == 2)
    assert(n == 10)
  }
}

/** The single-query entries as they were written before the query became a
  * driver literal: the one-row query relation broadcast and joined in, the
  * rank tail copied per entry. Kept as the parity oracle. */
object JoinedKnn {
  private def prep(index: DataFrame, prefix: String): DataFrame = {
    val ed = col("embedding").cast("array<double>")
    index.select(col("vec_id").as(s"${prefix}id"), ed.as(s"${prefix}e"),
      sqrt(dotc(ed, ed)).as(s"${prefix}n"))
  }
  private def sim(e1: Column, n1: Column, e2: Column, n2: Column): Column =
    dotc(e1, e2) / (n1 * n2)
  private def centroids(index: DataFrame, numCentroids: Int): DataFrame =
    prep(index.filter(col("vec_id") < numCentroids), "c")

  def topK(index: DataFrame, queryVec: DataFrame, k: Int,
           pred: Option[Column] = None, excludeId: Option[Long] = None): DataFrame = {
    val filtered0 = pred.map(index.filter).getOrElse(index)
    val filtered = excludeId.map(id => filtered0.filter(col("vec_id") =!= id)).getOrElse(filtered0)
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val ed = col("embedding").cast("array<double>")
    filtered
      .withColumn("ed", ed)
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim_raw"), 6).as("sim"))
  }

  def topKLsh(index: DataFrame, queryVec: DataFrame, k: Int, bits: Int): DataFrame = {
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
      .withColumn("qbucket", signBucket(col("qe"), bits))
    index
      .withColumn("bucket", signBucket(col("embedding"), bits))
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("bucket"), round(col("sim_raw"), 6).as("sim"))
  }

  def topKLshMultiprobe(index: DataFrame, queryVec: DataFrame, k: Int, bits: Int): DataFrame = {
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
      .withColumn("qbucket", signBucket(col("qe"), bits))
    val flips = Knn.bitFlips(col("qbucket"), bits).map(f =>
      struct(f.as("pbucket"), lit(1L).as("pdist")))
    val home = struct(col("qbucket").as("pbucket"), lit(0L).as("pdist"))
    val probes = q.select(col("qe"), col("qn"),
        explode(array(home +: flips: _*)).as("p"))
      .select(col("qe"), col("qn"), col("p.pbucket"), col("p.pdist"))
    index
      .withColumn("bucket", signBucket(col("embedding"), bits))
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .join(broadcast(probes), col("bucket") === col("pbucket"))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("bucket"), col("pdist").as("probe_dist"),
        round(col("sim_raw"), 6).as("sim"))
  }

  def topKLshBanded(index: DataFrame, queryVec: DataFrame, k: Int,
                    bandBits: Int, tables: Int): DataFrame = {
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val qprobes = q.select(
      posexplode(array((0 until tables).map(t =>
        signBucketAt(col("qe"), t * bandBits, bandBits)): _*)).as(Seq("pt", "pbucket")))
    val bands = index.select(col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        signBucketAt(col("embedding"), t * bandBits, bandBits)): _*)).as(Seq("t", "bucket")))
    val cand = bands
      .join(broadcast(qprobes), col("t") === col("pt") && col("bucket") === col("pbucket"))
      .select("vec_id").distinct()
    index
      .join(cand, Seq("vec_id"), "left_semi")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim_raw"), 6).as("sim"))
  }

  def ivfAssignWith(index: DataFrame, cent: DataFrame): DataFrame = {
    val e = index
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
    val centArr = broadcast(
      cent.agg(collect_list(struct(col("cid"), col("ce"), col("cn"))).as("cents")))
    e.crossJoin(centArr)
      .withColumn("cluster", bestCentroid(col("cents"), col("ed"), col("nrm")))
      .select(col("vec_id"), col("label"), col("ed"), col("nrm"), col("cluster"))
  }

  def topKIvf(index: DataFrame, queryVec: DataFrame, k: Int,
              numCentroids: Int, nprobe: Int, excludeId: Option[Long] = None): DataFrame =
    topKIvfWith(index, centroids(index, numCentroids), queryVec, k, nprobe, excludeId)

  def topKIvfWith(index: DataFrame, cent: DataFrame, queryVec: DataFrame, k: Int,
                  nprobe: Int, excludeId: Option[Long] = None): DataFrame = {
    val assigned = ivfAssignWith(index, cent)
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val probes = cent.crossJoin(broadcast(q))
      .withColumn("qsim", sim(col("ce"), col("cn"), col("qe"), col("qn")))
      .orderBy(desc("qsim"), asc("cid"))
      .limit(nprobe)
      .select(col("cid").as("pcid"), col("qe"), col("qn"))
    val candidates0 = assigned.join(broadcast(probes), col("cluster") === col("pcid"))
    val candidates = excludeId.map(id => candidates0.filter(col("vec_id") =!= id)).getOrElse(candidates0)
    candidates
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cluster"), round(col("sim_raw"), 6).as("sim"))
  }

  def topKSq8(index: DataFrame, queryVec: DataFrame, k: Int,
              candMultiple: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val e0 = excludeId.map(id => index.filter(col("vec_id") =!= id)).getOrElse(index)
    val scales = Knn.sq8Scales(index)
    val q = Knn.sq8Codes(
      queryVec.select(col("qv").cast("array<double>").as("ed"))
        .withColumn("qn", sqrt(dotc(col("ed"), col("ed")))), scales)
      .select(col("ed").as("qe"), col("qn"),
        col("code").as("qcode"), col("cnq").as("qcnq"))
    val cands = Knn.sq8Codes(
      e0.withColumn("ed", col("embedding").cast("array<double>")), scales)
      .crossJoin(broadcast(q.select(col("qcode"), col("qcnq"))))
      .withColumn("simq_raw", sim(col("code"), col("cnq"), col("qcode"), col("qcnq")))
      .orderBy(desc("simq_raw"), asc("vec_id"))
      .limit(k * candMultiple)
      .select(col("vec_id"))
    e0.withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .join(broadcast(cands), Seq("vec_id"))
      .crossJoin(broadcast(q.select(col("qe"), col("qn"))))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim_raw"), 6).as("sim"))
  }

  def topKIvfSq8(index: DataFrame, queryVec: DataFrame, k: Int,
                 numCentroids: Int = 16, nprobe: Int = 4,
                 candMultiple: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val cent = centroids(index, numCentroids)
    val scales = Knn.sq8Scales(index)
    val q0 = queryVec.select(col("qv").cast("array<double>").as("ed"))
      .withColumn("qn", sqrt(dotc(col("ed"), col("ed"))))
    val qc = Knn.sq8Codes(q0, scales)
      .select(col("ed").as("qe"), col("qn"),
        col("code").as("qcode"), col("cnq").as("qcnq"))
    val probes = cent
      .crossJoin(broadcast(q0.select(col("ed").as("qe"), col("qn"))))
      .withColumn("qsim", sim(col("ce"), col("cn"), col("qe"), col("qn")))
      .orderBy(desc("qsim"), asc("cid"))
      .limit(nprobe)
      .select(col("cid").as("pcid"))
    val assigned = ivfAssignWith(index, cent)
    val e0 = excludeId.map(id => assigned.filter(col("vec_id") =!= id)).getOrElse(assigned)
    val probed = e0.join(broadcast(probes), col("cluster") === col("pcid"))
    val cands = Knn.sq8Codes(probed, scales)
      .crossJoin(broadcast(qc.select(col("qcode"), col("qcnq"))))
      .withColumn("simq_raw", sim(col("code"), col("cnq"), col("qcode"), col("qcnq")))
      .orderBy(desc("simq_raw"), asc("vec_id"))
      .limit(k * candMultiple)
      .select(col("vec_id"))
    probed.join(broadcast(cands), Seq("vec_id"))
      .crossJoin(broadcast(qc.select(col("qe"), col("qn"))))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cluster"),
        round(col("sim_raw"), 6).as("sim"))
  }

  def topKRp(index: DataFrame, queryVec: DataFrame, k: Int,
             rdim: Int = 16, dim: Int = 64,
             candMultiple: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val signs = Knn.rpSigns(rdim, dim)
    val e0 = excludeId.map(id => index.filter(col("vec_id") =!= id)).getOrElse(index)
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
      .withColumn("qrp", rpProject(col("qe"), signs))
      .withColumn("qrn", sqrt(dotc(col("qrp"), col("qrp"))))
    val cands = e0
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("rp", rpProject(col("ed"), signs))
      .withColumn("rn", sqrt(dotc(col("rp"), col("rp"))))
      .crossJoin(broadcast(q.select(col("qrp"), col("qrn"))))
      .withColumn("simr_raw", sim(col("rp"), col("rn"), col("qrp"), col("qrn")))
      .orderBy(desc("simr_raw"), asc("vec_id"))
      .limit(k * candMultiple)
      .select(col("vec_id"))
    e0.withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .join(broadcast(cands), Seq("vec_id"))
      .crossJoin(broadcast(q.select(col("qe"), col("qn"))))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim_raw"), 6).as("sim"))
  }

  def topKPq(index: DataFrame, queryVec: DataFrame, k: Int,
             m: Int = 8, dsub: Int = 8, ncent: Int = 16,
             candMultiple: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val e0 = excludeId.map(id => index.filter(col("vec_id") =!= id)).getOrElse(index)
    val codes0 = Knn.pqCodes(index, m, dsub, ncent)
    val codes = excludeId.map(id => codes0.filter(col("vec_id") =!= id)).getOrElse(codes0)
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val cent = index.filter(col("vec_id") < ncent)
      .withColumn("ced", col("embedding").cast("array<double>"))
      .select(col("vec_id").as("cid"), col("ced"),
        explode(array((0 until m).map(lit(_)): _*)).as("sub"))
    val pdot = (1 to dsub).map { i =>
      element_at(col("qe"), (col("sub") * dsub + i).cast("int")) *
        element_at(col("ced"), (col("sub") * dsub + i).cast("int"))
    }.reduce(_ + _)
    val qtab = cent.crossJoin(broadcast(q.select("qe")))
      .withColumn("pdot", pdot)
      .select(col("sub"), col("cid"), col("pdot"))
    pqTail(e0, codes, qtab, q, k, m, candMultiple)
  }

  def topKPqTrained(index: DataFrame, queryVec: DataFrame, k: Int,
                    m: Int = 8, dsub: Int = 8, ncent: Int = 16, iters: Int = 3,
                    candMultiple: Int = 4, excludeId: Option[Long] = None,
                    centOpt: Option[DataFrame] = None): DataFrame = {
    val e0 = excludeId.map(id => index.filter(col("vec_id") =!= id)).getOrElse(index)
    val cent = centOpt.getOrElse(KMeans.trainPq(index, m, dsub, ncent, iters))
    val parts = KMeans.pqParts(index, m, dsub)
    val codes0 = KMeans.pqAssignWith(parts, cent, dsub)
      .select(col("vec_id"), col("sub"), col("cid"))
    val codes = excludeId.map(id => codes0.filter(col("vec_id") =!= id)).getOrElse(codes0)
    val q = queryVec.select(col("qv").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dotc(col("qe"), col("qe"))))
    val pdot = (1 to dsub).map { i =>
      element_at(col("qe"), (col("sub") * dsub + i).cast("int")) *
        element_at(col("ce"), i)
    }.reduce(_ + _)
    val qtab = cent.crossJoin(broadcast(q.select("qe")))
      .withColumn("pdot", pdot)
      .select(col("sub"), col("cid"), col("pdot"))
    pqTail(e0, codes, qtab, q, k, m, candMultiple)
  }

  /** The ADC pivot ranking and exact re-rank, as both PQ entries wrote it. */
  private def pqTail(e0: DataFrame, codes: DataFrame, qtab: DataFrame, q: DataFrame,
                     k: Int, m: Int, candMultiple: Int): DataFrame = {
    val pivots = (0 until m).map(s =>
      max(when(col("sub") === s, col("pdot"))).as(s"p$s"))
    val cands = codes.join(broadcast(qtab), Seq("sub", "cid"))
      .groupBy("vec_id").agg(pivots.head, pivots.tail: _*)
      .withColumn("adot", (0 until m).map(s => col(s"p$s")).reduce(_ + _))
      .orderBy(desc("adot"), asc("vec_id"))
      .limit(k * candMultiple)
      .select(col("vec_id"))
    e0.withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(dotc(col("ed"), col("ed"))))
      .join(broadcast(cands), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", sim(col("ed"), col("nrm"), col("qe"), col("qn")))
      .orderBy(desc("sim_raw"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim_raw"), 6).as("sim"))
  }
}
