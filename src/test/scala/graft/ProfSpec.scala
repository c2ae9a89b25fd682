package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every [[Prof]] scenario compiles against the engine it profiles and runs
  * end to end: one smallest-argument run each on sf0.001, artifacts under a
  * temp dir, asserting the result lines the scenario exists to print. */
class ProfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(scenario: String, args: String*): Seq[String] = {
    val work = java.nio.file.Files.createTempDirectory(s"graft_prof_$scenario").toString
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Prof.scenarios(scenario)(spark, Seq(TestSpark.sf, work) ++ args)
    }
    spark.sharedState.cacheManager.clearCache()
    out.toString("UTF-8").linesIterator.filter(_.startsWith(s"[$scenario]")).toSeq
  }

  test("graph-incr: one batch per pass reports wall, bytes written and touched buckets") {
    val lines = run("graph-incr", "1")
    for (pass <- 1 to 2) {
      assert(lines.exists(_.startsWith(s"[graph-incr] pass $pass writeBase(n=")), lines)
      assert(lines.exists(_.matches(
        s"""\\[graph-incr\\] pass $pass batch 0 \\(\\d+ vecs\\): .* s, wrote \\d+ KiB of \\d+ KiB live \\(\\d+ touched buckets\\)""")),
        lines)
      assert(lines.exists(_.startsWith(s"[graph-incr] pass $pass final read: ")), lines)
    }
    assert(lines.size == 6, lines)
  }

  test("pairs-phase: one rep times every phase of the incremental pair chain") {
    val lines = run("pairs-phase", "1")
    val phases = Seq("writeIndexed (90% slice)", "upsert (10% batch)",
      "batch pipeline alone (noop)", "probe-only vs stored index (noop)", "compact",
      "read + orderBy (toRdd.count)")
    assert(lines.head == "[pairs-phase] rep 1", lines)
    phases.foreach(p => assert(lines.exists(_.startsWith(s"[pairs-phase] $p: ")), lines))
    assert(lines.size == 1 + phases.size, lines)
  }

  test("graph-sweep: one (beam, hops) pair reports recall@10 in [0, 1] and a warm wall") {
    val lines = run("graph-sweep", "8", "3")
    assert(lines.head.startsWith("[graph-sweep] graph artifact: "), lines)
    val Sweep = """\[graph-sweep\] beam= 8 hops=3 recall@10=([0-9.]+) warm=([0-9.]+) s""".r
    val recalls = lines.collect { case Sweep(r, _) => r.toDouble }
    assert(recalls.size == 1, lines)
    assert(recalls.head >= 0.0 && recalls.head <= 1.0)
  }
}
