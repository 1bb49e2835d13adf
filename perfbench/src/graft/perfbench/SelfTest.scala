package graft.perfbench

import graft.model.Span

/** Checks of the benchmark itself, on a small window:
  *  - the same seed gives the same corpus digest, another seed another window;
  *  - a corrupted output span fails the extraction sample check;
  *  - a wrong digest fails the query check.
  * Prints one line per case and exits non-zero if any case fails. */
object SelfTest {
  def run(work: String, data: String, expectedPath: String): Unit = {
    val results = scala.collection.mutable.Buffer.empty[(String, Boolean)]
    def expect(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Exception => System.err.println(s"[selftest] $name: $e"); false }
      println(s"[selftest] ${if (r) "ok  " else "FAIL"} $name")
      results += name -> r
    }

    val n = 2000
    val a = new Extraction(work, 7, n, Main.cores)
    expect("same seed, same corpus digest")(a.corpusDigest == new Extraction(work, 7, n, Main.cores).corpusDigest)
    val b = new Extraction(work, 8, n, Main.cores)
    expect("other seed, other window")(b.first != a.first && b.corpusDigest != a.corpusDigest)

    val spark = Main.session(work)
    try {
      a.materialise(spark)
      a.restore(resume = false)
      val r = a.run(spark)
      expect("clean run reconciles")(a.reconcile(spark, r, resume = false).forall(_.ok))
      val got = a.sampleOutput(spark)
      expect("clean output passes the sample check")(got.nonEmpty && a.sampleChecks(got).forall(_.ok))
      val victim = got.indexWhere(_.spans.nonEmpty)
      val bad = got.updated(victim, got(victim).copy(spans =
        got(victim).spans.updated(0, Span("text", got(victim).spans.head.text + "x", "", 0))))
      expect("corrupted span fails the sample check")(a.sampleChecks(bad).count(!_.ok) == 1)

      Main.queryConf(spark)
      val qp = new QueryPhase(spark, data)
      val expected = QueryPhase.readExpected(expectedPath)
      val name = "q1_agg"
      val d = qp.digested(name)._2
      expect("recorded digest passes")(QueryPhase.check(name, d, expected, qp.rowsOnly).ok)
      val wrong = expected.updated(name, expected(name).copy(digest = "0000000000000000"))
      expect("wrong digest fails the query check")(!QueryPhase.check(name, d, wrong, qp.rowsOnly).ok)
      val fewer = expected.updated(name, expected(name).copy(rows = d.rows + 1))
      expect("wrong row count fails the query check")(!QueryPhase.check(name, d, fewer, qp.rowsOnly).ok)
    } finally spark.stop()

    val failed = results.count(!_._2)
    println(s"[selftest] ${results.size - failed} ok, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
