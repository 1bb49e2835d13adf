package graft

import graft.pipeline.Fixtures
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Extraction scaling benchmark — the BASELINE.json metric: docs/sec over
  * the deterministic interleaved corpus (FIXTURES.md §5; 0.1% 256-page mega
  * docs and ~1% 32-page docs, so the salted skew path runs) at N and 4N
  * cores, with N = nproc / 4 (`local[k]` stands in for k executors, see
  * BASELINE.md). Scaling efficiency = (docs/s@4N / docs/s@N) / 4.
  *
  * Each leg runs in a child JVM (`BenchWorker`) pinned with taskset to its
  * cores. The pair runs 3 times, alternating which leg goes first; the
  * reported efficiency is the median pair efficiency and the rates are the
  * best seen per level.
  *
  * The LAST stdout line is one JSON object: `metric`, `value` (docs/s at
  * 4N), `unit` and `scaling`. When no pair completed — fewer than 4 cores,
  * or a failed leg — `scaling` is null, `scaling_error` says why and the
  * process exits 1 after printing the line.
  *
  * Per-query, kernel-component and streaming numbers are not measured here:
  * they come from `python3 perfbench/run.py --workload ... --trace 1`.
  *
  * `GRAFT_BENCH_DIR` (default /tmp/graft_bench) holds the parquet corpora,
  * written once outside the timing, and each leg's stderr log.
  */
object Bench {

  private val NumDocs = 400000
  private val Pairs = 3

  /** (N, 4N) with N = nproc / 4; None when the host has fewer than 4 cores. */
  private[graft] def levels(nproc: Int): Option[(Int, Int)] =
    if (nproc < 4) None else Some((nproc / 4, nproc / 4 * 4))

  /** True median: the middle value, or the mean of the two middle values. */
  private[graft] def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sequence")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Materialize the warm and main corpora to parquet once, keyed by size. */
  private def ensureCorpus(dir: String): (String, String) = {
    val main = s"$dir/corpus_main_$NumDocs"
    val warm = s"$dir/corpus_warm_$NumDocs"
    if (Seq(main, warm).exists(p => !new java.io.File(s"$p/_SUCCESS").exists)) {
      val spark = SparkSession.builder()
        .master("local[*]")
        .appName("graft-bench-corpus")
        .getOrCreate()
      try {
        Fixtures.benchDocs(spark, NumDocs, 128).write.mode("overwrite").parquet(main)
        Fixtures.benchDocs(spark, NumDocs / 10, 128).write.mode("overwrite").parquet(warm)
      } finally spark.stop()
    }
    (warm, main)
  }

  /** One leg: a child JVM with this JVM's flags (heap, --add-opens), pinned
    * to cpus 0..cores-1 when taskset exists. Its stderr goes to a file: an
    * undrained stderr pipe fills at ~64 KB and deadlocks `waitFor`. */
  private def rate(cores: Int, dir: String, warm: String, main: String): Double = {
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
    val pin =
      if (new java.io.File("/usr/bin/taskset").exists)
        Seq("/usr/bin/taskset", "-c", s"0-${cores - 1}")
      else Nil
    val cmd = pin ++ Seq(s"${sys.props("java.home")}/bin/java") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.BenchWorker",
        cores.toString, warm, main, NumDocs.toString)
    val errFile = new java.io.File(s"$dir/worker_${cores}_stderr.log")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.to(errFile))
      .start()
    val src = scala.io.Source.fromInputStream(proc.getInputStream)
    val line = try src.getLines().find(_.startsWith("RATE ")) finally src.close()
    proc.waitFor()
    line.map(_.stripPrefix("RATE ").toDouble).getOrElse(throw new IllegalStateException(
      s"bench worker printed no RATE line (cores=$cores, exit ${proc.exitValue}, stderr: $errFile)"))
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val dir = sys.env.getOrElse("GRAFT_BENCH_DIR", "/tmp/graft_bench")
    val pairs = ArrayBuffer.empty[(Double, Double)] // (docs/s at N, at 4N)
    val lv = levels(nproc)
    val error: Option[String] = lv match {
      case None => Some(s"nproc=$nproc: an N to 4N pair needs at least 4 cores")
      case Some((n, n4)) =>
        try {
          val (warm, main) = ensureCorpus(dir)
          def leg(cores: Int) = rate(cores, dir, warm, main)
          for (p <- 0 until Pairs) {
            if (p % 2 == 0) { val lo = leg(n); pairs += (lo -> leg(n4)) }
            else { val hi = leg(n4); pairs += (leg(n) -> hi) }
          }
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] scaling failed: $e")
          Some(e.toString)
        }
    }

    val scaling = lv.filter(_ => pairs.nonEmpty) match {
      case None => "null"
      case Some((n, n4)) =>
        val effs = pairs.map { case (lo, hi) => hi / lo / 4 }
        s"""{"n_cores":$n,"docs_per_sec_n":${f"${pairs.map(_._1).max}%.1f"},""" +
          s""""four_n_cores":$n4,"docs_per_sec_4n":${f"${pairs.map(_._2).max}%.1f"},""" +
          s""""efficiency":${f"${median(effs.toSeq)}%.3f"},""" +
          s""""pair_efficiencies":${effs.map(e => f"$e%.3f").mkString("[", ",", "]")},""" +
          s""""num_docs":$NumDocs}"""
    }
    val value = if (pairs.isEmpty) "null" else f"${pairs.map(_._2).max}%.1f"
    println(
      s"""{"metric":"docs/sec extraction (interleaved corpus, medium; local[4N] vs local[N], N = nproc/4)",""" +
      s""""value":$value,"unit":"docs/sec","scaling":$scaling""" +
      error.map(e => s""","scaling_error":"${jsonEscape(e.take(300))}"""").getOrElse("") + "}")
    if (pairs.isEmpty) sys.exit(1)
  }
}
