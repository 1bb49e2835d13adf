package graft.perfbench

import scala.collection.mutable

import graft.Queries
import org.apache.spark.sql.SparkSession

/** The repo benchmark. One JVM runs one workload and prints, as its last
  * stdout line, `{"correct", "attempted", "failed", "metrics"}`; the line
  * before it is `{"info": ...}` with the host, the input and the samples.
  *
  * {{{
  * Main --workload extract_fresh|queries_stream --seed N
  *      --seconds S --trace 0|1 --work DIR --data DIR --expected FILE
  * Main --record FILE --work DIR --data DIR      (write expected query digests)
  * Main --selftest --work DIR --data DIR --expected FILE
  * }}}
  *
  * `--trace 0` measures the workload end to end. `--trace 1` measures every
  * layer of the system for the seed, whatever the workload.
  */
object Main {
  val Workloads: Seq[String] = Seq("extract_fresh", "queries_stream")

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, expected: String)

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = kv.getOrElse("work", sys.error("--work required"))
    val data = kv.getOrElse("data", sys.error("--data required"))
    if (kv.contains("record")) record(work, data, kv("record"))
    else if (argv.contains("--selftest")) SelfTest.run(work, data, kv.getOrElse("expected", ""))
    else {
      val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv.get("trace").contains("1"),
        work, data, kv("expected"))
      require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
      val (checks, metrics, info) = if (o.trace) Traced.run(o) else untraced(o)
      emit(checks, metrics, info)
    }
    System.out.flush()
    sys.exit(0)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since the JVM started the benchmark. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The query phase runs with one shuffle partition per core, as the
    * repo's query benches do; extraction keeps `graft.Main`'s defaults. */
  def queryConf(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Repeat `op` at least `min` times and until a run is no more than 3%
    * faster than the best before it: on a fresh JVM successive extraction
    * runs keep getting faster for ten and more repetitions. */
  def warmUntilSteady(op: () => Double, min: Int, max: Int = 10): Seq[Double] = {
    val ts = mutable.Buffer.empty[Double]
    while (ts.length < max && (ts.length < min || ts.last < 0.97 * ts.init.min)) ts += op()
    ts.toSeq
  }

  /** Run `op` until `seconds` have passed (at least `min` times). */
  def measure(seconds: Double, min: Int)(op: () => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val ts = mutable.Buffer.empty[Double]
    while (ts.length < min || (System.nanoTime() - t0) / 1e9 < seconds) ts += op()
    ts.toSeq
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def host: Map[String, Any] = Map(
    "nproc" -> cores, "cores_used" -> cores,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> sys.props("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)

  /** Set up `reps` times — session start, the workload's inputs and one
    * warm-up pass, all in `prepare` — and return the live session with
    * every set-up time. */
  def setUp(work: String, reps: Int)(prepare: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val ts = (1 to reps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      prepare(spark)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set up $s%.2f")
      s
    }
    (spark, ts)
  }

  private def untraced(o: Opts): (Seq[Check], Metrics, Map[String, Any]) = {
    val checks = mutable.Buffer.empty[Check]
    val info = mutable.LinkedHashMap[String, Any]("workload" -> o.workload, "seed" -> o.seed)
    val (runs, setups, warm) = o.workload match {
      case "queries_stream" =>
        val expected = QueryPhase.readExpected(o.expected)
        val order = new scala.util.Random(o.seed).shuffle(QueryPhase.Stream)
        var qp: QueryPhase = null
        val pass: () => Double = () => order.map { name =>
          val (s, df) = qp.timed(name)
          checks += QueryPhase.check(name, QueryPhase.digest(df), expected, qp.rowsOnly)
          s
        }.sum
        val (spark, setups) = setUp(o.work, 3) { s =>
          queryConf(s)
          qp = new QueryPhase(s, o.data)
          pass()
        }
        val runs = measure(o.seconds, 1)(pass)
        log(s"measured ${runs.map(x => f"$x%.2f").mkString(" ")}")
        info ++= Seq("queries" -> order, "data" -> "sf0.1")
        spark.stop()
        (runs, setups, Nil)
      case "extract_fresh" =>
        val ex = new Extraction(o.work, o.seed, Extraction.Docs, cores)
        val op = (spark: SparkSession, check: Boolean) => {
          ex.restore(resume = false)
          val r = ex.run(spark)
          if (check) checks ++= ex.reconcile(spark, r, resume = false)
          r.wallS
        }
        val (spark, setups) = setUp(o.work, 3) { s =>
          ex.materialise(s)
          op(s, true)
        }
        // the three set-ups ran three warm-up passes; continue until steady
        val warm = warmUntilSteady(() => op(spark, false), min = 3, max = 8)
        log(s"warm-up ${warm.map(x => f"$x%.2f").mkString(" ")}")
        val runs = measure(o.seconds, 4)(() => op(spark, true))
        log(s"measured ${runs.map(x => f"$x%.2f").mkString(" ")}")
        checks ++= ex.sampleChecks(ex.sampleOutput(spark))
        info ++= Seq("input_docs" -> ex.numDocs, "window" -> Seq(ex.first, ex.last),
          "corpus_digest" -> ex.corpusDigest,
          "docs_per_s" -> ex.numDocs / median(runs))
        spark.stop()
        (runs, setups, warm)
    }
    val metrics: Metrics = mutable.LinkedHashMap(
      "run_s" -> (median(runs), "s"),
      "setup_s" -> (median(setups), "s"))
    info ++= Seq("host" -> host, "run_samples_s" -> runs, "setup_samples_s" -> setups,
      "warmup_samples_s" -> warm, "peak_rss_mb" -> peakRssMb)
    (checks.toSeq, metrics, info.toMap)
  }

  /** Print the info line and the result line. */
  def emit(checks: Seq[Check], metrics: Metrics, info: Map[String, Any]): Unit = {
    val failed = checks.filterNot(_.ok)
    failed.take(20).foreach(c => System.err.println(s"[perfbench] check failed: ${c.kind} ${c.detail}"))
    val checkInfo = checks.groupBy(_.kind).map { case (k, cs) => k -> cs.size }
    println(Json(Map("info" -> (info ++ Map("checks" -> checkInfo,
      "failed_checks" -> failed.take(5).map(c => s"${c.kind}: ${c.detail}"))))))
    println(Json(Map(
      "correct" -> (checks.nonEmpty && failed.isEmpty),
      "attempted" -> math.max(1, checks.size),
      "failed" -> failed.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }

  /** Record every query's row count and digest from the current code. */
  private def record(work: String, data: String, path: String): Unit = {
    val spark = session(work)
    queryConf(spark)
    Queries.prepareIndexes(spark, data)
    val qp = new QueryPhase(spark, data)
    val got = Queries.all.keys.toSeq.sorted.map { name =>
      name -> QueryPhase.recorded(name, qp.digested(name)._2, qp.rowsOnly)
    }.toMap
    QueryPhase.writeExpected(path, got)
    println(s"recorded ${got.size} queries to $path")
    spark.stop()
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
