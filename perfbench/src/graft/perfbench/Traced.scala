package graft.perfbench

import scala.collection.mutable

import graft.Queries
import org.apache.spark.sql.SparkSession

/** The traced run: every layer of the system for one seed. Extraction
  * (fresh and resume `Extract.run` split into Spark layers by a span
  * recorder), the single-thread kernel components, and every contract
  * query with its Spark counters. */
object Traced {
  import Main.{median, Metrics}

  def run(o: Main.Opts): (Seq[Check], Metrics, Map[String, Any]) = {
    val checks = mutable.Buffer.empty[Check]
    val m: Metrics = mutable.LinkedHashMap.empty
    val spark = Main.session(o.work)
    val spans = new Spans(spark)
    val ex = new Extraction(o.work, o.seed, Extraction.Docs, Main.cores)
    ex.materialise(spark)
    ex.buildTemplate(spark)
    Main.log("set up")

    // --- extraction, fresh: warm up as the untraced workload does, then
    // untraced and traced runs in turn (so drift cancels out), the listener
    // attached only to the traced ones; then the layers
    val freshOp: () => Double = () => {
      ex.restore(resume = false)
      val r = ex.run(spark)
      checks ++= ex.reconcile(spark, r, resume = false)
      r.wallS
    }
    Main.log(s"warm-up ${Main.warmUntilSteady(freshOp, min = 6, max = 12).map(x => f"$x%.2f").mkString(" ")}")
    val pairs = (1 to 3).map { _ =>
      val untraced = freshOp()
      ex.restore(resume = false)
      val (r, t) = spans.trace(ex.run(spark))
      checks ++= ex.reconcile(spark, r, resume = false)
      (untraced, t)
    }
    val untracedS = median(pairs.map(_._1))
    val fresh = pairs.map(_._2)
    checks ++= ex.sampleChecks(ex.sampleOutput(spark))
    // the sink: the same extraction into parquet and into the noop sink, in turn
    val sinks = (1 to 3).map(_ => (ex.extractOnly(spark, parquet = true), ex.extractOnly(spark, parquet = false)))
    val sinkS = median(sinks.map(_._1)) - median(sinks.map(_._2))

    Main.log("fresh traced, sink")
    // --- extraction, resume
    val resume = (1 to 2).map { _ =>
      ex.restore(resume = true)
      val (r, t) = spans.trace(ex.run(spark))
      checks ++= ex.reconcile(spark, r, resume = true)
      t
    }

    def med(ts: Seq[Trace])(f: Trace => Double): Double = median(ts.map(f))
    def phase(ts: Seq[Trace], p: String): Double = med(ts)(t => ExtractPhases.seconds(t)(p))
    val freshS = med(fresh)(_.wallS)
    m ++= Seq(
      "extract.fresh_run_s" -> (freshS, "s"),
      "extract.resume_run_s" -> (med(resume)(_.wallS), "s"))
    Seq("resume", "guard", "probe", "lineage", "driver_gap").foreach(p =>
      m += s"extract.${p}_s" -> (phase(resume, p), "s"))
    Seq("input", "common", "salted").foreach(p => m += s"extract.${p}_s" -> (phase(fresh, p), "s"))
    m += "extract.sink_s" -> (sinkS, "s")
    val unattributed = phase(fresh, "unattributed")
    m ++= Seq(
      "extract.unattributed_s" -> (unattributed, "s"),
      "extract.unattributed_share" -> (unattributed / freshS, "share"),
      "extract.jobs" -> (med(resume)(_.jobs.size.toDouble), "count"),
      "extract.shuffle_write_bytes" -> (med(resume)(_.stages.map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
      "extract.output_bytes" -> (med(resume)(_.stages.map(_.outputBytes).sum.toDouble), "bytes"),
      "extract.gc_share" -> (med(resume)(gcShare), "share"),
      "extract.executor_busy_share" -> (med(resume)(t =>
        t.stages.map(_.runMs).sum / 1000.0 / (t.wallS * Main.cores)), "share"))
    val taskMs = (t: Trace) => {
      val by = ExtractPhases.stagesByPhase(t)
      (by.getOrElse("common", Nil) ++ by.getOrElse("salted", Nil)).flatMap(_.taskMs)
    }
    val p50 = med(fresh)(t => Spans.percentile(taskMs(t), 0.5))
    val max = med(fresh)(t => Spans.percentile(taskMs(t), 1.0))
    m ++= Seq("extract.task_p50_ms" -> (p50, "ms"), "extract.task_max_ms" -> (max, "ms"),
      "extract.task_skew" -> (max / p50, "ratio"),
      "trace.overhead_share" -> (1 - untracedS / freshS, "share"))

    Main.log("resume traced")
    // --- kernel, single thread
    val kernelDocs = ex.docs(10000)
    m ++= new KernelLayers(kernelDocs, ex.conf).measure().toSeq.sortBy(_._1)

    Main.log("kernel")
    // --- queries: one traced execution each, through the digest sink
    Main.queryConf(spark)
    Queries.prepareIndexes(spark, o.data)
    val qp = new QueryPhase(spark, o.data)
    val expected = QueryPhase.readExpected(o.expected)
    val order = new scala.util.Random(o.seed).shuffle(Queries.all.keys.toSeq.sorted)
    val perQuery = order.map { name =>
      val ((s, d), t) = spans.trace(qp.digested(name))
      checks += QueryPhase.check(name, d, expected, qp.rowsOnly)
      name -> (s, t)
    }.toMap
    Main.log("queries")
    Queries.all.keys.toSeq.sorted.foreach(n => m += s"query.${n}_s" -> (perQuery(n)._1, "s"))
    Seq("batch" -> QueryPhase.batch, "stream" -> QueryPhase.Stream).foreach { case (k, names) =>
      val ts = names.map(perQuery(_)._2)
      m ++= Seq(
        s"queries.$k.jobs" -> (ts.map(_.jobs.size).sum.toDouble, "count"),
        s"queries.$k.shuffle_bytes" -> (ts.map(_.stages.map(_.shuffleWriteBytes).sum).sum.toDouble, "bytes"),
        s"queries.$k.gc_share" -> (gcShare(ts), "share"))
    }
    m += "query.dd_components_jobs" -> (perQuery("dd_components")._2.jobs.size.toDouble, "count")
    spark.stop()

    val info = Map[String, Any]("workload" -> o.workload, "seed" -> o.seed, "trace" -> 1,
      "host" -> Main.host, "input_docs" -> ex.numDocs, "window" -> Seq(ex.first, ex.last),
      "kernel_docs" -> kernelDocs.size, "data" -> "sf0.1")
    (checks.toSeq, m, info)
  }

  private def gcShare(t: Trace): Double = gcShare(Seq(t))
  private def gcShare(ts: Seq[Trace]): Double = {
    val st = ts.flatMap(_.stages)
    st.map(_.gcMs).sum.toDouble / math.max(1L, st.map(_.runMs).sum)
  }
}
