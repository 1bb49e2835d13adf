package graft.perfbench

import java.io.File

import graft.media.{DeterministicMediaStore, DeterministicOcr}
import graft.model.DocOut
import graft.pipeline.{Extract, ExtractConf, ExtractKernel, Fixtures}
import graft.sources.Io
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The extraction workloads: `graft.Main`'s path (`Io.readDocs` →
  * `Extract.run`) over a seed-chosen window of the fixture corpus,
  * `Fixtures.doc(w·N+1 .. (w+1)·N)` with `w = seed mod Extraction.Windows`,
  * into an empty output (fresh) or into an output whose first 90% of the
  * window is already committed (resume). */
final class Extraction(work: String, seed: Long, val numDocs: Int, cores: Int) {
  /** Window index: seeds that agree modulo `Extraction.Windows` share a window. */
  val windowIdx: Long = Math.floorMod(seed, Extraction.Windows.toLong)
  val first: Long = windowIdx * numDocs + 1
  val last: Long = first + numDocs - 1
  require(last < 100000000L, s"$numDocs docs per window overflow the 8-digit doc ids")
  /** The committed template holds this many docs: the first ~90% of the window. */
  val templateDocs: Int = numDocs / 10 * 9

  val conf: ExtractConf = ExtractConf(level = "medium", numPartitions = 128)
  private val root = s"$work/extract"
  val inPath = s"$root/in"
  private val templatePath = s"$root/template"
  val outPath = s"$root/out"
  private val sideOutputs = Seq("", "_lineage", "_rejected")
  private var runSeq = 0

  /** Order-independent digest of the window's generated docs. */
  def corpusDigest: String = {
    var h = 0L
    var i = first
    while (i <= last) { h += graft.core.Hash64(Fixtures.doc(i.toInt).toString); i += 1 }
    f"$h%016x"
  }

  /** The first `n` docs of the window. */
  def docs(n: Int): IndexedSeq[graft.model.Doc] =
    (first until first + math.min(n, numDocs)).map(i => Fixtures.doc(i.toInt))

  private def window(spark: SparkSession, from: Long, until: Long, files: Int) = {
    import spark.implicits._
    spark.range(from, until, 1, files).map(i => Fixtures.doc(i.toInt))
  }

  /** Write the window to parquet: the input table of every run. */
  def materialise(spark: SparkSession): Unit =
    window(spark, first, last + 1, 8 * cores).write.mode("overwrite").parquet(inPath)

  /** Commit the first ~90% of the window once; `restore` copies it back. */
  def buildTemplate(spark: SparkSession): Unit = {
    sideOutputs.foreach(s => FileUtils.deleteQuietly(new File(templatePath + s)))
    val docs = Io().readDocs(spark, inPath).filter(col("doc_id") <= Fixtures.docId((first + templateDocs - 1).toInt))
    Extract.run(spark, docs, templatePath, conf.copy(runId = "template"))
  }

  /** Reset the output: empty for a fresh run, the committed template for a
    * resume run. Untimed. */
  def restore(resume: Boolean): Unit = sideOutputs.foreach { s =>
    FileUtils.deleteQuietly(new File(outPath + s))
    if (resume) FileUtils.copyDirectory(new File(templatePath + s), new File(outPath + s))
  }

  final case class Run(wallS: Double, runId: String, summary: Extract.Summary)

  /** One timed `Extract.run`, as `graft.Main` calls it. */
  def run(spark: SparkSession): Run = {
    runSeq += 1
    val runId = s"bench-$runSeq"
    val t0 = System.nanoTime()
    val summary = Extract.run(spark, Io().readDocs(spark, inPath), outPath, conf.copy(runId = runId))
    Run((System.nanoTime() - t0) / 1e9, runId, summary)
  }

  /** The same run with the parquet sink swapped for the noop sink, or kept:
    * the difference is the sink's cost. */
  def extractOnly(spark: SparkSession, parquet: Boolean): Double = {
    val t0 = System.nanoTime()
    val w = Extract.extractDS(spark, Io().readDocs(spark, inPath), conf = conf).write
    if (parquet) w.mode("overwrite").parquet(s"$root/sink") else w.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def parquetRows(spark: SparkSession, path: String): Long = {
    val dir = new File(path)
    if (dir.isDirectory && dir.list().exists(_.endsWith(".parquet"))) spark.read.parquet(path).count()
    else 0L
  }

  /** Reconciliation of one run: input = committed + rejected (+ committed
    * before the run), the output holds each doc once, and the persisted
    * lineage accounts for exactly the rows this run committed. */
  def reconcile(spark: SparkSession, r: Run, resume: Boolean): Seq[Check] = {
    val out = spark.read.parquet(outPath).agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val committed = out.getLong(0)
    val rejected = parquetRows(spark, s"${outPath}_rejected/run_id=${r.runId}")
    val before = if (resume) templateDocs.toLong else 0L
    val lineageDocs = spark.read.parquet(s"${outPath}_lineage/run_id=${r.runId}")
      .agg(sum(col("doc_count"))).head().getLong(0)
    Seq(
      Check("reconcile", numDocs == committed + rejected && out.getLong(1) == committed,
        s"input $numDocs, committed $committed (distinct ${out.getLong(1)}, $before before), rejected $rejected"),
      Check("lineage", lineageDocs == committed - before && r.summary.docsProcessed == lineageDocs,
        s"lineage docs $lineageDocs, summary ${r.summary.docsProcessed}, committed by run ${committed - before}"))
  }

  /** Sampled docs: every mega-doc, every 32-page doc and every k-th doc of
    * the window. */
  def sampleIdx: Seq[Int] = {
    val k = math.max(1, numDocs / 200)
    (first to last).map(_.toInt).filter(i => (i >= 1000 && i % 1000 == 0) || i % 101 == 100 || i % k == 0)
  }

  def sampleOutput(spark: SparkSession): Seq[DocOut] = {
    import spark.implicits._
    val ids = sampleIdx.map(Fixtures.docId)
    spark.read.parquet(outPath).as[DocOut].filter(col("doc_id").isin(ids: _*)).collect().toSeq
  }

  /** Each sampled doc of `got` against the sequential golden interpreter
    * `ExtractKernel.extractWhole`; a missing doc fails too. */
  def sampleChecks(got: Seq[DocOut]): Seq[Check] = {
    val byId = got.groupBy(_.doc_id)
    sampleIdx.map { i =>
      val want = ExtractKernel.extractWhole(Fixtures.doc(i), DeterministicMediaStore, DeterministicOcr, conf)
      val rows = byId.getOrElse(want.doc_id, Nil)
      Check("sample", rows == Seq(want), s"${want.doc_id}: ${rows.size} output rows")
    }
  }
}

object Extraction {
  /** Docs per window: 20 mega-docs and ~200 32-page docs per window. */
  val Docs = 20000
  val Windows = 2000
}

/** One correctness check; a run's `attempted`/`failed` count these. */
final case class Check(kind: String, ok: Boolean, detail: String)

/** Trace of an extraction run, split into the layers of `Extract.run`. */
object ExtractPhases {
  private val objectOps = Set("MapPartitions", "mapPartitionsInternal", "DeserializeToObject",
    "AppendColumnsWithObject", "MapGroups", "WriteFiles")

  /** Which step of `Extract.run` started a SQL execution. */
  def execKind(e: ExecInfo): String =
    if (e.plan.contains("_rejected/run_id=")) "guard"
    else if (e.plan.contains("_lineage/run_id=")) "lineage"
    else if (e.description.startsWith("take at")) "probe"
    else if (e.plan.contains("InsertIntoHadoopFsRelationCommand")) "main"
    else "other"

  /** Layer of one stage: a stage that only scans and exchanges (the
    * committed-id aggregate and its broadcast) is the resume anti-join
    * wherever it runs; in the output write the stage that writes files is the
    * common stage (its union also holds the salted merge), the shuffle-map
    * stages before it are the salted path. Jobs outside a SQL execution are
    * parquet schema reads: of the committed output (resume) or of the input. */
  def phase(kind: String, s: StageSpan): String = {
    val exchangeOnly = (s.scopes.contains("Exchange") || s.scopes.contains("BroadcastExchange")) &&
      !s.scopes.exists(objectOps)
    kind match {
      case "none" => if (s.name.contains("Extract.scala")) "resume" else "input"
      case "lineage" => "lineage"
      case _ if exchangeOnly => "resume"
      case "main" => if (s.scopes.contains("WriteFiles")) "common" else "salted"
      case k => k
    }
  }

  val Phases: Seq[String] = Seq("input", "resume", "guard", "probe", "common", "salted", "lineage", "other")

  def stagesByPhase(t: Trace): Map[String, Seq[StageSpan]] =
    t.jobs.flatMap { j =>
      val kind = t.exec(j).map(execKind).getOrElse("none")
      j.stages.map(s => phase(kind, s) -> s)
    }.groupMap(_._1)(_._2)

  /** Seconds per layer (union of its stage intervals), plus the driver gap
    * (wall minus the union of job spans) and the unattributed remainder:
    * wall minus the gap and every named layer, so stages of an unrecognised
    * execution ("other") stay in it. */
  def seconds(t: Trace): Map[String, Double] = {
    val by = stagesByPhase(t)
    val ph = Phases.map(p => p -> Spans.unionS(by.getOrElse(p, Nil).map(s => (s.start, s.end)))).toMap
    val gap = t.wallS - Spans.unionS(t.jobs.map(j => (j.start, j.end)))
    val named = ph.removed("other").values.sum
    ph + ("driver_gap" -> gap) + ("unattributed" -> (t.wallS - gap - named))
  }
}
