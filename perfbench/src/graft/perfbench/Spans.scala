package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark stage as a child span of its job: wall interval, the RDD
  * operator scopes it ran (how the stage is classified) and its summed task
  * metrics. Times are epoch milliseconds. */
final case class StageSpan(
    id: Int,
    jobId: Int,
    name: String,
    start: Long,
    end: Long,
    scopes: Set[String],
    numTasks: Int,
    runMs: Long,
    gcMs: Long,
    shuffleWriteBytes: Long,
    outputBytes: Long,
    taskMs: Seq[Long])

/** One Spark job as a child span of the traced call. `execId` is the SQL
  * execution that started it (-1 for jobs outside any SQL execution, such
  * as parquet schema inference). */
final case class JobSpan(id: Int, execId: Long, start: Long, end: Long, stages: Seq[StageSpan])

/** The SQL execution a job belongs to: its call-site description and the
  * physical plan text (which names the output path of a write). */
final case class ExecInfo(description: String, plan: String)

/** Everything the recorder saw between `Spans.begin` and `Spans.end`. */
final case class Trace(start: Long, end: Long, jobs: Seq[JobSpan], execs: Map[Long, ExecInfo]) {
  def wallS: Double = (end - start) / 1000.0
  def stages: Seq[StageSpan] = jobs.flatMap(_.stages)
  def exec(j: JobSpan): Option[ExecInfo] = execs.get(j.execId)
}

/** A `SparkListener` that turns every job and stage into a span with its
  * task metrics. It is registered only while a traced call runs: `begin`
  * drains the listener bus and registers it, `end` drains the bus again, so
  * no event is lost, and removes it, so untraced work pays nothing for it. */
final class Spans(spark: SparkSession) extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stageOfJob = new ConcurrentHashMap[Int, Int]()
  private val stageDone = new ConcurrentHashMap[Int, StageInfo]()
  private val taskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  private val execs = new ConcurrentHashMap[Long, ExecInfo]()
  private var t0 = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (e.time, exec, e.stageIds))
    e.stageIds.foreach(s => stageOfJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageDone.put(e.stageInfo.stageId, e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, ExecInfo(s.description, s.physicalPlanDescription))
    case _ =>
  }

  def begin(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    jobStart.clear(); jobEnd.clear(); stageOfJob.clear(); stageDone.clear()
    taskMs.clear(); execs.clear()
    spark.sparkContext.addSparkListener(this)
    t0 = System.currentTimeMillis()
  }

  def end(): Trace = {
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    val stagesByJob = mutable.Map.empty[Int, mutable.Buffer[StageSpan]]
    stageDone.asScala.foreach { case (sid, si) =>
      val m = si.taskMetrics
      val durs = Option(taskMs.get(sid)).map(_.asScala.toSeq).getOrElse(Nil)
      val span = StageSpan(sid, stageOfJob.getOrDefault(sid, -1), si.name,
        si.submissionTime.getOrElse(t0), si.completionTime.getOrElse(t1),
        si.rddInfos.flatMap(_.scope.map(_.name.trim)).toSet, si.numTasks,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, durs)
      stagesByJob.getOrElseUpdate(span.jobId, mutable.Buffer.empty) += span
    }
    val jobs = jobStart.asScala.toSeq.map { case (id, (start, exec, _)) =>
      JobSpan(id, exec, start, jobEnd.getOrDefault(id, t1),
        stagesByJob.get(id).map(_.toSeq.sortBy(_.id)).getOrElse(Nil))
    }.sortBy(_.id)
    Trace(t0, t1, jobs, execs.asScala.toMap)
  }

  /** Run `body` as one traced call. */
  def trace[T](body: => T): (T, Trace) = {
    begin()
    val r = body
    (r, end())
  }
}

object Spans {

  /** Total length of the union of `[start, end)` intervals, in seconds. */
  def unionS(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def percentile(xs: Seq[Long], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1))).toDouble
    }
}
