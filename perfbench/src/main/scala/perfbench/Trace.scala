package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span at a layer boundary, in ns on the JVM's monotonic clock. Spans of
  * one query share its query id (0 outside any query). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      query: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

final case class JobRec(id: Int, start: Long, end: Long, stages: Seq[Int])
final case class StageRec(id: Int, start: Long, end: Long)
final case class TaskRec(stage: Int, start: Long, end: Long, runMs: Long,
                         gcMs: Long, shuffleWrite: Long, spill: Long,
                         recordsRead: Long)

/** Spans recorded by the benchmark around its calls into each layer, plus
  * the jobs, stages and tasks a SparkListener reports. Everything is kept in
  * memory and written out once the run ends. A disabled tracer only runs
  * the bodies, so the untraced run pays nothing for it. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 1
  private var currentQuery = 0
  private val counts = scala.collection.mutable.Map.empty[(Int, String), Double]

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  // the listener reports epoch milliseconds; spans use nanoTime
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def span[T](kind: String, name: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) 0 else open.top
      val isQuery = kind == "query"
      if (isQuery) currentQuery = id
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        spans += Span(id, parent, kind, name, currentQuery, t0, System.nanoTime())
        if (isQuery) currentQuery = 0
      }
    }

  /** Adds `v` to a named count of the query in progress. */
  def count(name: String, v: Double): Unit =
    if (on) counts((currentQuery, name)) = counts.getOrElse((currentQuery, name), 0.0) + v

  /** Records Spark's jobs, stages and tasks while attached. */
  def attach(spark: SparkSession): Unit = if (on) spark.sparkContext.addSparkListener(listener)
  def detach(spark: SparkSession): Unit = if (on) {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  private lazy val listener: SparkListener = new SparkListener {
    private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, st) =>
        jobs += JobRec(e.jobId, toNs(t0), toNs(e.time), st)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      for (a <- si.submissionTime; b <- si.completionTime)
        stages += StageRec(si.stageId, toNs(a), toNs(b))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, toNs(e.taskInfo.launchTime),
        toNs(e.taskInfo.finishTime), m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
    }
  }

  /** Everything recorded, once the listener bus has drained. Jobs become
    * spans under the innermost benchmark span that was open when they
    * started, and stages become spans under their job. */
  def finish(spark: SparkSession): Trace = {
    if (on) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val bench = spans.toVector
    val jobSpans = jobs.synchronized(jobs.toVector).sortBy(_.start).map { j =>
      val host = bench.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(_.dur).headOption
      val js = Span(0, host.map(_.id).getOrElse(0), "job", s"job ${j.id}",
        host.map(_.query).getOrElse(0), j.start, j.end)
      (j, js)
    }
    var id = nextId
    val withIds = jobSpans.map { case (j, s) => id += 1; (j, s.copy(id = id)) }
    val stageRecs = stages.synchronized(stages.toVector)
    val stageSpans = stageRecs.flatMap { st =>
      withIds.find(_._1.stages.contains(st.id)).map { case (_, js) =>
        id += 1
        Span(id, js.id, "stage", s"stage ${st.id}", js.query, st.start, st.end)
      }
    }
    new Trace(bench ++ withIds.map(_._2) ++ stageSpans, withIds.map(_._1),
      stageRecs, tasks.synchronized(tasks.toVector), counts.toMap)
  }
}

/** A finished trace and the arithmetic over it. */
final class Trace(val spans: Vector[Span], val jobs: Vector[JobRec],
                  val stages: Vector[StageRec], val tasks: Vector[TaskRec],
                  val counts: Map[(Int, String), Double]) {

  def ofKind(kind: String): Vector[Span] = spans.filter(_.kind == kind)

  private lazy val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span): Long =
    s.dur - unionNs(children.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)),
      s.start, s.end)

  /** Jobs started inside the span. */
  def jobsIn(s: Span): Vector[JobRec] =
    jobs.filter(j => j.start >= s.start && j.start <= s.end)

  /** Wall time of the span that no job covers: the driver's share. */
  def driverNs(s: Span): Long =
    s.dur - unionNs(jobsIn(s).map(j => (j.start, j.end)), s.start, s.end)

  def tasksOf(stageIds: Set[Int]): Vector[TaskRec] = tasks.filter(t => stageIds(t.stage))

  def count(query: Int, name: String): Double = counts.getOrElse((query, name), 0.0)

  def toJson: String = spans.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
      s""""name":${Json.str(s.name)},"query":${s.query},"start_ns":${s.start},""" +
      s""""end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
