package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 for
  * the run span.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long, attrs: Map[String, String] = Map.empty)

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = System.nanoTime() + base
  def ofMs(ms: Long): Long = ms * 1000000L
}

/** One phase of an op: a call into one layer of the program, timed by
  * the benchmark around that call. `action` marks the phase whose Spark
  * planning counts as `spark.plan_ms`.
  */
final case class Phase(name: String, layer: String, start: Long, end: Long,
    action: Boolean = false)

/** Raw Spark observations of one job, stage, planned query or
  * micro-batch, as the listeners saw them.
  */
final case class JobObs(id: Int, startMs: Long, var endMs: Long, site: String, stages: Seq[Int])
final case class StageObs(id: Int, var submitMs: Long = 0L, var doneMs: Long = 0L,
    var tasks: Int = 0, var runMs: Long = 0L, var cpuNs: Long = 0L,
    var shuffleWrite: Long = 0L, var shuffleRead: Long = 0L, var spill: Long = 0L,
    taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
final case class PlanObs(startMs: Long, planMs: Long)
final case class BatchObs(batch: Long, startMs: Long, durations: Map[String, Long])

/** The listeners a traced run attaches: a SparkListener for jobs, stages
  * and tasks, a QueryExecutionListener for planning time and a
  * StreamingQueryListener for micro-batches. They only record; the
  * tracer attributes the records to ops once the bus is drained.
  */
final class Listeners extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobObs]
  private val stages = mutable.LinkedHashMap.empty[Int, StageObs]
  private val plans = mutable.ArrayBuffer.empty[PlanObs]
  private val batches = mutable.ArrayBuffer.empty[BatchObs]

  private def stage(id: Int) = stages.getOrElseUpdate(id, StageObs(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the short call site of the job's stages names the user frame that
    // started it, e.g. "parquet at Tables.scala:9"
    val site = e.stageInfos.headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = JobObs(e.jobId, e.time, -1L, site, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.doneMs = i.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val keys = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (keys.nonEmpty)
      plans += PlanObs(keys.map(_.startTimeMs).min, keys.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        val m = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
        batches += BatchObs(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, m)
      }
  }

  /** Everything observed since the last call; clears the buffers. */
  def take(): (Seq[JobObs], Map[Int, StageObs], Seq[PlanObs], Seq[BatchObs]) = synchronized {
    val out = (jobs.values.toList, stages.toMap, plans.toList, batches.toList)
    jobs.clear(); stages.clear(); plans.clear(); batches.clear()
    out
  }
}

/** The traced run's recorder: spans in memory, written as JSONL at the
  * end; per-op layer metrics attributed from the listener records by the
  * op and phase window each job started in (one client thread makes the
  * windows disjoint).
  */
final class Tracer(spark: SparkSession, nproc: Int) {
  private val listeners = new Listeners
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listeners)
    spark.listenerManager.register(listeners)
    spark.streams.addListener(listeners.streams)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listeners)
    spark.listenerManager.unregister(listeners)
    spark.streams.removeListener(listeners.streams)
    listeners.take()
    ()
  }

  /** Record a span; returns its id. */
  def span(parent: Int, name: String, layer: String, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, layer, start, end, attrs)
    id
  }

  /** Set the end of an open span (the run and the passes). */
  def close(id: Int, end: Long): Unit = spans(id) = spans(id).copy(end = end)

  /** Attribute the finished op's Spark work to its phases, record the
    * spans, and return the op's layer metrics.
    */
  def op(parent: Int, name: String, start: Long, end: Long, phases: Seq[Phase],
      extra: Map[String, Double]): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val (jobs, stages, plans, batches) = listeners.take()
    val opId = span(parent, name, "op", start, end)
    val phaseIds = phases.map(p => span(opId, p.name, p.layer, p.start, p.end))
    def phaseOf(tNs: Long): Int = {
      val i = phases.lastIndexWhere(p => p.start / 1000000L <= tNs / 1000000L)
      math.max(i, 0)
    }
    // micro-batches hang under the phase that ran their stream
    val batchSpans = batches.map { b =>
      val s = Clock.ofMs(b.startMs)
      val pi = phaseOf(s)
      val e = s + Clock.ofMs(b.durations.getOrElse("triggerExecution", 0L))
      (b, pi, s, e, span(phaseIds(pi), s"batch ${b.batch}", "stream.batch", s, e,
        b.durations.map { case (k, v) => k -> v.toString }))
    }
    val jobPhase = jobs.map { j =>
      val s = Clock.ofMs(j.startMs)
      val e = Clock.ofMs(math.max(j.endMs, j.startMs))
      val pi = phaseOf(s)
      val parentId = batchSpans.find { case (_, bpi, bs, be, _) => bpi == pi && s >= bs && s <= be }
        .map(_._5).getOrElse(phaseIds(pi))
      val layer = if (j.site.contains("Tables.scala")) "tables.infer" else "spark.job"
      span(parentId, s"job ${j.id}", layer, s, e, Map("site" -> j.site))
      (j, pi, s, e)
    }
    val wallMs = (end - start) / 1e6
    val jobStages = jobs.flatMap(j => j.stages.flatMap(stages.get)).distinctBy(_.id)
      .filter(_.tasks > 0)
    val tasks = jobStages.map(_.tasks).sum
    val runMs = jobStages.map(_.runMs).sum.toDouble
    val longest = if (jobStages.isEmpty) None else Some(jobStages.maxBy(s => s.doneMs - s.submitMs))
    val skew = longest.map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      if (med > 0) s.taskMs.max / med else 1.0
    }.getOrElse(0.0)
    val actionPhases = phases.indices.filter(phases(_).action).toSet
    val planMs = plans.filter(p => actionPhases(phaseOf(Clock.ofMs(p.startMs)))).map(_.planMs).sum.toDouble
    val actionMs = phases.filter(_.action).map(p => (p.end - p.start) / 1e6).sum
    val infer = jobPhase.filter(_._1.site.contains("Tables.scala"))
    val busy = Stats.covered(jobPhase.map { case (_, _, s, e) => (math.max(s, start), math.min(e, end)) }) / 1e6
    def phaseJobs(layer: String) = jobPhase.count { case (_, pi, _, _) => phases(pi).layer == layer }
    def cpuOf(layer: String) = jobPhase.filter { case (_, pi, _, _) => phases(pi).layer == layer }
      .flatMap(_._1.stages).distinct.flatMap(stages.get).map(_.cpuNs).sum / 1e6
    val streamBatches = batchSpans.filter { case (b, pi, _, _, _) => phases(pi).layer == "ingest.stream" }.map(_._1)
    def batchSum(k: String) = streamBatches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val base = Map(
      "tables.infer_jobs" -> infer.size.toDouble,
      "tables.infer_ms" -> infer.map { case (_, _, s, e) => (e - s) / 1e6 }.sum,
      "spark.plan_ms" -> planMs,
      "spark.exec_ms" -> (if (actionPhases.isEmpty) 0.0 else actionMs - planMs),
      "spark.idle_gap_ms" -> (wallMs - busy),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobStages.size.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.tasks_per_stage" -> (if (jobStages.isEmpty) 0.0 else tasks.toDouble / jobStages.size),
      "spark.task_run_ms" -> runMs,
      "spark.task_cpu_ms" -> jobStages.map(_.cpuNs).sum / 1e6,
      "spark.core_util" -> runMs / (wallMs * nproc),
      "spark.task_skew" -> skew,
      "spark.shuffle_write_bytes" -> jobStages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> jobStages.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> jobStages.map(_.spill).sum.toDouble,
      "ops.build_jobs" -> phaseJobs("ops.build").toDouble,
      "text.build_jobs" -> phaseJobs("text.build").toDouble,
      "ingest.batches" -> streamBatches.size.toDouble,
      "ingest.latest_offset_ms" -> batchSum("latestOffset"),
      "ingest.add_batch_ms" -> batchSum("addBatch"),
      "ingest.wal_commit_ms" -> batchSum("walCommit"),
      "imaging.stream_cpu_ms" -> cpuOf("ingest.stream"),
    ) ++ phases.groupBy(_.layer).map { case (layer, ps) =>
      s"$layer.wall_ms" -> ps.map(p => (p.end - p.start) / 1e6).sum
    }
    base ++ extra
  }

  /** Per-layer roll-up over every recorded span: count, total, self time
    * (total minus the part child spans cover) and waiting (the part child
    * spans cover).
    */
  def rollup(): Map[String, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        Stats.selfTime(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      }.sum
      layer -> Map("count" -> ss.size.toDouble, "total_ms" -> total / 1e6,
        "self_ms" -> self / 1e6, "wait_ms" -> (total - self) / 1e6)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
        "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }
}
