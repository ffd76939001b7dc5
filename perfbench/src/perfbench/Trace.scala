package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's own calls into the program. Spans are
  * opened and closed on the benchmark's main thread only, kept in
  * memory, and written out with the run record. A disabled tracer runs
  * the body and records nothing. */
final class Spans(enabled: Boolean, runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.nanoTime()) :: open
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, name, parent, start, System.nanoTime())
      }
    }

  /** Total seconds per span name. */
  def totals: Map[String, Double] =
    done.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }

  /** Self time per span name: each span's duration minus the time its
    * child spans cover (children are sequential on one thread, so the
    * covered time is the sum of their durations). */
  def selfTotals: Map[String, Double] = {
    val childTime = done.groupBy(_.parent)
      .map { case (p, ss) => p -> ss.map(_.seconds).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def records: Seq[Map[String, Any]] = done.toSeq.sortBy(_.startNs).map(s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Which module of the program a Spark job belongs to: the innermost
  * `graft.*` frame of its call site, else its `spark.job.description`
  * label, else unattributed. A job that Spark launches on a helper
  * thread (a broadcast or a subquery) carries that thread's stack, so
  * its call site is the one of the SQL execution it belongs to. */
object Attribution {
  val Modules: Seq[String] =
    Seq("core", "ops", "operators", "batch", "sources", "streaming", "Queries")
  // the benchmark's own untimed jobs (writing generated inputs) carry
  // this label and are kept out of every program total
  val BenchLabel = "perfbench "

  def module(details: Iterable[String], label: String): String =
    fromCallSite(details).getOrElse(fromLabel(label))

  def fromCallSite(details: Iterable[String]): Option[String] =
    details.iterator.filter(_ != null).flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map(fromFrame)

  private def fromFrame(frame: String): String = {
    val parts = frame.split('.')
    if (parts.length < 3) "other"
    else if (parts(1).startsWith("Queries")) "Queries"
    else if (Modules.contains(parts(1))) parts(1)
    else "other"
  }

  def fromLabel(label: String): String = {
    val l = Option(label).getOrElse("")
    if (l.startsWith(BenchLabel)) "bench"
    else if (l.startsWith("commit ") || l.startsWith("scratch ")) "core"
    else if (l.contains("runId = ")) "streaming"
    else "unattributed"
  }
}

/** Per-module Spark work, from a listener the benchmark registers in
  * traced runs. Jobs are attributed by [[Attribution]]; stages and tasks
  * inherit their job's module; written files come from the
  * "number of written files" metric of each SQL execution, attributed by
  * the execution's own call site and label. */
final class JobListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, files = 0L
    var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, input, output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Wall time covered by the union of the module's job intervals. */
    def busySeconds: Double = {
      var total = 0L
      var curStart = -1L
      var curEnd = -1L
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s; curEnd = e
        } else curEnd = math.max(curEnd, e)
      }
      if (curEnd > curStart) total += curEnd - curStart
      total / 1000.0
    }
  }
  private val acc = mutable.Map.empty[String, Acc]
  private val jobModule = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageModule = mutable.Map.empty[Int, String]
  private val execFiles = mutable.Map.empty[Long, (String, Set[Long])]
  private val execCallSite = mutable.Map.empty[Long, String]
  // call sites of the first unattributed jobs, to show what they are
  private val unattributed = mutable.ArrayBuffer.empty[String]

  private def of(m: String): Acc = acc.getOrElseUpdate(m, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    val m = Attribution.fromCallSite(e.stageInfos.map(_.details))
      .orElse(prop("spark.sql.execution.id")
        .flatMap(id => execCallSite.get(id.toLong)))
      .getOrElse(Attribution.fromLabel(prop("spark.job.description").orNull))
    if (m == "unattributed" && unattributed.size < 10)
      unattributed += e.stageInfos.headOption.map(_.details).getOrElse("")
        .linesIterator.take(4).mkString(" | ")
    jobModule(e.jobId) = m
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageModule.contains(s)) stageModule(s) = m)
    of(m).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobModule.get(e.jobId).foreach { m =>
      of(m).intervals += ((jobStart(e.jobId), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageModule.getOrElse(e.stageInfo.stageId, "unattributed")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = of(stageModule.getOrElse(e.stageId, "unattributed"))
    a.tasks += 1
    val tm = e.taskMetrics
    if (tm != null) {
      a.taskMs += tm.executorRunTime
      a.cpuNs += tm.executorCpuTime
      a.gcMs += tm.jvmGCTime
      a.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
      a.input += tm.inputMetrics.bytesRead
      a.output += tm.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      Attribution.fromCallSite(Seq(s.details))
        .foreach(execCallSite(s.executionId) = _)
      def ids(p: SparkPlanInfo): Seq[Long] =
        p.metrics.filter(_.name == "number of written files")
          .map(_.accumulatorId) ++ p.children.flatMap(ids)
      val found = ids(s.sparkPlanInfo).toSet
      if (found.nonEmpty)
        execFiles(s.executionId) =
          (Attribution.module(Seq(s.details), s.description), found)
    }
    case u: SparkListenerDriverAccumUpdates => synchronized {
      execFiles.get(u.executionId).foreach { case (m, ids) =>
        of(m).files += u.accumUpdates.collect {
          case (id, v) if ids.contains(id) => v
        }.sum
      }
    }
    case _ =>
  }

  /** Run totals: `spark.*` over every program job, `<module>.*` per
    * module. The benchmark's own input-writing jobs are excluded. */
  def counters: Map[String, Double] = synchronized {
    val prog = acc.filter(_._1 != "bench").values.toSeq
    def sum(f: Acc => Long) = prog.map(f).sum.toDouble
    val spark = Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.unattributed_jobs" ->
        acc.get("unattributed").map(_.jobs.toDouble).getOrElse(0.0),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.input_bytes" -> sum(_.input),
      "spark.output_bytes" -> sum(_.output),
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0)
    val perModule = Attribution.Modules.flatMap { m =>
      val a = acc.getOrElse(m, new Acc)
      Seq(s"$m.jobs" -> a.jobs.toDouble, s"$m.busy_s" -> a.busySeconds,
        s"$m.task_s" -> a.taskMs / 1000.0,
        s"$m.output_files" -> a.files.toDouble)
    }
    spark ++ perModule
  }

  /** Jobs per attribution bucket, including `other` and `bench`. */
  def jobsByModule: Map[String, Long] = synchronized {
    acc.map { case (m, a) => m -> a.jobs }.toMap
  }

  def unattributedCallSites: Seq[String] = synchronized(unattributed.toSeq)
}

/** Progress of every micro-batch of every streaming query, collected by
  * a listener the benchmark registers (traced or not: the stream
  * workload's end-to-end metrics come from these reports). */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(query: String, batchId: Long, startMs: Long,
      durations: Map[String, Long], inputRows: Long, startOffset: Long,
      endOffset: Long, watermarkMs: Long, stateRows: Long,
      stateBytes: Long) {
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val failures = mutable.ArrayBuffer.empty[(String, String)]

  private def offset(json: String): Long =
    Option(json).map(_.trim).filter(_.nonEmpty)
      .flatMap(_.toLongOption).getOrElse(-1L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    val wm = Option(p.eventTime.get("watermark"))
      .map(t => java.time.Instant.parse(t).toEpochMilli).getOrElse(0L)
    val durations = p.durationMs.asScalaMap
    val b = Batch(p.name, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, durations,
      p.numInputRows, src.map(s => offset(s.startOffset)).getOrElse(-1L),
      src.map(s => offset(s.endOffset)).getOrElse(-1L), wm,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
    synchronized { batches += b }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(msg => synchronized {
      failures += (("query " + e.id, msg))
    })

  def all: Seq[Batch] = synchronized(batches.toSeq)
  def errors: Seq[(String, String)] = synchronized(failures.toSeq)

  private implicit class JMap(m: java.util.Map[String, java.lang.Long]) {
    def asScalaMap: Map[String, Long] = {
      val out = mutable.Map.empty[String, Long]
      m.forEach((k, v) => out(k) = v.longValue)
      out.toMap
    }
  }
}
