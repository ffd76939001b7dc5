package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The Spark work one block of code started: jobs, stages that
  * ran, tasks, and the bytes and records those tasks moved. Unlike wall
  * time these are exact on the same code and data, so they are the
  * first thing to compare between two runs. `jobsByLabel` splits the
  * jobs by the first word of `spark.job.description`: `commit`
  * ([[VersionedTable]]), `scratch` ([[Scratch]]) or `unlabeled`.
  */
final case class JobCounters(jobs: Int, stages: Int, tasks: Int,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long,
    inputRecords: Long, jobsByLabel: Map[String, Int]) {

  /** One JSON object with snake_case keys; labels sorted. */
  def json: String = {
    val labels = jobsByLabel.toSeq.sorted
      .map { case (l, n) => s""""$l":$n""" }.mkString("{", ",", "}")
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""input_bytes":$inputBytes,"input_records":$inputRecords,""" +
      s""""jobs_by_label":$labels}"""
  }
}

object JobCounters {
  private val Word = """\w+""".r

  /** Run `body` and count the Spark work started while it ran, on any
    * thread (a [[Par]] worker's jobs count). The listener bus is
    * drained before the listener is added, so earlier work is not
    * counted, and again after `body`, so none of its events are
    * missed; the listener is removed even when `body` throws. */
  def during[T](spark: SparkSession)(body: => T): (T, JobCounters) = {
    val acc = new Acc
    GraftBridge.waitListenerEmpty(spark)
    spark.sparkContext.addSparkListener(acc)
    try {
      val out = body
      GraftBridge.waitListenerEmpty(spark)
      (out, acc.counters)
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  private final class Acc extends SparkListener {
    private var jobs, stages, tasks = 0
    private var shuffleRead, shuffleWrite, input, records = 0L
    private var labels = Map.empty[String, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .flatMap(Word.findPrefixOf).getOrElse("unlabeled")
      jobs += 1
      labels = labels.updated(label, labels.getOrElse(label, 0) + 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
        records += m.inputMetrics.recordsRead
      }
    }

    def counters: JobCounters = synchronized {
      JobCounters(jobs, stages, tasks, shuffleRead, shuffleWrite, input,
        records, labels)
    }
  }
}
