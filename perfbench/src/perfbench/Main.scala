package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness, and what it reports back.
  *
  * `attempt` wraps each measured operation: it counts the attempt and,
  * on an exception, records the error class and message. `check`
  * records one output check; any failed check makes the run incorrect.
  * `samples`, `values` and `counters` are raw numbers; the Python
  * runner turns samples into medians and tails. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: java.nio.file.Path, val spans: Spans) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  // counters whose value depends on timing, not only on the inputs
  val varying = mutable.LinkedHashSet.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var setupEndMs = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    failures += Map("op" -> what, "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000))
  }

  /** Run one measured operation; None when it failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(what, e); None }
  }

  def check(name: String, expected: Any, actual: Any, ok: Boolean): Unit =
    checks += Map("name" -> name, "expected" -> expected,
      "actual" -> actual, "ok" -> ok)

  def checkEq(name: String, expected: Any, actual: Any): Unit =
    check(name, expected, actual, expected == actual)

  def checkClose(name: String, expected: Double, actual: Double,
      tol: Double): Unit =
    check(name, expected, actual, math.abs(expected - actual) <= tol)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def markSetupDone(): Unit = setupEndMs = System.currentTimeMillis()
}

trait Workload {
  def run(ctx: Ctx): Unit
  /** Whether the Spark job counters depend on timing (micro-batch
    * boundaries), not only on the inputs. */
  def jobCountersVary: Boolean = false
}

/** Entry point of the benchmark JVM: builds the product session through
  * `graft.core.Sessions.local`, runs one workload, and writes the run
  * record as JSON to `--out`. Invoked by `perfbench/run.py`. */
object Main {
  private val PerProcessConf = Set("spark.app.id", "spark.app.startTime",
    "spark.driver.port", "spark.sql.warehouse.dir")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val nproc = opts("nproc").toInt
    val out = java.nio.file.Paths.get(opts("out"))
    val work = out.getParent

    val wl: Workload = workload match {
      case "medallion_batch" => new Medallion
      case "sensor_stream" => new SensorStream
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }

    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = graft.core.Sessions.local(nproc)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val jobs = if (trace) Some(new JobListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(trace, s"$workload-$seed-${ProcessHandle.current.pid}")
    val ctx = new Ctx(spark, seed, seconds, work, spans)
    ctx.values("setup.session_s") = sessionS
    // the session conf as built, before any workload code runs, less
    // the entries that differ in every process
    val conf = spark.conf.getAll.filter { case (k, _) =>
      !PerProcessConf.contains(k) }.toSeq.sortBy(_._1).toMap

    try wl.run(ctx)
    catch { case NonFatal(e) => ctx.fail("workload", e) }
    // scratch the program left behind (deleted only at JVM exit)
    ctx.counters("core.scratch_bytes_left") = Disk.usage(java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir"), "graft-scratch"))._2

    // listener totals are complete only once the bus is drained
    try org.apache.spark.PerfbenchBridge.drainListeners(
      spark.sparkContext, 30000L)
    catch { case NonFatal(e) => ctx.fail("listener drain", e) }
    jobs.foreach { j =>
      // a workload's own count of a layer's work wins over the listener's
      j.counters.foreach { case (k, v) =>
        if (!ctx.counters.contains(k)) ctx.counters(k) = v
        if (wl.jobCountersVary) ctx.varying += k
      }
      ctx.info("jobs_by_module") = j.jobsByModule
      ctx.info("unattributed_call_sites") = j.unattributedCallSites
    }
    if (trace) {
      ctx.info("spans") = spans.records
      spans.totals.foreach { case (k, v) => ctx.info(s"span.$k.total_s") = v }
      spans.selfTotals.foreach { case (k, v) =>
        ctx.info(s"span.$k.self_s") = v }
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> nproc,
      "xmx_bytes" -> Runtime.getRuntime.maxMemory,
      "classes_sha" -> graft.Bench.classesSha(),
      "spark_version" -> spark.version, "spark_conf" -> conf,
      "setup_end_ms" -> ctx.setupEndMs,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures, "checks" -> ctx.checks,
      "samples" -> ctx.samples, "values" -> ctx.values,
      "counters" -> ctx.counters, "varying" -> ctx.varying,
      "info" -> ctx.info)
    val tmp = work.resolve(out.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, Json(record))
    java.nio.file.Files.move(tmp, out,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}

/** A decimal rendered with `digits` fraction digits, in any locale. */
object Num {
  def apply(d: Double, digits: Int): String =
    BigDecimal(d).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toString
}

object Disk {
  /** (files, bytes) under a directory; (0, 0) when it does not exist. */
  def usage(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val walk = java.nio.file.Files.walk(dir)
      try {
        var files, bytes = 0L
        walk.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            files += 1; bytes += java.nio.file.Files.size(p)
          }
        }
        (files, bytes)
      } finally walk.close()
    }

  /** Parquet data files under a directory, at any depth. */
  def dataFiles(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val walk = java.nio.file.Files.walk(dir)
      try walk.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally walk.close()
    }

  def write(p: java.nio.file.Path, s: String): Long = {
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
    java.nio.file.Files.size(p)
  }
}
