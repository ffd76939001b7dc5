package graft
import graft.core.{JobCounters, Sessions}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Noise model (documented in BASELINE.md §noise): all queries share
  * one JVM/session, so a query's wall time depends on its NEIGHBORHOOD
  * — GC debt, JIT state, and scratch/artifact churn left by whatever
  * ran just before it. Reps of a query taken back-to-back in a fixed
  * catalog order all sample the SAME neighborhood, so min-of-N cannot
  * shed that bias (round 7: q160 read 2.25 s in-run vs 0.69 s
  * isolated). The harness therefore runs PASSES: one cold pass in
  * catalog order (Janino codegen + broadcast + JIT warmup), then
  * `SPARK_GRAFT_BENCH_REPS` (default 3) warm passes, each over the
  * whole catalog in a differently-seeded deterministic shuffle, with a
  * full GC between passes. Each warm rep of a query now lands in a
  * different neighborhood, so the reported per-query MIN across passes
  * converges on the uncontended steady-state time — the
  * cluster-relevant number (on a 1000-executor job the plan compiles
  * once and runs over thousands of partitions).
  *
  * `spread_sec` (Σ per-query max−min across passes) and
  * `med_spread_over_min` (median of per-query spread/min) quantify
  * how noisy this VM was; a per-query swing on byte-identical code
  * reads as measured noise, not a regression. `cold_total_sec` is
  * also reported for transparency.
  *
  * The harness REACTS to chaotic windows, not just records them
  * ([[bestTwoAgree]]): when the two fastest pass totals disagree by
  * more than 10 %, up to 3 extra shuffled passes run until they agree
  * — round 11's pair disagreed 13 % on totals purely because two of
  * three passes landed in a bad VM window ([562, 240, 241] s on
  * byte-identical code), which per-query min-of-3 cannot shed.
  * `extra_passes` in the record says whether the policy fired.
  */
object Bench {
  /** One timed run: its seconds and the Spark work it did, or the
    * failure as `<class>: <message>`. */
  private type Run = Either[String, (Double, JobCounters)]

  /** One query in the record; `detail` is its `counters` or `error`
    * JSON field. */
  private final case class Result(name: String, sec: Double,
      spread: Double, detail: String)

  /** A filter token matches a catalog query by full name
    * (`q139_bm25_incremental`) or by bare id (`q139`) — BASELINE.md
    * documents the bare-id form and ids are unique, so both must work.
    * A filter that selects nothing is an error, not an all-zero record
    * (round 9: `SPARK_GRAFT_BENCH_ONLY=q139` silently wrote
    * `{"value":0.000,"queries":{}}` with exit 0).
    */
  def selectNames(only: Option[Set[String]], names: Seq[String])
      : Seq[String] = {
    val out = names.filter { n =>
      only.forall(f => f.contains(n) || f.contains(n.takeWhile(_ != '_')))
    }
    require(only.isEmpty || out.nonEmpty,
      s"SPARK_GRAFT_BENCH_ONLY=${only.get.mkString(",")} matched zero " +
        "catalog queries — use a full name (q139_bm25_incremental) or " +
        "a bare id (q139)")
    out
  }

  /** Chaotic-window policy: after the standard warm passes, the run is
    * trustworthy only if its two FASTEST pass totals agree — those are
    * the passes least polluted by whatever VM window the others hit
    * (round 11 measured byte-identical code swinging 2.5× between
    * passes inside one JVM: [562, 240, 241] s). If they disagree by
    * more than `bound`, the harness runs additional shuffled warm
    * passes (capped) until they do: per-query mins then converge even
    * when several passes land in a bad window, and run-pair agreement
    * becomes a property of the harness rather than the VM's mood. */
  def bestTwoAgree(totals: Seq[Double], bound: Double = 0.10): Boolean = {
    val s = totals.filter(_ > 0).sorted
    s.size >= 2 && (s(1) - s(0)) / s(0) <= bound
  }

  /** Whether to run one more chaotic-window extra pass: only while the
    * two best totals still disagree, the count cap (≤ 3 extras) holds,
    * AND the extras' elapsed wall time is inside `budgetSec`. The
    * wall-clock budget exists because the count cap alone let a bad
    * window add ~45 min (each extra pass can take 6–15+ min) — round
    * 12's driver bench invocation timed out (`BENCH_r12.json` rc 124)
    * exactly because extras had no time bound. The budget is checked
    * BEFORE starting a pass, so worst case overshoots by one pass,
    * never by the whole cap. */
  def shouldRunExtra(totals: Seq[Double], extrasRun: Int,
      elapsedExtraSec: Double, budgetSec: Double): Boolean =
    !bestTwoAgree(totals) && extrasRun < 3 && elapsedExtraSec < budgetSec

  /** MD5 over every .class file (relative path + bytes) on the running
    * main's code-source directory — stamped into the record so a run
    * PAIR can prove it benched byte-identical code (round 12's pair
    * straddled an in-round plan fix, making one query's delta a code
    * diff instead of noise; `tools/bench_pair.py` now refuses such a
    * pair). "unknown" when the code source isn't a directory. */
  def classesSha(): String = try {
    val loc = Bench.getClass.getProtectionDomain.getCodeSource.getLocation
    val root = java.nio.file.Paths.get(loc.toURI)
    if (!java.nio.file.Files.isDirectory(root)) "unknown"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try {
        walk.iterator().asScala
          .filter(_.toString.endsWith(".class"))
          .map(p => (root.relativize(p).toString, p))
          .toSeq.sortBy(_._1)
          .foreach { case (rel, p) =>
            md.update(rel.getBytes("UTF-8"))
            md.update(java.nio.file.Files.readAllBytes(p))
          }
      } finally walk.close()
      md.digest().map("%02x".format(_)).mkString
    }
  } catch { case _: Throwable => "unknown" }

  /** An ONLY-filtered run must never clobber a committed
    * full-catalog record; compare canonicalized paths AND (when both
    * exist) filesystem identity, so `./BENCH_FULL.json`, an absolute
    * alias, or a SYMLINK to it can't re-open the hole the raw-string
    * compare left. An IO error while resolving counts as a clash —
    * fail safe, never overwrite.
    */
  def guardOutFile(onlySet: Boolean, outFile: String): Unit = {
    if (!onlySet) return
    import java.nio.file.{Files, Paths}
    val full = Paths.get("BENCH_FULL.json")
    val out = Paths.get(outFile)
    val clash =
      // any file NAMED BENCH_FULL*.json is a full-catalog record by
      // convention — the mutable latest AND the immutable per-round
      // pair records (BENCH_FULL_r10.json / _runA.json) — wherever it
      // lives (covers a JVM cwd that differs from the repo root, e.g.
      // tools/run_main.sh launched elsewhere)
      (out.getFileName.toString.startsWith("BENCH_FULL") &&
        out.getFileName.toString.endsWith(".json")) ||
        (try Files.exists(out) && Files.exists(full) &&
          Files.isSameFile(out, full)
        catch { case _: java.io.IOException => true })
    require(!clash,
      "refusing to write a filtered (SPARK_GRAFT_BENCH_ONLY) record " +
        "over BENCH_FULL.json — unset SPARK_GRAFT_BENCH_OUT or point " +
        "it elsewhere")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = Sessions.local(Sessions.envCores, "graft-bench")
    // optional comma-separated name filter for local iteration; the
    // driver never sets it, so driver runs always bench the catalog
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = selectNames(only, SparkEntry.queries.keys.toSeq.sorted)
      .toSet
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected.contains(n) }

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Run =
      try Right(JobCounters.during(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      })
      catch {
        case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
      }
    def sec(r: Run): Double = r.fold(_ => 0.0, _._1)

    // cold pass, catalog order
    val cold = catalog.map { case (name, fn) => name -> run(fn) }.toMap
    val coldTotal = cold.valuesIterator.map(sec).sum
    val okCold = catalog.filter { case (n, _) => cold(n).isRight }

    // warm passes: each a different deterministic shuffle of the
    // catalog, GC'd between passes so one pass's debt doesn't bill
    // the next pass's first queries. Scratch is reclaimed at every
    // pass boundary: a full catalog pass leaves hundreds of
    // per-execution scratch tables (VersionedTable roots, materialized
    // intermediates) that otherwise accumulate until JVM exit — round
    // 10 measured the growing disk/page-cache footprint as a
    // consistent +11 % drag on the later passes' shared queries.
    // Session-cached artifacts (ModelCache-pinned paths) survive.
    val warmRuns = collection.mutable.Map.empty[String, List[Run]]
    val passTotals = collection.mutable.ListBuffer.empty[Double]
    def warmPass(rep: Int): Unit = {
      graft.core.Scratch.reclaimEphemeral()
      System.gc()
      val order = new scala.util.Random(1000003L * rep).shuffle(okCold)
      passTotals += order.map { case (name, fn) =>
        val r = run(fn)
        warmRuns(name) = r :: warmRuns.getOrElse(name, Nil)
        sec(r)
      }.sum
      ()
    }
    (1 to reps).foreach(warmPass)
    // chaotic-window reaction (see bestTwoAgree): min-of-N can't
    // converge when N-1 passes land in a bad window — take extra
    // shuffled passes (≤ 3) until the two best pass totals agree
    // within 10 %, so committed records stay comparable across
    // windows. The count cap keeps a genuinely bistable box from
    // running forever, and the WALL-CLOCK budget ([[shouldRunExtra]])
    // keeps the extras inside whatever limit the driver runs the
    // bench under — round 12's driver record was rc 124 because a
    // 923-s chaos pass plus unbudgeted extras blew it. extra_passes /
    // extras_skipped_for_budget in the record say what happened
    val extraBudget = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA_SEC", "600").toDouble
    val extrasT0 = System.nanoTime()
    var extras = 0
    def elapsedExtra = (System.nanoTime() - extrasT0) / 1e9
    while (shouldRunExtra(passTotals.toSeq, extras, elapsedExtra,
        extraBudget)) {
      extras += 1
      warmPass(reps + extras)
    }
    val extrasSkipped =
      if (!bestTwoAgree(passTotals.toSeq) && extras < 3 &&
        elapsedExtra >= extraBudget) 3 - extras
      else 0

    // per query: warm min across passes, spread = max-min, and the
    // counters of the min pass; a failed run must read as a failure
    // (sec -1 plus its error), not a fast time
    val results = catalog.map { case (name, _) =>
      val runs = warmRuns.getOrElse(name, Nil)
      (cold(name) :: runs).collectFirst { case Left(e) => e } match {
        case Some(e) =>
          Result(name, -1.0, 0.0, s""""error":${Verify.jsonString(e)}""")
        case None =>
          val ok = runs.collect { case Right(r) => r }
          val (best, c) = ok.minBy(_._1)
          Result(name, best, ok.map(_._1).max - best,
            s""""counters":${c.json}""")
      }
    }
    val spreadTotal = results.map(_.spread).sum
    // total of per-query min over only the FIRST `reps` passes (lists
    // are built newest-first, so takeRight = the earliest passes):
    // extra passes lower min-of-N, so a record where the policy fired
    // reads systematically faster than a fixed-3-pass record — this
    // field keeps cross-round comparisons apples-to-apples (compare
    // first_reps totals against first_reps totals)
    val firstRepsTotal = results.filter(_.sec >= 0).map { r =>
      warmRuns(r.name).takeRight(reps).map(sec).min
    }.sum
    val ratios = results.collect {
      case r if r.sec > 0 => r.spread / r.sec
    }.sorted
    val medRatio =
      if (ratios.isEmpty) 0.0 else ratios(ratios.size / 2)

    // the driver captures only a ~2 KB tail of stdout: keep the whole
    // line under that by keying queries on their qNN prefix and
    // rounding times to ms (full names are in SparkEntry.queries)
    def ms(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { r =>
      "\"" + r.name.takeWhile(_ != '_') + "\":" + ms(r.sec)
    }.mkString("{", ",", "}")
    val total = results.map(_.sec).filter(_ >= 0).sum
    val header =
      s""""value":${ms(total)},"unit":"sec",""" +
      s""""cold_total_sec":${ms(coldTotal)},"reps":$reps,""" +
      s""""extra_passes":$extras,""" +
      s""""extras_skipped_for_budget":$extrasSkipped,""" +
      s""""first_reps_total_sec":${ms(firstRepsTotal)},""" +
      s""""classes_sha":"${classesSha()}",""" +
      s""""spread_sec":${ms(spreadTotal)},""" +
      s""""med_spread_over_min":${ms(medRatio)}"""
    println(s"""{"metric":"total",$header,"queries":$qs,""" +
      s""""sf":"$sfDir"}""")
    // the driver's stdout tail capture is lossy (~2 KB): ALSO write the
    // complete record — full query names, per-query min AND spread — to
    // a repo file so each round's bench is self-contained and phantom
    // per-query swings are self-diagnosing against the spread and the
    // counters (exact on identical code, unlike the times)
    val full = results.map { r =>
      s""""${r.name}":{"sec":${ms(r.sec)},"spread_sec":${ms(r.spread)},""" +
        r.detail + "}"
    }.mkString("{", ",", "}")
    // per-pass totals expose within-run drift (a rising sequence on
    // byte-identical code = the run degrading as it goes — the exact
    // signal the pass-boundary scratch reclaim exists to flatten)
    val passJson = passTotals.map(ms).mkString("[", ",", "]")
    // an ONLY-filtered run must never clobber the committed
    // full-catalog record: a one-query isolated re-bench (the triage
    // rule's own tool) overwrote BENCH_FULL.json in rounds 8 AND 9,
    // shipping a single-query file as "the" bench record both times
    val defaultOut =
      if (only.isDefined) "BENCH_ISOLATED.json" else "BENCH_FULL.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // ... and an explicit override can't re-open the hole (a lingering
    // BENCH_OUT env var from a prior full run + an ONLY filter is
    // exactly the clobber this guard exists for)
    guardOutFile(only.isDefined, outFile)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"metric":"total",$header,"sf":"$sfDir",""" +
        s""""warm_pass_totals":$passJson,"queries":$full}""" + "\n")
    spark.stop()
  }
}
