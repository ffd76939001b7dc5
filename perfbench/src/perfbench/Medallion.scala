package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.batch.{ElectricityBatchJob, StructuredBatchJob}
import graft.core.{LakeLayout, TableIO, VersionedTable}

/** Daily increments through EP1 (`StructuredBatchJob.run`) and EP2
  * (`ElectricityBatchJob.run`), one caller in a closed loop, history
  * accumulating in one lake for the whole run.
  *
  * Each EP1 day lands re-versioned and new pools plus maintenance
  * events with fixed shares of duplicate ids, orphan pool ids, bogus
  * intervention types and nulls. Each EP2 day lands one `date=`
  * partition of price CSVs with cross-file duplicates. The generator
  * keeps every row it emitted and computes what silver and gold must
  * hold, so the run checks its outputs against an independent model. */
final class Medallion extends Workload {
  import Medallion._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = ctx.work.resolve("medallion")
    val layout = LakeLayout(root.resolve("lake").toString)
    val landingEp1 = root.resolve("landing/ep1")
    val landingEp2 = root.resolve("landing/electricity")
    val gen = new Gen(ctx.seed)
    var landedBytes = 0L
    var inputRows = 0L

    def land(day: Int): Unit = {
      val (pools, events) = gen.day(day)
      val dir = landingEp1.resolve(s"day=$day")
      val sc = spark.sparkContext
      sc.setJobDescription(Attribution.BenchLabel + "landing")
      try {
        spark.createDataFrame(java.util.Arrays.asList(pools: _*), PoolSchema)
          .coalesce(1).write.mode(SaveMode.ErrorIfExists)
          .parquet(dir.resolve("pools").toString)
        spark.createDataFrame(java.util.Arrays.asList(events: _*),
            EventSchema)
          .coalesce(1).write.mode(SaveMode.ErrorIfExists)
          .parquet(dir.resolve("events").toString)
      } finally sc.setJobDescription(null)
      landedBytes += Disk.usage(dir)._2
      val csvs = gen.prices(day)
      csvs.zipWithIndex.foreach { case (text, i) =>
        landedBytes += Disk.write(landingEp2.resolve(
          s"date=${gen.date(day)}/prices_${gen.date(day)}_$i.csv"), text)
      }
      inputRows += pools.size + events.size +
        csvs.map(_.count(_ == '\n') - 1).sum
    }

    def increment(day: Int): Unit = {
      val dir = landingEp1.resolve(s"day=$day")
      ctx.spans("batch.ep1_run") {
        StructuredBatchJob.run(spark, layout,
          spark.read.parquet(dir.resolve("pools").toString),
          spark.read.parquet(dir.resolve("events").toString))
      }
      ctx.spans("batch.ep2_run") {
        ElectricityBatchJob.run(spark, layout, landingEp2.toString)
      }
    }

    // set-up: inputs for the first day, the cold first increment, then
    // warm increments: the JIT compiler is still busy with the next one
    // or two, which run 10-40 % slower than the ones after them, by an
    // amount that differs from run to run
    val (_, genS) = ctx.timed(land(0))
    ctx.values("setup.datagen_s") = genS
    val (_, warmS) = ctx.timed {
      ctx.attempt("increment 0")(increment(0))
      for (day <- 1 to WarmIncrements) {
        land(day)
        ctx.attempt(s"increment $day")(increment(day))
      }
    }
    ctx.values("setup.warmup_s") = warmS
    ctx.markSetupDone()

    // a fixed number of increments for the run length, so the work
    // done, and every counter, depend only on the seed and --seconds
    val first = WarmIncrements + 1
    val days = WarmIncrements + math.max(MinIncrements,
      math.round(ctx.seconds / IncrementSecondsEstimate).toInt)
    val rowsBefore = inputRows
    var measuredS = 0.0
    for (day <- first to days) {
      land(day)
      val (ok, s) = ctx.timed(ctx.attempt(s"increment $day")(increment(day)))
      if (ok.isDefined) {
        ctx.sample("increment_s", s)
        measuredS += s
      }
    }
    ctx.values("days") = days + 1
    ctx.values("ingest_rows_per_s") = (inputRows - rowsBefore) / measuredS
    val (lakeFiles, lakeBytes) = Disk.usage(root.resolve("lake"))
    ctx.values("lake_bytes_per_input_byte") = lakeBytes.toDouble / landedBytes
    ctx.counters("core.lake_files") = lakeFiles
    ctx.counters("core.lake_bytes") = lakeBytes
    ctx.counters("core.snapshot_versions") = Seq(
      layout.silver("pools_dim"), layout.silver("maintenance_events"),
      layout.gold("events_enriched"), layout.gold("daily_metrics"),
      layout.gold("latest_event"))
      .map(p => VersionedTable.latestVersion(spark, p).toLong).sum
    checkOutputs(ctx, layout, gen, days + 1)
  }

  private def checkOutputs(ctx: Ctx, layout: LakeLayout, gen: Gen,
      days: Int): Unit = {
    val spark = ctx.spark
    val exp = gen.expected(days)
    def snap(p: String) = TableIO.readSnapshot(spark, p)
    ctx.checkEq("silver pools rows", exp.pools,
      snap(layout.silver("pools_dim")).count())
    ctx.checkEq("silver events rows", exp.events,
      snap(layout.silver("maintenance_events")).count())
    ctx.checkEq("gold events_enriched rows", exp.events,
      snap(layout.gold("events_enriched")).count())
    val daily = snap(layout.gold("daily_metrics"))
    ctx.checkEq("gold daily_metrics rows", exp.poolDays, daily.count())
    val cost = daily.agg(sum(col("total_cost_eur"))).head().getDouble(0)
    // per-group totals are rounded to 4 dp before the sum
    ctx.checkClose("gold total_cost_eur", exp.cost, cost,
      1e-4 * exp.poolDays + 1e-9 * math.abs(exp.cost))
    ctx.checkEq("gold latest_event rows", exp.poolsWithEvents,
      snap(layout.gold("latest_event")).count())

    def plain(p: String) = spark.read.parquet(p)
    ctx.checkEq("silver electricity rows", exp.priceHours,
      plain(layout.silver("electricity_prices")).count())
    val stats = plain(layout.gold("electricity_daily"))
    ctx.checkEq("gold electricity_daily rows", exp.priceDays, stats.count())
    val priceSum = stats.agg(sum(col("sum_price"))).head().getDouble(0)
    ctx.checkClose("gold electricity sum_price", exp.priceSum, priceSum,
      1e-4 * exp.priceDays + 1e-9 * math.abs(exp.priceSum))
    ctx.checkEq("gold electricity_peak_hours rows", exp.priceDays * 5,
      plain(layout.gold("electricity_peak_hours")).count())
  }
}

object Medallion {
  val MinIncrements = 2
  // warm increments after the cold one, before any is measured
  val WarmIncrements = 1
  // about one warm increment's time on a 4-core box; sets the count of
  // measured increments
  val IncrementSecondsEstimate = 10.0
  val NewPoolsFirstDay = 200
  val NewPoolsPerDay = 10
  val ReversionedPerDay = 20
  val EventsPerDay = 20000
  // shares of the day's events
  val DuplicateShare = 0.03
  val OrphanShare = 0.02
  val BogusShare = 0.02
  val NullTimeShare = 0.01
  val NullProductShare = 0.03
  // the region CsvVariants assigns to variants without a region column
  val Region = "ES"
  val RepeatedHours = 6

  val PoolSchema: StructType = StructType(Seq(
    StructField("pool_id", IntegerType), StructField("pool_name", StringType),
    StructField("location", StringType),
    StructField("volume_liters", IntegerType),
    StructField("is_heated", BooleanType),
    StructField("owner_type", StringType),
    StructField("updated_at", TimestampType)))

  val EventSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("pool_id", IntegerType),
    StructField("event_time", TimestampType),
    StructField("intervention_type", StringType),
    StructField("product_type", StringType),
    StructField("product_amount", DoubleType),
    StructField("notes", StringType),
    StructField("updated_at", TimestampType)))

  final case class Pool(id: Int, name: String, location: String,
      volume: Int, heated: Boolean, owner: String, updatedMs: Long)
  final case class Event(id: Int, pool: Int, timeMs: Option[Long],
      kind: String, product: Option[String], amount: Option[Double],
      updatedMs: Long)
  final case class Expected(pools: Long, events: Long, poolDays: Long,
      cost: Double, poolsWithEvents: Long, priceHours: Long, priceDays: Long,
      priceSum: Double)

  private val Owners = Seq("private", "airbnb", "hotel", "sports_center")
  private val Cities = Seq("Madrid", "Sevilla", "Bilbao", "Valencia", "Toledo")
  private val Products = Map(
    "chlorine" -> Seq("dichloro", "tricloro"),
    "ph_correction" -> Seq("minus", "plus"))
  private val DayMs = 86400000L

  /** Deterministic generator of the daily inputs and the model of what
    * the pipeline must publish from them. */
  final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val variant: Int = Math.floorMod(seed, 3L).toInt
    private val start = LocalDate.of(2026, 1, 15)
    private val pools = mutable.LinkedHashMap.empty[Int, Pool]
    private val events = mutable.ArrayBuffer.empty[Event]
    private val lastUpdate = mutable.Map.empty[Int, Long]
    // (date, hour) -> price of the winning (latest file) row
    private val prices = mutable.Map.empty[(String, Int), Double]
    private var nextPool = 1
    private var nextEvent = 1

    def date(day: Int): String = start.plusDays(day).toString
    private def dayMs(day: Int): Long =
      start.plusDays(day).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

    private def poolRow(p: Pool): Row = Row(p.id, p.name, p.location,
      p.volume, p.heated, p.owner, new Timestamp(p.updatedMs))

    private def eventRow(e: Event): Row = Row(e.id, e.pool,
      e.timeMs.map(new Timestamp(_)).orNull, e.kind, e.product.orNull,
      e.amount.map(Double.box).orNull,
      if (rnd.nextInt(4) == 0) null else s"note ${rnd.nextInt(1000)}",
      new Timestamp(e.updatedMs))

    /** The day's raw pools and events. */
    def day(day: Int): (Seq[Row], Seq[Row]) = {
      val t0 = dayMs(day)
      val n = if (day == 0) NewPoolsFirstDay else NewPoolsPerDay
      val fresh = (0 until n).map { _ =>
        val p = Pool(nextPool, s"pool $nextPool",
          Cities(rnd.nextInt(Cities.size)), 10000 + 1000 * rnd.nextInt(90),
          rnd.nextBoolean(), Owners(rnd.nextInt(Owners.size)),
          t0 + rnd.nextInt(3600) * 1000L)
        nextPool += 1
        p
      }
      val existing = pools.keys.toIndexedSeq
      val reversioned =
        if (day == 0) Nil
        else rnd.shuffle(existing).take(ReversionedPerDay).map { id =>
          pools(id).copy(volume = 10000 + 1000 * rnd.nextInt(90),
            owner = Owners(rnd.nextInt(Owners.size)),
            updatedMs = t0 + 3600000L + rnd.nextInt(3600) * 1000L)
        }
      (fresh ++ reversioned).foreach(p => pools(p.id) = p)
      val ids = pools.keys.toIndexedSeq

      val prior = events.size
      val evs = (0 until EventsPerDay).map { _ =>
        val u = rnd.nextDouble()
        val e =
          if (u < DuplicateShare && prior > 0) {
            // a later version of an earlier day's id: new amount, and a
            // stamp later than every version emitted so far
            val old = events(rnd.nextInt(prior))
            old.copy(amount = old.amount.map(_ + 1.0),
              updatedMs = math.max(lastUpdate(old.id), t0) + 1000L +
                rnd.nextInt(600000))
          } else {
            val time = t0 + rnd.nextInt(86400) * 1000L
            val pool =
              if (u < DuplicateShare + OrphanShare) 900000 + rnd.nextInt(1000)
              else ids(rnd.nextInt(ids.size))
            val kind =
              if (u >= DuplicateShare + OrphanShare &&
                u < DuplicateShare + OrphanShare + BogusShare) "bogus_type"
              else graft.model.Schemas.interventionTypes(rnd.nextInt(4))
            val nullTime = rnd.nextDouble() < NullTimeShare
            val nullProduct = rnd.nextDouble() < NullProductShare
            val product =
              if (nullProduct) None
              else Products.get(kind).map(ps => ps(rnd.nextInt(ps.size)))
            val amount =
              if (nullProduct || !Products.contains(kind)) None
              else Some(math.round(rnd.nextDouble() * 500) / 100.0)
            nextEvent += 1
            Event(nextEvent - 1, pool, if (nullTime) None else Some(time),
              kind, product, amount, time + rnd.nextInt(3600) * 1000L)
          }
        events += e
        lastUpdate(e.id) = e.updatedMs
        e
      }
      ((fresh ++ reversioned).map(poolRow), evs.map(eventRow))
    }

    /** The day's price CSVs: hours 0-11 and 12-23 in two files, then a
      * third file that re-sends some hours with new prices (the later
      * file wins). All files of a run share one `CsvVariants` schema,
      * chosen by the seed: `IncrementalFiles.readNew` applies the first
      * file's header to every file it reads, so a landing read that
      * mixes schemas fails to cast. */
    def prices(day: Int): Seq[String] = {
      val d = date(day)
      def file(variant: Int, rows: Seq[(Int, Double)]): String = {
        def hh(h: Int) = if (h < 10) s"0$h" else s"$h"
        val (header, line) = variant match {
          case 0 => ("ts_utc,date,hour,price_eur_mwh,price_eur_kwh,region,source",
            (h: Int, p: Double) => s"${d}T${hh(h)}:00:00Z,$d,$h,${Num(p, 2)}," +
              s"${Num(p / 1000, 6)},$Region,synthetic")
          case 1 => ("ts,price_eur_mwh",
            (h: Int, p: Double) => s"$d ${hh(h)}:00:00,${Num(p, 2)}")
          case _ => ("date,hour,price_eur_mwh",
            (h: Int, p: Double) => s"$d,$h,${Num(p, 2)}")
        }
        (header +: rows.map { case (h, p) => line(h, p) })
          .mkString("", "\n", "\n")
      }
      def price() = math.round((40 + rnd.nextDouble() * 80) * 100) / 100.0
      val hours = (0 until 24).map(h => (h, price()))
      val again = rnd.shuffle(hours).take(RepeatedHours)
        .map { case (h, _) => (h, price()) }
      (hours ++ again).foreach { case (h, p) => prices((d, h)) = p }
      Seq(hours.take(12), hours.drop(12), again).map(file(variant, _))
    }

    /** What silver and gold must hold after days [0, days). */
    def expected(days: Int): Expected = {
      val valid = events.filter(e => e.timeMs.isDefined &&
        graft.model.Schemas.interventionTypes.contains(e.kind))
      val latest = valid.groupBy(_.id).values
        .map(_.maxBy(e => (e.updatedMs, e.timeMs.get)))
        .filter(e => pools.contains(e.pool)).toSeq
      def cost(e: Event): Double = e.kind match {
        case "chlorine" => e.amount.getOrElse(0.0) * 3.5
        case "refill" => pools(e.pool).volume / 1000.0 * 1.8
        case "ph_correction" => e.amount.getOrElse(0.0) * 2.1
        case _ => 4.0
      }
      val groups = latest.groupBy(e => (e.pool, e.timeMs.get / DayMs))
      val totalCost = groups.values.map(g =>
        BigDecimal(g.map(cost).sum).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble).sum
      val byDay = prices.groupBy { case ((d, _), _) => d }
      val priceSum = byDay.values.map(m => BigDecimal(m.values.sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).sum
      require(byDay.size == days)
      Expected(pools.size, latest.size, groups.size, totalCost,
        latest.map(_.pool).distinct.size, prices.size, byDay.size, priceSum)
    }
  }
}
