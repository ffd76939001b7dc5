package graft

import graft.core.{JobCounters, Par}
import org.apache.spark.ListenerCount

class JobCountersSpec extends SparkTestBase {
  // 4 range tasks + 3 repartitioned partial counts + 1 final count, in
  // 3 jobs under AQE (each shuffle map stage is its own job); the same
  // figures the spec-local onJobStart/onTaskEnd listeners this helper
  // replaced read on this session
  private def repartitionCount(): Unit =
    assert(spark.range(0, 1000, 1, 4).repartition(3).count() == 1000)

  test("a fixed repartitioned count runs exactly 3 jobs and 8 tasks") {
    val c = counted(repartitionCount())
    assert((c.jobs, c.tasks) == ((3, 8)))
    assert(c.stages == 3)
    assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0)
    assert(c.jobsByLabel == Map("unlabeled" -> 3))
  }

  test("jobs launched from Par worker threads are counted") {
    val c = counted(Par.run(Seq(
      () => spark.range(0, 100, 1, 2).count(),
      () => spark.range(0, 100, 1, 3).count())))
    assert((c.jobs, c.tasks) == ((4, 7)))
  }

  test("an exception in the body propagates and leaves no listener") {
    val before = ListenerCount(spark.sparkContext)
    val e = intercept[IllegalStateException] {
      JobCounters.during(spark) {
        repartitionCount()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ListenerCount(spark.sparkContext) == before)
    counted(repartitionCount())
    assert(ListenerCount(spark.sparkContext) == before)
  }

  test("two runs of the same body give equal counters") {
    val dir = java.nio.file.Files.createTempDirectory("jobcounters")
      .resolve("t").toString
    spark.range(0, 5000, 1, 4).selectExpr("id % 7 AS k", "id AS v")
      .write.parquet(dir)
    def body(): Unit = assert(spark.read.parquet(dir).groupBy("k").count()
      .collect().length == 7)
    val (a, b) = (counted(body()), counted(body()))
    assert(a == b)
    assert(a.inputRecords == 5000 && a.inputBytes > 0)
  }

  test("jobs are split by the first word of their description") {
    val sc = spark.sparkContext
    val c = counted {
      sc.setJobDescription("commit gold_daily")
      try spark.range(10).collect() finally sc.setJobDescription(null)
      spark.range(10).collect()
    }
    assert(c.jobsByLabel == Map("commit" -> 1, "unlabeled" -> 1))
    assert(c.json.contains(""""jobs_by_label":{"commit":1,"unlabeled":1}"""))
  }
}
