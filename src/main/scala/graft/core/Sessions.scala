package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory, the Spark-4-native re-expression of the reference's
  * `create_spark` (reference: spark-apps/smartpool_config.py:57-103).
  * Every main and the shared spec session build through it, so the
  * catalog is benched, verified and tested on the session the product
  * ships.
  *
  * Differences from the reference, deliberate (SURVEY.md §4):
  *  - AQE ON (reference disabled it for its 4-core cluster; at 100 TB the
  *    runtime re-plan — coalesced shuffles, skew-join splitting — is essential)
  *  - shuffle partitions sized to the machine, not a fixed 6/200
  *  - UTC session timezone so results are oracle-comparable
  */
object Sessions {
  def local(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores of the catalog mains (Bench, Verify, PlanDump):
    * `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
