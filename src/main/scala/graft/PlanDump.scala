package graft
import graft.core.Sessions

/** Plan inspection: print the formatted physical plan of the named
  * catalog queries on the product session — the manual `.explain`
  * loop the scale audit runs after every operator lands. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.envCores, "graft-plandump")
    args.foreach { name =>
      println(s"========== $name ==========")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
