package graft

import java.nio.file.Files

import graft.core.TableIO

class TableMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  test("describe reports hive partition columns") {
    val root = Files.createTempDirectory("graft-maint2").toString
    val path = s"$root/p"
    TableIO.overwrite(
      Seq((1, "2026-01-01"), (2, "2026-01-02")).toDF("id", "d"),
      path, partitionCols = Seq("d"))
    val d = TableIO.describe(spark, path)
    assert(d("partitionColumns") == Seq("d"))
    // one data file per partition dir; _SUCCESS and .crc sidecars are
    // not data files
    assert(d("numFiles") == 2)
  }
}
