package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.TableIO

/** Lake table IO: parquet round-trips through TableIO, with its
  * Delta-style schema guards, and the reference CLIs' argument
  * surface. The four streaming sinks and JDBC are covered in
  * StreamResumeSpec / JdbcIngestSpec.
  */
class FormatsSpec extends SparkTestBase {
  import spark.implicits._

  test("parquet round-trips through TableIO") {
    val root = Files.createTempDirectory("graft-fmt-parquet").toString
    TableIO.overwrite(Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 0.0))
      .toDF("id", "s", "v"), s"$root/t")
    val back = TableIO.read(spark, s"$root/t")
    assert(back.count() == 3)
    assert(back.select(sum(col("v"))).as[Double].head() == 4.0)
    assert(back.filter(col("s").isNull).count() == 1)
  }

  test("additive schema evolution: guarded append + mergeSchema read") {
    val root = Files.createTempDirectory("graft-evolve").toString
    val path = s"$root/t"
    TableIO.overwrite(Seq((1L, "a")).toDF("id", "s"), path)
    // a new column is refused by default (Delta-style enforcement)…
    intercept[IllegalArgumentException] {
      TableIO.append(Seq((2L, "b", 9.9)).toDF("id", "s", "extra"), path)
    }
    // …and admitted with mergeSchema; the union schema reads back with
    // nulls for pre-evolution rows
    TableIO.append(Seq((2L, "b", 9.9)).toDF("id", "s", "extra"),
      path, mergeSchema = true)
    val back = TableIO.read(spark, path, mergeSchema = true)
    assert(back.columns.toSet == Set("id", "s", "extra"))
    assert(back.count() == 2)
    assert(back.filter(col("extra").isNull).count() == 1)
    // snapshot overwrite with a DIFFERENT schema needs overwriteSchema
    intercept[IllegalArgumentException] {
      TableIO.overwrite(Seq((1L, 2.0)).toDF("id", "x"), path)
    }
    TableIO.overwrite(Seq((1L, 2.0)).toDF("id", "x"), path,
      overwriteSchema = true)
    assert(TableIO.read(spark, path).columns.toSet
      == Set("id", "x"))
  }

  test("schema guards: missing-column append and type-change overwrite refused") {
    val root = Files.createTempDirectory("graft-guards").toString
    val path = s"$root/t"
    TableIO.overwrite(Seq((1L, "a")).toDF("id", "s"), path)
    // appending a frame MISSING a column would mix footers and let a
    // default read silently drop the column
    intercept[IllegalArgumentException] {
      TableIO.append(Seq(Tuple1(2L)).toDF("id"), path)
    }
    // same names, different type: still a schema change
    intercept[IllegalArgumentException] {
      TableIO.overwrite(Seq((1L, 7)).toDF("id", "s"), path)
    }
    // APPEND with a retyped same-named column: writes conflicting
    // footers that a later read fails to merge — refused like
    // overwrite, not just name-checked
    intercept[IllegalArgumentException] {
      TableIO.append(Seq((2L, 7)).toDF("id", "s"), path)
    }
    // unchanged schema still appends/overwrites freely
    TableIO.append(Seq((3L, "c")).toDF("id", "s"), path)
    assert(TableIO.read(spark, path).count() == 2)
  }

  test("spark-submit arg surface parses like the reference CLIs") {
    val a = graft.batch.JobMains.parseArgs(Array(
      "--lake-root", "/tmp/x", "--ingest-date", "2026-01-15",
      "--upsert", "false"))
    assert(a == Map("lake-root" -> "/tmp/x",
      "ingest-date" -> "2026-01-15", "upsert" -> "false"))
  }
}
