package graft

import graft.core.{JobCounters, Sessions}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, getClass.getSimpleName)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** The Spark work `body` started (see [[JobCounters.during]]). */
  def counted(body: => Any): JobCounters = JobCounters.during(spark)(body)._2

  /** Publish the next version of the VersionedTable at `path` with no
    * data files: legal in the format (another writer's empty snapshot),
    * though every commit API writes at least one file. */
  def commitNoFiles(path: String): Unit = {
    val v = graft.core.VersionedTable.latestVersion(spark, path) + 1
    val p = new org.apache.hadoop.fs.Path(f"$path/_manifests/v$v%05d.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, false)
    try out.write("#done\n".getBytes("UTF-8")) finally out.close()
  }

  /** Delete the file `name` in `dir` and its Hadoop `.crc` sidecar: a
    * checkpoint log entry or commit marker that a crash never wrote. */
  def deleteEntry(dir: java.nio.file.Path, name: String): Unit = {
    java.nio.file.Files.delete(dir.resolve(name))
    java.nio.file.Files.deleteIfExists(dir.resolve(s".$name.crc"))
  }

  /** A [[graft.core.TxnJournal]] intent line pinning each of `subs`
    * at the matching version of `versions` (for forging a crash). */
  def namedIntent(subs: Seq[String], versions: Seq[Int]): String =
    subs.zip(versions)
      .map { case (s, v) => s"${graft.core.TxnJournal.seg(s)}:$v" }
      .mkString(" ")
}
