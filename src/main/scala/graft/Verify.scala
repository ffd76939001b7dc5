package graft
import graft.core.Sessions
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB oracle compare, rows_only.json
  * (`{name: reason}`) naming why each query without an oracle has
  * none, and failures.json (`{name: "<class>: <message>"}`) naming
  * every query that threw, so the compare counts it as a fail instead
  * of missing its directory. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in oracle SQL would otherwise make
    * the compare's json.load fail and silently zero the correctness
    * record. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for targeted
    // re-checks at larger SFs (driver always passes 2 args = full dump).
    // Queries whose ORACLE reads a Spark-dumped fixture from this same
    // out dir pull their fixture query in automatically — a filter
    // selecting only q24 would otherwise compare against a missing or
    // stale fixture and silently mis-verify.
    val only: Option[Set[String]] =
      if (args.length > 2) {
        val asked = args(2).split(",").toSet
        // a typo must fail loudly, not produce an empty "all green" run
        val unknown = asked -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"unknown query name(s): ${unknown.mkString(", ")} — " +
            s"valid names are in SparkEntry.queries")
        Some(asked ++ Queries.catalog.filter(q => asked(q.name))
          .flatMap(_.fixtures))
      } else None
    val spark = Sessions.local(Sessions.envCores, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}"))
    // the oracles keep their __VERIFY_OUT__ placeholder: the compare
    // substitutes the dump dir it is given, so a dump checks the same
    // after it is moved or copied
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), Queries.catalog
      .collect { case Query(k, _, Oracle.RowsOnly(why)) =>
        s"${jsonString(k)}: ${jsonString(why)}" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
