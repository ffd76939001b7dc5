package graft

/** Every catalog query runs on sf0.001 and returns a stable schema;
  * value correctness is the DuckDB oracle's job (tools/check_oracle.py
  * replicates the driver's compare). */
class QueriesSmokeSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  Queries.catalog.sortBy(_.name).foreach { case Query(name, fn, oracle) =>
    test(s"$name runs and has oracle-aligned columns") {
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0)
      // queries with an oracle must produce rows at this SF (empty
      // results would make the correctness gate vacuous)
      oracle match {
        case Oracle.Sql(_) => assert(n > 0, s"$name is empty")
        case Oracle.RowsOnly(_) =>
      }
      // type pin: the driver's hash is type-sensitive, so results must
      // stay in the parquet-equivalent type set DuckDB reproduces
      // bit-for-bit (round-6 q140: DuckDB HUGEINT vs Spark BIGINT red
      // row). DecimalType in a Spark result is the mirror-image drift.
      import org.apache.spark.sql.types._
      def drifty(t: DataType): Boolean = t match {
        case _: DecimalType | CalendarIntervalType => true
        case a: ArrayType => drifty(a.elementType)
        case m: MapType => drifty(m.keyType) || drifty(m.valueType)
        case s: StructType => s.fields.exists(f => drifty(f.dataType))
        case _ => false
      }
      df.schema.fields.foreach { f =>
        assert(!drifty(f.dataType),
          s"$name.${f.name} emits ${f.dataType} — not hash-stable " +
            "against the DuckDB oracle; cast to BIGINT/DOUBLE")
      }
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("the catalog check rejects a duplicate, an unknown fixture and " +
      "an empty reason") {
    def q(name: String, oracle: Oracle) =
      Query(name, (s, _) => s.emptyDataFrame, oracle)
    val ok = Seq(q("q01_global_agg", Oracle.Sql("SELECT 1 AS x")),
      q("q27_fingerprint", Oracle.RowsOnly("xxhash64")))
    assert(Queries.validate(ok) == ok)
    def rejects(qs: Seq[Query], why: String) = {
      val e = intercept[IllegalArgumentException](Queries.validate(qs))
      assert(e.getMessage.contains(why), e.getMessage)
    }
    rejects(ok :+ q("q01_global_agg", Oracle.Sql("SELECT 2 AS x")),
      "duplicate catalog name(s): q01_global_agg")
    rejects(ok :+ q("q24_minhash_neardups", Oracle.Sql(
      "SELECT * FROM read_parquet('__VERIFY_OUT__/q999_missing/*.parquet')")),
      "unknown fixture q999_missing")
    rejects(ok :+ q("q171_compress_ratio", Oracle.RowsOnly(" ")),
      "q171_compress_ratio is rows-only without a reason")
  }

  test("the rows-only entries are the four xxhash64 signatures and " +
      "the deflate ratio") {
    val rowsOnly = Queries.catalog.collect {
      case Query(n, _, Oracle.RowsOnly(_)) => n
    }
    assert(rowsOnly.toSet == Set("q27_fingerprint", "q103_simhash_fixture",
      "q104_minhash_band_fixture", "q105_lsh_bucket_fixture",
      "q171_compress_ratio"))
  }

  test("fixture edges derive from the oracles' __VERIFY_OUT__ reads") {
    val edges = Queries.catalog.flatMap(q => q.fixtures.map(q.name -> _))
    assert(edges.toSet == Set(
      "q24_minhash_neardups" -> "q104_minhash_band_fixture",
      "q25_simhash_neardups" -> "q103_simhash_fixture",
      "q30_embedding_neardups" -> "q105_lsh_bucket_fixture",
      "q187_compress_gate" -> "q171_compress_ratio",
      "q196_image_ann_ivf" -> "q192_image_resize"))
  }

  test("loading events leaves the nanosAsLong conf untouched") {
    // the legacy conf must be scoped to the one scan that needs it —
    // session-wide it would silently read unrelated nanos columns as
    // long
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val df = core.Tables.load(spark, sfDir, "events")
    assert(df.count() > 0)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(spark.conf.getOption(key) == before,
      "events load leaked the nanosAsLong session conf")
  }
}
