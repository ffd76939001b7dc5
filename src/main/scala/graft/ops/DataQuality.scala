package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's inline QA assertion suite, promoted to a reusable
  * checker (SURVEY.md §5.1). Each check returns the offending rows as a
  * DataFrame (empty ⇒ pass) so callers choose collect-and-raise vs report.
  * Reference sites: notebooks/03_silver_smartpool.ipynb §6,
  * notebooks/04_gold_smartpool.ipynb §8.
  */
object DataQuality {

  /** Key uniqueness: `groupBy(pk).count.filter(count > 1)`.
    * Reference: 03_silver_smartpool.ipynb §6. */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_dup"))
      .filter(col("n_dup") > 1)

  /** Critical not-null columns. Reference: 03_silver_smartpool.ipynb §6. */
  def nullViolations(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(c => col(c).isNull).reduce(_ || _))

  /** Domain/catalog membership. Reference: 03_silver_smartpool.ipynb §4. */
  def domainViolations(df: DataFrame, column: String, allowed: Seq[String])
      : DataFrame =
    df.filter(!col(column).isin(allowed: _*))

  /** Referential integrity: fact keys absent from the dimension
    * (left-anti; duplicate dimension keys change nothing, so no
    * distinct). Reference: 03_silver_smartpool.ipynb §6 (J5). */
  def orphanForeignKeys(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): DataFrame =
    fact.join(dim.select(col(dimKey).as(factKey)), Seq(factKey),
      "left_anti")

  /** Assert-all helper: throws with a readable message on first failure.
    * `isEmpty` plans a `CollectLimitExec`, which gathers every
    * partition's first row through one single-partition exchange: one
    * job, all partitions in parallel, however many there are. A
    * `limit(1).count()` adds a second exchange and job for the count. */
  def assertEmpty(name: String, offending: DataFrame): Unit =
    require(offending.isEmpty, s"data-quality check failed: $name")
}
