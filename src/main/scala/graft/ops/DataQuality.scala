package graft.ops

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's inline QA assertion suite, promoted to a reusable
  * checker (SURVEY.md §5.1). Each check returns the offending rows as a
  * DataFrame (empty ⇒ pass) so callers choose collect-and-raise vs report.
  * Reference sites: notebooks/03_silver_smartpool.ipynb §6,
  * notebooks/04_gold_smartpool.ipynb §8.
  *
  * A check can also ride the write it guards ([[gate]],
  * [[uniqueKeysGate]]): the offending rows are counted by the write's
  * own tasks, and the count is read after the data files are written
  * and before the version is claimed (the `beforeClaim` hook of
  * [[graft.core.TableIO.publishSnapshot]]). The check costs no job, and
  * a failed one publishes nothing.
  */
object DataQuality {

  /** How long [[Gate.check]] waits for its write's metric. */
  private val MetricWait = 30.seconds

  /** A check observed on the write of one frame (see [[gate]]). */
  final class Gate private[DataQuality] (val name: String,
      obs: Observation) {

    /** Throws `data-quality check failed: <name>` when the write saw an
      * offending row. Call it after the write's action. The metric
      * arrives through the listener bus, which may drop an event under
      * load: past [[MetricWait]] the check fails rather than let an
      * unchecked write publish. */
    def check(): Unit = {
      val offending =
        try Await.result(obs.future, MetricWait).getAs[Long]("offending")
        catch {
          case _: TimeoutException => throw new IllegalStateException(
            s"data-quality check $name: its write reported no metric " +
              s"within $MetricWait")
        }
      require(offending == 0, s"data-quality check failed: $name")
    }
  }

  /** `df` observed by a [[Gate]] that counts its rows where `offending`
    * holds. The action that writes the returned frame computes the
    * count, so the gate adds no job. */
  def gate(name: String, df: DataFrame, offending: Column)
      : (DataFrame, Gate) = {
    val obs = Observation()
    (df.observe(obs, count(when(offending, lit(1))).as("offending")),
      new Gate(name, obs))
  }

  /** [[duplicateKeys]] as a [[gate]]: a `count(1) over (partition by
    * keys)` window counts the rows whose key is not unique. On a frame
    * already hash-partitioned and sorted on `keys` (a [[DedupLatest]]
    * output), the window adds no exchange and no sort. */
  def uniqueKeysGate(name: String, df: DataFrame, keys: Seq[String])
      : (DataFrame, Gate) = {
    val rows = "__dq_key_rows"
    val (observed, g) = gate(name, df.withColumn(rows,
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*))),
      col(rows) > 1)
    (observed.drop(rows), g)
  }

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
