package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-pass replacements for row-scale UNPARTITIONED windows (r12, guide
  * §2 / VERDICT item 3): `Window.orderBy(...)` with no partitionBy moves
  * every row to ONE partition — the single-partition global sort that
  * kills a query at 100 TB (Spark logs `WindowExec: No Partition
  * Defined` for exactly this reason).
  *
  * The device: range-repartition by the sort key (so partition index
  * order IS key order), aggregate one total per partition, turn those
  * ≤ shuffle-partition-count totals into exclusive offsets with a
  * TRIANGULAR SELF-JOIN (pid pairs — O(P²) on P ≈ 32..few-thousand rows,
  * trivial at any scale, and NO WindowExec anywhere), broadcast the
  * offsets back, and finish with a window PARTITIONED by the range
  * partition id. Every step is a keyed shuffle or broadcast; nothing is
  * ever single-partition.
  *
  * Exactness: the sort keys must form a TOTAL order (callers pass a
  * unique tie-break). Range partitions are ordered by construction, so
  * global rank = partition offset + within-partition rank regardless of
  * where the sampled range boundaries land — the sampling in
  * `repartitionByRange` affects the split points, never the result, as
  * long as every reader sees the same split: the range-partitioned frame
  * is local-checkpointed, so the totals and the rows they offset read one
  * evaluated partitioning whether or not the planner reuses the exchange.
  * Boundaries are computed once on the driver, so task retries see a
  * fixed row→partition mapping (no SPARK-38388-style repartition
  * hazard).
  */
private[graft] object TwoPass {

  /** Row-count gate for the hybrid call sites (the `vecsFitBroadcast` /
    * msf-localCap device): BELOW the limit the classic unpartitioned
    * window runs — a single-partition sort of ≤ 10M skinny rows is a few
    * hundred MB and O(seconds) on one core, the verdict's "bounded and
    * fine" case, and it costs 3-4 fewer stages than the two-pass at
    * fixture scale (measured r12: two-pass layout_pruning_stats 2.5-3.4 s
    * vs 1.3-1.8 s classic at sf0.1, where EVERYTHING is fixed overhead).
    * ABOVE it the two-pass replacements take over — the row-scale global
    * sort never happens at warehouse scale. Callers gate on the parquet
    * footer row count of the BASE table feeding the window (an upper
    * bound for derived inputs; zero extra jobs — Tables.rowCount), so the
    * decision is the one a catalog-stats planner would make.
    * Conf-overridable so specs force the two-pass path at fixture scale
    * (TwoPassSpec pins both paths value-identical, and the r12 oracle
    * gates ran the pure two-pass forms green at all three fixture SFs).
    */
  val SmallInputLimitKey = "spark.graft.twopass.smallInputLimit"
  val SmallInputLimitDefault: Long = 10000000L

  def smallInput(s: org.apache.spark.sql.SparkSession, rows: Long): Boolean =
    rows <= s.conf.get(SmallInputLimitKey, SmallInputLimitDefault.toString).toLong

  private val Pid = "__tp_pid"
  private val Off = "__tp_off"

  /** `df` plus range-partition id, the exclusive prefix of `agg` over
    * preceding partitions (in `keys` order) as `out`, and — when
    * `withTotal` — the grand total as `__tp_n`. The shared core of the
    * public helpers; the total rides the SAME ≤ P-row partition-totals
    * aggregate, never a second scan of `df`. */
  private def withPidOffsets(df: DataFrame, keys: Seq[Column],
      perPartition: Column, out: String, withTotal: Boolean = false): DataFrame = {
    // Checkpointed: the totals and the final join both read `ranged`, and
    // without exchange reuse each branch would plan its own range exchange
    // with its own sampled boundaries; the checkpoint makes both read one
    // evaluated partitioning
    val ranged = df.repartitionByRange(keys: _*)
      .withColumn(Pid, spark_partition_id())
      .localCheckpoint(false)
    val totals = ranged.groupBy(col(Pid)).agg(perPartition.as("__tp_tot"))
    // exclusive offsets without a window: pair the ≤ P partition totals
    // with themselves (P² tiny rows), sum the STRICTLY-PRECEDING side per
    // partition; the grand total is the sum over ALL pairs' b side
    val joined = totals.as("__tp_a").crossJoin(totals.as("__tp_b"))
      .groupBy(col(s"__tp_a.$Pid").as(Pid))
      .agg(
        sum(when(col(s"__tp_b.$Pid") < col(s"__tp_a.$Pid"),
          col("__tp_b.__tp_tot")).otherwise(lit(0L))).as(out),
        sum(col("__tp_b.__tp_tot")).as("__tp_n"))
    val offs =
      if (withTotal) joined else joined.select(col(Pid), col(out))
    ranged.join(broadcast(offs), Pid)
  }

  /** Exact 1-based global rank over the total order `keys` — the
    * `row_number().over(Window.orderBy(keys))` replacement. */
  def globalRank(df: DataFrame, keys: Seq[Column], out: String): DataFrame =
    withPidOffsets(df, keys, count(lit(1)), Off)
      .withColumn(out,
        row_number().over(Window.partitionBy(Pid).orderBy(keys: _*))
          .cast("long") + col(Off))
      .drop(Pid, Off)

  /** Exact `ntile(n).over(Window.orderBy(keys))` replacement (LongType).
    * Standard ntile semantics, reproduced arithmetically from the global
    * rank: with N rows, q = N div n and r = N mod n, the first r buckets
    * hold q+1 rows — identical bucket boundaries to Spark's and DuckDB's
    * NTile. */
  def globalNtile(df: DataFrame, n: Int, keys: Seq[Column], out: String): DataFrame = {
    require(n > 0, s"ntile requires n > 0, got $n")
    val rn = "__tp_rn"
    withPidOffsets(df, keys, count(lit(1)), Off, withTotal = true)
      .withColumn(rn,
        row_number().over(Window.partitionBy(Pid).orderBy(keys: _*))
          .cast("long") + col(Off))
      // integer `div` keeps the arithmetic exact at any row count
      .withColumn(out, expr(
        s"""CASE WHEN $rn <= (__tp_n % $n) * (__tp_n div $n + 1)
           |     THEN ($rn - 1) div (__tp_n div $n + 1) + 1
           |     ELSE (__tp_n % $n) +
           |          ($rn - (__tp_n % $n) * (__tp_n div $n + 1) - 1)
           |            div (__tp_n div $n) + 1
           |END""".stripMargin))
      .drop(Pid, Off, rn, "__tp_n")
  }

  /** Exact EXCLUSIVE running sum of `value` over the total order `keys`
    * — the `sum(value).over(Window.orderBy(keys)) - value` replacement.
    * `value` must be a LongType column name on `df`. */
  def exclusivePrefixSum(df: DataFrame, keys: Seq[Column], value: String,
      out: String): DataFrame =
    withPidOffsets(df, keys, sum(col(value)), Off)
      .withColumn(out,
        sum(col(value)).over(Window.partitionBy(Pid).orderBy(keys: _*)) +
          col(Off) - col(value))
      .drop(Pid, Off)
}
