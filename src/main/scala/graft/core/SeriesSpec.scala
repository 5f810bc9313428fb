package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Canonical long-form series layout: one row per (series-key*, ts)
  * observation, measurement in `value`.
  *
  * The reference engine (WalterHet/wq_data_pipeline) processes one
  * pandas Series per variable in a driver loop
  * (scripts/ufz_water_qc_pipeline.py:753-759). Here each series is one
  * window partition — `keys` is the scale axis: 100 TB = many series,
  * each processed independently after a single hash partitioning that
  * every window stage below reuses (one exchange, one sort).
  */
final case class SeriesSpec(
    keys: Seq[String] = Seq("series"),
    ts: String = "ts",
    value: String = "value") {
  def keyCols: Seq[Column] = keys.map(col)
  def tsCol: Column = col(ts)
  def valueCol: Column = col(value)
}

/** Window-frame helpers encoding the reference's pandas rolling
  * conventions exactly once (SURVEY §2.0):
  *
  *  - count-based centered frames put the extra row of an even window
  *    on the LEFT (pandas FixedWindowIndexer: offset=(k-1)//2, window
  *    = [i-k+1+offset, i+offset]) — scripts/sentemqc.py:25-30,
  *    scripts/ufz_water_qc_pipeline.py:409-422;
  *  - min_periods counts FINITE values in the frame (we model missing
  *    as SQL NULL, so `count(value)` is that count);
  *  - rolling median interpolates the middle pair (numpy/pandas
  *    semantics); Spark's `median`/`percentile` reject window frames,
  *    so it is computed by the native `graft_sliding_median` aggregate.
  */
object SeriesWindows {

  /** The one canonical ordering every stage shares: partition by the
    * series keys, order by time. Catalyst reuses the single exchange +
    * sort across all window stages built from this spec.
    */
  def ordered(spec: SeriesSpec): WindowSpec =
    Window.partitionBy(spec.keyCols: _*).orderBy(spec.tsCol)

  /** Centered count-based frame of k rows, pandas convention: lower
    * bound -(k/2), upper bound (k-1)/2 — even k puts the extra row on
    * the left (verified vs pandas FixedWindowIndexer.get_window_bounds).
    */
  def centered(spec: SeriesSpec, k: Int): WindowSpec = {
    require(k >= 1, s"window size must be >= 1, got $k")
    ordered(spec).rowsBetween(-(k / 2).toLong, ((k - 1) / 2).toLong)
  }

  /** min_periods guard: emit `agg` only when the frame holds at least
    * `minp` non-null values of `value` (pandas min_periods counts
    * finite values; NULL is our NaN).
    */
  def guarded(value: Column, w: WindowSpec, minp: Int)(agg: Column): Column =
    when(count(value).over(w) >= minp, agg)

  def rollingMean(value: Column, w: WindowSpec, minp: Int): Column =
    guarded(value, w, minp)(avg(value).over(w))

  /** pandas rolling(...).std(ddof=0) — population std (sentemqc.py:29). */
  def rollingStdPop(value: Column, w: WindowSpec, minp: Int): Column =
    guarded(value, w, minp)(stddev_pop(value).over(w))

  /** pandas rolling(...).var() — default ddof=1, sample variance
    * (ufz_water_qc_pipeline.py:412).
    */
  def rollingVarSamp(value: Column, w: WindowSpec, minp: Int): Column =
    guarded(value, w, minp)(var_samp(value).over(w))

  /** Interpolated exact median over an arbitrary frame. numpy/pandas
    * median of an even count averages the middle two; `median` can't
    * take a frame in Spark, so the native SlidingMedian aggregate
    * (graft.functions.SlidingMedian, registered by GraftExtensions)
    * collects the frame's non-null values into a primitive double
    * buffer, sorts, and averages the middle pair — same semantics as
    * the built-in collect_list chain (the test-scope twin
    * `MedianTwin.rollingMedianSql`, pinned bit-for-bit by RollingSpec),
    * minus the per-row boxing/generic sort that made it the dominant
    * cost of the sentem/zscore stages. The min_periods guard is fused
    * into the aggregate (NULL below max(minp, 1) finite values in the
    * frame).
    */
  def rollingMedian(value: Column, w: WindowSpec, minp: Int): Column =
    call_function("graft_sliding_median", value, lit(minp)).over(w)

  /** Count of non-null values in the frame (support / min_periods input). */
  def rollingCount(value: Column, w: WindowSpec): Column =
    count(value).over(w)
}
