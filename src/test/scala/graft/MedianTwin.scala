package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Test-scope reference twin of [[graft.core.SeriesWindows.rollingMedian]]. */
object MedianTwin {

  /** The pure-built-in form of the rolling median (sort the collected
    * frame, average elements (n+1)/2 and n/2+1, 1-based; equal when n
    * odd). Kept as the semantic reference: RollingSpec asserts the
    * native aggregate matches this expression bit-for-bit.
    */
  def rollingMedianSql(value: Column, w: WindowSpec, minp: Int): Column = {
    val arr = array_sort(collect_list(value).over(w))
    val n = size(arr)
    when(n >= minp && n >= 1,
      (element_at(arr, ((n + lit(1)) / lit(2)).cast("int")) +
        element_at(arr, (n / lit(2)).cast("int") + lit(1))) / lit(2.0))
  }
}
