package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.core.{SeriesSpec, SeriesWindows}
import graft.plans.SlidingMedianWindowExec

/** The streaming sliding-median physical operator: plan substitution,
  * bitwise equivalence with the declarative chain, and the
  * no-extra-exchange property.
  */
class SlidingMedianExecSpec extends SparkTestBase {

  private val spec = SeriesSpec(Seq("series"))

  /** Multi-series fixture with nulls, plateaus, duplicated values and
    * boundary-straddling repeats — the adversarial cases for two-heap
    * lazy deletion.
    */
  private def fixture(n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val rows = for (s <- 0 until 3; i <- 0 until n) yield {
      val ts = base.plusMinutes(15L * i).toString.replace('T', ' ')
      val v =
        if (rng.nextDouble() < 0.12) None
        else if (rng.nextDouble() < 0.25) Some(5.0) // heavy duplicates
        else if (rng.nextDouble() < 0.15) Some((rng.nextInt(4) + 1).toDouble) // few distinct
        else Some(math.round(rng.nextDouble() * 1000) / 10.0)
      (s"s$s", ts, v)
    }
    rows.toDF("series", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .select("series", "ts", "value")
  }

  private def collectMedians(df: DataFrame, out: String): Array[(String, Long, Option[Long])] =
    df.select(col("series"), unix_micros(col("ts")).as("us"), col(out))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      .sortBy(t => (t._1, t._2))

  test("a lone sliding-median window plans the custom exec, mixed windows do not") {
    // AQE's AdaptiveSparkPlanExec is a leaf to plan.collect — disable
    // it so the typed collect sees the real plan tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = fixture(50, 1)
      val w = SeriesWindows.centered(spec, 8)
      val lone = df.withColumn("m", SeriesWindows.rollingMedian(col("value"), w, 3))
      assert(lone.queryExecution.executedPlan.collect {
        case e: SlidingMedianWindowExec => e }.nonEmpty,
        s"custom exec missing:\n${lone.queryExecution.executedPlan}")
      // median + avg in one Window node: the node is SPLIT — median
      // through the custom exec, the avg through a stacked WindowExec
      // — with a single exchange and the same results
      val mixed = df.select(col("series"), col("ts"), col("value"),
        SeriesWindows.rollingMedian(col("value"), w, 3).as("m"),
        avg(col("value")).over(w).as("a"))
      val mixedPlan = mixed.queryExecution.executedPlan
      assert(mixedPlan.collect { case e: SlidingMedianWindowExec => e }.nonEmpty,
        s"median half missing:\n$mixedPlan")
      assert(mixedPlan.collect {
        case e: org.apache.spark.sql.execution.window.WindowExec => e }.nonEmpty,
        s"window half missing:\n$mixedPlan")
      assert(mixedPlan.collect { case s: ShuffleExchangeExec => s }.size == 1)
      val slowMixed = df.select(col("series"), col("ts"), col("value"),
        MedianTwin.rollingMedianSql(col("value"), w, 3).as("m"),
        avg(col("value")).over(w).as("a"))
      assert(collectMedians(mixed, "m").toSeq == collectMedians(slowMixed, "m").toSeq)
      assert(mixed.count() == 150)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("multiple series per partition survive zero-lookahead frames") {
    // all series forced into ONE partition; rowsBetween(-1, 0) has no
    // lookahead, so a key change arrives with the buffer fully emitted
    val df = fixture(40, 9).coalesce(1)
    val w = SeriesWindows.ordered(spec).rowsBetween(-1, 0)
    val out = df.withColumn("m", SeriesWindows.rollingMedian(col("value"), w, 1))
    val counts = out.groupBy("series").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 40L, "s1" -> 40L, "s2" -> 40L), s"lost rows: $counts")
  }

  test("custom exec medians are bit-identical to the declarative chain") {
    val df = fixture(400, 42)
    for ((k, minp) <- Seq((1, 1), (2, 1), (4, 2), (5, 3), (12, 4), (48, 15), (96, 32))) {
      val w = SeriesWindows.centered(spec, k)
      val fast = collectMedians(
        df.withColumn("m", SeriesWindows.rollingMedian(col("value"), w, minp)), "m")
      val slow = collectMedians(
        df.withColumn("m", MedianTwin.rollingMedianSql(col("value"), w, minp)), "m")
      assert(fast.length == slow.length)
      fast.zip(slow).foreach { case (f, s) =>
        assert(f == s, s"k=$k minp=$minp mismatch at ${f._1}/${f._2}: $f vs $s")
      }
    }
  }

  test("edge cases: series shorter than frame, all-null series, one row") {
    import spark.implicits._
    val rows = Seq(
      ("a", "2024-01-01 00:00:00", Some(1.0)),
      ("a", "2024-01-01 00:15:00", Some(2.0)),
      ("b", "2024-01-01 00:00:00", None: Option[Double]),
      ("b", "2024-01-01 00:15:00", None: Option[Double]),
      ("c", "2024-01-01 00:00:00", Some(7.0)))
    val df = rows.toDF("series", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).select("series", "ts", "value")
    val w = SeriesWindows.centered(spec, 96)
    val fast = collectMedians(
      df.withColumn("m", SeriesWindows.rollingMedian(col("value"), w, 1)), "m")
    val slow = collectMedians(
      df.withColumn("m", MedianTwin.rollingMedianSql(col("value"), w, 1)), "m")
    assert(fast.toSeq == slow.toSeq)
    // b's rows are all-null -> NULL medians; c is a 1-row series
    assert(fast.count(_._3.isEmpty) == 2)
  }

  test("chained med -> mad medians add no exchange beyond the series hash") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = fixture(100, 7)
      val w = SeriesWindows.centered(spec, 12)
      val out = df
        .withColumn("med", SeriesWindows.rollingMedian(col("value"), w, 4))
        .withColumn("mad",
          SeriesWindows.rollingMedian(abs(col("value") - col("med")), w, 4))
      val plan = out.queryExecution.executedPlan
      val execs = plan.collect { case e: SlidingMedianWindowExec => e }
      assert(execs.size == 2, s"expected both median stages custom:\n$plan")
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size == 1,
        s"chained medians must share one series exchange:\n$plan")
      // and the values still match the declarative chain end to end
      val slow = df
        .withColumn("med", MedianTwin.rollingMedianSql(col("value"), w, 4))
        .withColumn("mad",
          MedianTwin.rollingMedianSql(abs(col("value") - col("med")), w, 4))
      assert(collectMedians(out, "mad").toSeq == collectMedians(slow, "mad").toSeq)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
