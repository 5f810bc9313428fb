package graft

import org.apache.spark.sql.functions._
import graft.core.{SeriesSpec, SeriesWindows}
import graft.operators.{RollingStats, Sentinels}

/** Fixtures: ddof_pair, even_centered_window, robust_z_mad_zero,
  * sentinel_threshold (FIXTURES.md §C).
  */
class RollingSpec extends SparkTestBase {

  private val spec = SeriesSpec(Seq("series"))

  test("even centered window puts the extra row on the left (pandas)") {
    // k=4 frame at row i = rows [i-2, i+1]
    val df = series(
      ("2024-01-01 00:00:00", v(1.0)),
      ("2024-01-01 01:00:00", v(2.0)),
      ("2024-01-01 02:00:00", v(4.0)),
      ("2024-01-01 03:00:00", v(8.0)),
      ("2024-01-01 04:00:00", v(16.0)))
    val w = SeriesWindows.centered(spec, 4)
    val out = df.withColumn("m", SeriesWindows.rollingMean(col("value"), w, 1))
      .orderBy("ts").select("m").collect().map(_.getDouble(0))
    // row 2 (value 4): frame rows 0..3 -> mean(1,2,4,8) = 3.75
    assert(out(2) == 3.75)
    // row 4 (value 16): frame rows 2..4(clipped) -> mean(4,8,16)
    assert(out(4) == (4.0 + 8.0 + 16.0) / 3)
  }

  test("ddof pair: stddev_pop for sentem bands, var_samp for variance flag") {
    val df = series(
      ("2024-01-01 00:00:00", v(1.0)),
      ("2024-01-01 01:00:00", v(2.0)),
      ("2024-01-01 02:00:00", v(3.0)))
    val w = SeriesWindows.ordered(spec)
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val r = df.select(
      SeriesWindows.rollingStdPop(col("value"), w, 1).as("sp"),
      SeriesWindows.rollingVarSamp(col("value"), w, 1).as("vs")).head()
    assert(math.abs(r.getDouble(0) - math.sqrt(2.0 / 3)) < 1e-12) // ddof=0
    assert(r.getDouble(1) == 1.0) // ddof=1
  }

  test("rolling median interpolates even counts; min_periods counts finite") {
    val df = series(
      ("2024-01-01 00:00:00", v(1.0)),
      ("2024-01-01 01:00:00", v(2.0)),
      ("2024-01-01 02:00:00", na),
      ("2024-01-01 03:00:00", v(10.0)),
      ("2024-01-01 04:00:00", v(4.0)))
    val w = SeriesWindows.ordered(spec).rowsBetween(Long.MinValue, Long.MaxValue)
    val med4 = df.select(SeriesWindows.rollingMedian(col("value"), w, 4).as("m")).head()
    assert(med4.getDouble(0) == 3.0) // (2+4)/2 over {1,2,4,10}
    val med5 = df.select(SeriesWindows.rollingMedian(col("value"), w, 5).as("m")).head()
    assert(med5.isNullAt(0)) // only 4 finite < minp 5
  }

  test("native SlidingMedian matches the collect_list chain bit-for-bit") {
    // deterministic pseudo-random series with nulls, duplicated values
    // and plateaus — every frame shape the sentem/zscore stages use
    val rng = new scala.util.Random(42)
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val rows = (0 until 500).map { i =>
      val ts = base.plusMinutes(15L * i).toString.replace('T', ' ')
      val value =
        if (rng.nextDouble() < 0.1) na
        else if (rng.nextDouble() < 0.2) v(5.0) // plateaus/duplicates
        else v(math.round(rng.nextDouble() * 1000) / 10.0)
      (ts, value)
    }
    val df = series(rows: _*)
    for ((k, minp) <- Seq((4, 2), (5, 3), (12, 4), (48, 15), (96, 32))) {
      val w = SeriesWindows.centered(spec, k)
      val cmp = df.select(
        SeriesWindows.rollingMedian(col("value"), w, minp).as("m_native"),
        MedianTwin.rollingMedianSql(col("value"), w, minp).as("m_sql"))
        .collect()
      cmp.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch at k=$k: $r")
        if (!r.isNullAt(0))
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
            s"value mismatch at k=$k: $r")
      }
    }
  }

  test("robust z: MAD=0 yields no flag even for wild outliers") {
    // 6 identical + 1 outlier in an 7-row frame: med=5, MAD=0 -> z null
    val df = series(
      ("2024-01-01 00:00:00", v(5.0)),
      ("2024-01-01 01:00:00", v(5.0)),
      ("2024-01-01 02:00:00", v(5.0)),
      ("2024-01-01 03:00:00", v(1000.0)),
      ("2024-01-01 04:00:00", v(5.0)),
      ("2024-01-01 05:00:00", v(5.0)),
      ("2024-01-01 06:00:00", v(5.0)))
    val out = RollingStats.robustZFlag(df, spec, k = 7, thresh = 4.0)
      .orderBy("ts").select("flag_zscore").collect().map(_.getBoolean(0))
    assert(!out.exists(identity))
  }

  test("sentinel activation: count>=5 or frac>=0.001; inactive codes untouched") {
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val rows = (0 until 4000).map { i =>
      val ts = base.plusMinutes(15L * i).toString.replace('T', ' ')
      val value = if (i < 5) Some(-9.0) // 5 hits -> active by count
      else if (i == 10) Some(-99.0)     // 1 hit, frac 1/4000 < 0.001 -> inactive
      else Some(50.0 + (i % 7))
      (ts, value)
    }
    val out = Sentinels.mask(series(rows: _*), spec)
    assert(out.filter(col("sentinel_flag")).count() == 5)
    assert(out.filter(col("value") === -99.0).count() == 1) // preserved
    assert(out.filter(col("value").isNull).count() == 5)
  }

  test("time-range rolling mean spans the requested interval, not a row count") {
    import org.apache.spark.sql.functions._
    // irregular cadence: 4 points in 10 min, then one 2 h away — a
    // ±30 min TIME frame must exclude the distant point everywhere
    val d = series(
      ("2024-01-01 00:00:00", Some(1.0)), ("2024-01-01 00:05:00", Some(2.0)),
      ("2024-01-01 00:08:00", Some(3.0)), ("2024-01-01 00:10:00", Some(6.0)),
      ("2024-01-01 02:10:00", Some(100.0)))
    val out = graft.operators.RollingStats.rollingMeanTime(
      d, graft.core.SeriesSpec(Seq("series")), windowUs = 30L * 60 * 1000000, minp = 2, out = "m")
      .orderBy("ts").collect()
    assert(out(0).getAs[Double]("m") == 3.0)  // (1+2+3+6)/4
    assert(out(3).getAs[Double]("m") == 3.0)
    assert(out(4).isNullAt(out(4).fieldIndex("m"))) // alone in range, minp 2
  }
}
