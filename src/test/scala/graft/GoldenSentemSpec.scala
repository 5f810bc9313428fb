package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SeriesSpec
import graft.sentem.{SentemConfig, SentemQc}
import graft.sources.Ingest

/** SentemQC golden parity: run the 5-run band engine with the shipped
  * sensor configs over the reference's committed `__raw` series and
  * compare against its committed `__sm_masked` / `__sm_flagged` /
  * `__sm_flagreason` columns — the reference engine's own output on
  * 94,077 real rows, all five sensors (pct and constant uncertainty,
  * median run, tri5, nitrate round-trip all exercised).
  */
class GoldenSentemSpec extends SparkTestBase {

  private val goldDir = GoldenCorpus.Dir
  private val spec = SeriesSpec(Seq("series"))

  private lazy val wide: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(
      s"$goldDir/processed/Erkenruh_Einruhr/Erkenruh_Einruhr__qc_timeseries.parquet")
  }

  /** (variable column prefix, sensor code, is_nitrate) — sentemqc.py:77. */
  private val sensors = Seq(
    ("SurfaceWaterConcentration_O2_mg_L-1", 400, false),
    ("SurfaceWaterpH_pH", 410, false),
    ("SurfaceWaterTurbidity_NTU", 157787, false),
    ("SurfaceWaterConcentration_NO3_Trios_mg_L-1", 2477034, true),
    ("SurfaceWaterConcentration_NO3_YSI_mg_L-1", 2477787, true))

  private def checkSensor(v: String, code: Int, isNitrate: Boolean): Unit = {
    val raw = Ingest.nanToNull(
      wide.select(lit(v).as("series"),
        timestamp_micros(expr("timestamp div 1000")).as("ts"),
        col(s"${v}__raw").as("value"),
        col(s"${v}__sm_masked").as("g_masked"),
        col(s"${v}__sm_flagged").as("g_flagged"),
        col(s"${v}__sm_flagreason").as("g_reason")),
      Seq("value", "g_masked"))
    val out = SentemQc(raw, spec, code, SentemConfig.byCode(code), isNitrate)
    val total = out.count()
    val flagMismatch = out.filter(col("is_flagged") =!= col("g_flagged")).count()
    val maskMismatch = out.filter(!(col("value_masked") <=> col("g_masked"))).count()
    val reasonMismatch = out.filter(
      !(coalesce(col("flag_reason"), lit("")) <=>
        coalesce(col("g_reason"), lit("")))).count()
    // measured: ZERO mismatches for all five sensors — flags, masked
    // values and reason strings are bit-identical to the reference's
    // committed output
    assert(total == 94077L, s"$v total $total")
    assert(flagMismatch == 0, s"$v flag mismatches $flagMismatch")
    assert(maskMismatch == 0, s"$v mask mismatches $maskMismatch")
    assert(reasonMismatch == 0, s"$v reason mismatches $reasonMismatch")
  }

  sensors.foreach { case (v, code, isNitrate) =>
    test(s"sentem golden parity: $v") { checkSensor(v, code, isNitrate) }
  }
}
