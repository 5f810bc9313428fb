package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.SeriesSpec
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sources.Ingest

/** CLI entry point (reference scripts/cli.py:4-16):
  * --csv PATH --station NAME --out DIR --vars v1,v2 [--gap-hours H]
  * [--range v=lo:hi ...] [--ts-col NAME] [--figures true]
  * Reads the wide CSV, unpivots to long form, runs the full pipeline,
  * writes the wide parquet + events/seasonal/meta CSVs (+ the
  * per-variable PNG report figures when --figures true).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val builder = Sessions.required(SparkSession.builder().appName("graft-pipeline"))
    // spark-submit hands --master over as the spark.master property; a
    // builder .master() would take precedence over it, so the local
    // default applies only when no master was given
    val spark = (if (new SparkConf().contains("spark.master")) builder
      else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val csv = opts("csv")
    val station = opts.getOrElse("station", "station")
    val out = opts.getOrElse("out", "./graft_out")
    val vars = opts("vars").split(",").toSeq
    val gapHours = opts.get("gap-hours").map(_.toDouble).getOrElse(2.0)
    val ranges: Map[String, VariableConfig] = opts.get("range").map { r =>
      r.split(",").toSeq.map { spec0 =>
        val Array(v, lohi) = spec0.split("=")
        val Array(lo, hi) = lohi.split(":")
        v -> VariableConfig(rangeMin = Some(lo.toDouble), rangeMax = Some(hi.toDouble))
      }.toMap
    }.getOrElse(vars.map(_ -> VariableConfig()).toMap)

    val wide = Ingest.readCsvTimeSeries(spark, csv,
      tsCol = opts.getOrElse("ts-col", "timestamp"))
      .withColumn("station", lit(station))
      .withColumn("__seq", monotonically_increasing_id())
    val long = Ingest.melt(wide, Seq("station", "ts", "__seq"), vars)
    val spec = SeriesSpec(Seq("station", "variable"))
    val deduped = Ingest.ensureTimeIndex(long, spec, col("__seq")).drop("__seq")
    val result = Pipeline.run(deduped, spec,
      PipelineConfig(gapHours = gapHours, variables = ranges),
      variableCol = Some("variable"))
    Pipeline.write(result, out, "station", "variable", "ts", vars)
    if (opts.get("figures").contains("true"))
      graft.report.Figures.writeAll(result, spec, "variable", out)
    println(s"[graft] wrote $out")
  }
}
