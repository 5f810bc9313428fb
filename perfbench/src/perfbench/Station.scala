package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Force
import graft.core.{Caches, SeriesSpec, TimeIndex}
import graft.operators._
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sentem.{SentemConfig, SentemQc}
import graft.sources.Ingest
import graft.wrtds.Wrtds

/** One benchmark workload: an op is one input set taken to all of its
  * outputs. `layers` names the per-layer metric prefixes the workload
  * exercises; metrics of other layers read 0 on it.
  */
trait Workload {
  def layers: Set[String]
  def inputRows: Long
  def inputBytes: Long
  def op(out: String): Unit
  def tracedOp(out: String, t: Tracer, lm: LayerMetrics): Unit
  /** Planted-fact checks on the written outputs; returns the failures. */
  def check(out: String, lm: Option[LayerMetrics]): Seq[String]
  /** Damages a written output (for the benchmark's own tests). */
  def corrupt(out: String): Unit
}

/** Per-layer values recorded by one traced op. */
final class LayerMetrics {
  val values = scala.collection.mutable.Map[String, Double]()
  /** Planted-fact failures found inside the traced layer calls. */
  val problems = scala.collection.mutable.ArrayBuffer[String]()
  /** Wall time of the traced op's part that does the untraced op's
    * work, under spans; the tracing overhead is measured on it. */
  var sameWorkS: Double = Double.NaN
  def put(name: String, v: Double): Unit = values(name) = v
  def span(prefix: String, s: Span): Unit = {
    put(s"$prefix.wall_s", s.wallS); put(s"$prefix.cpu_s", s.work.cpuS)
  }
}

final case class PlantedRun(variable: String, startUs: Long, endUs: Long)

/** The EP1 pipeline driven the way `graft.Cli.main` drives it:
  * readCsvTimeSeries -> melt -> ensureTimeIndex -> Pipeline.run ->
  * Pipeline.write, on one station file.
  */
final class StationWorkload(spark: SparkSession, dataDir: String) extends Workload {
  private def us(s: String): Long =
    LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private val truth = Json.read(s"$dataDir/truth.json")
  private val path = s"$dataDir/${truth.get("path").asText}"
  private val station = truth.get("station").asText
  private val variables = Json.strings(truth.get("variables"))
  private val discharge = truth.get("discharge").asText
  private val sentem: Map[String, Int] =
    Json.fields(truth.get("sentem")).map { case (k, v) => k -> v.asInt }.toMap
  private val nitrate = Json.strings(truth.get("nitrate")).toSet
  private val sentinelVars = Json.strings(truth.get("sentinel_vars"))
  private val distinctTs = truth.get("distinct_ts").asLong
  private val stepUs = truth.get("step_us").asLong
  private def runs(k: String) = Json.elems(truth.get(k)).map(r =>
    PlantedRun(r.get("variable").asText, us(r.get("start").asText), us(r.get("end").asText)))
  private val flatRuns = runs("flat_runs")
  private val zeroRuns = runs("zero_runs")
  private val spikes = Json.elems(truth.get("spikes")).map(s =>
    (s.get("variable").asText, us(s.get("ts").asText)))

  private val spec = SeriesSpec(Seq("station", "variable"))
  private val cfg = PipelineConfig(
    applySentem = sentem.nonEmpty,
    variables = variables.map { v =>
      val r = Json.strings(truth.get("ranges").get(v)).map(_.toDouble)
      v -> VariableConfig(rangeMin = Some(r(0)), rangeMax = Some(r(1)),
        sentemCode = sentem.get(v), isNitrate = nitrate(v))
    }.toMap)

  val layers: Set[String] =
    Set("sources", "operators", "sentem", "wrtds", "pipeline", "spark", "trace", "warmup")
  val inputRows: Long = truth.get("rows_wide").asLong * variables.size
  val inputBytes: Long = truth.get("bytes").asLong

  /** Cli.main's ingest: wide CSV -> long form of `columns` ->
    * keep-first dedup. */
  private def ingest(columns: Seq[String] = variables): DataFrame = {
    val wide = Ingest.readCsvTimeSeries(spark, path, tsCol = "timestamp")
      .withColumn("station", lit(station))
      .withColumn("__seq", monotonically_increasing_id())
    val long = Ingest.melt(wide, Seq("station", "ts", "__seq"), columns)
    Ingest.ensureTimeIndex(long, spec, col("__seq")).drop("__seq")
  }

  def op(out: String): Unit = {
    val result = Pipeline.run(ingest(), spec, cfg, variableCol = Some("variable"))
    Pipeline.write(result, out, "station", "variable", "ts", variables)
  }

  private def forced(df: DataFrame): (DataFrame, Long) = {
    val p = Caches.persisted(df)
    (p, Force.force(p))
  }

  private def sumOf(df: DataFrame, c: Column): Double =
    Option(df.agg(sum(c.cast("double"))).head().get(0)).fold(0.0)(_.toString.toDouble)

  /** Each layer's public calls in Pipeline.run order, each forced and
    * materialized on its own, then the full pipeline build, plan and
    * write under their own spans.
    */
  def tracedOp(out: String, t: Tracer, lm: LayerMetrics): Unit = {
    val (base, rowsOut) = t.span("sources") {
      forced(ingest().withColumn("raw", col("value")))
    }
    lm.span("sources", t.spans.last)
    lm.put("sources.rows_in", inputRows.toDouble)
    lm.put("sources.rows_out", rowsOut.toDouble)
    lm.put("sources.dups_dropped", (inputRows - rowsOut).toDouble)

    def opSpan[T](name: String)(body: => T): T = {
      val r = t.span(s"operators.$name")(body)
      lm.span(s"operators.$name", t.spans.last)
      r
    }
    val gapped = t.span("operators") {
      val (masked, _) = opSpan("sentinels") { forced(Sentinels.mask(base, spec)) }
      val (gapped, step) = opSpan("gaps") {
        val (g, _) = forced(Gaps.maskPostGap(
          Gaps.classify(TimeIndex.withDeltaUs(masked, spec), spec, cfg.gapHours), spec))
        (g, forced(TimeIndex.inferStep(g, spec))._1)
      }
      val (evFlat, nRuns) = opSpan("runs") {
        val (_, nBin) = forced(Runs.binarySwitches(gapped, spec, cfg.zeroTol))
        val (fl, nFl) = forced(Runs.flatValues(gapped, spec, cfg.flatHours))
        (fl, nBin + nFl)
      }
      val (evSlope, nSlope) = opSpan("slope") {
        forced(Slope.flatSlopes(gapped, spec, cfg.flatHours, cfg.flatSlopeWin, cfg.flatSlopeAbs))
      }
      lm.put("operators.events_out", (nRuns + nSlope).toDouble)
      opSpan("seasonal") {
        Force.force(Seasonal.statsWithEvents(gapped, spec, step, evFlat, evSlope))
      }
      val (qc, _) = opSpan("qc_suite") {
        forced(QcSuite(gapped, spec, step, QcConfig(flatHours = cfg.flatHours,
          kVariance = cfg.kVariance, kZscore = cfg.kZscore, jumpThresh = cfg.jumpThresh)))
      }
      lm.put("operators.flags_out", sumOf(qc, col("qc_flag") === 255))
      gapped
    }

    val smOuts = t.span("sentem") {
      sentem.toSeq.sorted.map { case (v, code) =>
        val sub = gapped.filter(col("variable") === v)
          .select(col("station"), col("variable"), col("ts"), col("raw").as("__smv"))
        forced(SentemQc(sub, spec.copy(value = "__smv"), code,
          SentemConfig.byCode(code), nitrate(v)))._1
      }
    }
    lm.span("sentem", t.spans.last)
    lm.put("sentem.tasks", t.spans.last.work.tasks.toDouble)
    lm.put("sentem.flagged_rows", smOuts.map(o => sumOf(o, col("is_flagged"))).sum)

    // WRTDS runs here only: with Sentem on, turning it on inside
    // Pipeline.run multiplies the op's jobs (see workloads.json notes).
    // Its discharge column is ingested and joined on here, so the
    // untraced op carries no Q.
    t.span("wrtds") {
      val q = ingest(Seq(discharge)).select(col("station"), col("ts"), col("value").as(discharge))
      val (withQ, _) = forced(gapped.join(q, Seq("station", "ts"), "left"))
      val (fitted, _) = t.span("wrtds.proxy") { forced(Wrtds.proxy(withQ, spec, Some(discharge))) }
      val proxy = t.spans.last
      val (busted, _) = t.span("wrtds.buster") { forced(Wrtds.buster(fitted, spec)) }
      val pairs = distinctTs.toDouble * distinctTs * variables.size
      lm.put("wrtds.proxy.wall_s", proxy.wallS)
      lm.put("wrtds.proxy.cpu_s", proxy.work.cpuS)
      lm.put("wrtds.kernel_pairs", pairs)
      lm.put("wrtds.pairs_per_cpu_s", pairs / math.max(proxy.work.cpuS, 1e-9))
      lm.put("wrtds.buster.wall_s", t.spans.last.wallS)
      lm.put("wrtds.spikes", sumOf(busted, col("wrtds_spike")))
      val residErr = Option(fitted.filter(col("wrtds_resid").isNotNull)
        .agg(max(abs(col("wrtds_resid") - (col("value") - col("wrtds_yhat")))))
        .head().get(0)).fold(0.0)(_.toString.toDouble)
      if (!(residErr <= 1e-9)) lm.problems += s"wrtds resid != value - yhat (max error $residErr)"
      val caught = spikes.map { case (v, ts) =>
        sum(when(col("variable") === v && unix_micros(col("ts")) === ts &&
          col("wrtds_spike"), 1).otherwise(0))
      }
      val hits = busted.agg(caught.head, caught.tail: _*).head()
      val missed = spikes.indices.filter(k => hits.getLong(k) != 1).map(spikes)
      if (missed.nonEmpty) lm.problems += s"planted spikes not flagged by Wrtds.buster: $missed"
    }

    t.span("pipeline") {
      val fresh = ingest()
      val r = t.span("pipeline.build") {
        Pipeline.run(fresh, spec, cfg, variableCol = Some("variable"))
      }
      lm.put("pipeline.build_s", t.spans.last.wallS)
      t.span("pipeline.plan") {
        Seq(r.timeseries, r.events, r.seasonal, r.meta).foreach(_.queryExecution.executedPlan)
      }
      lm.put("pipeline.plan_s", t.spans.last.wallS)
      t.span("pipeline.write") {
        Pipeline.write(r, out, "station", "variable", "ts", variables)
      }
      val w = t.spans.last
      lm.sameWorkS = lm.values("pipeline.build_s") + w.wallS
      lm.put("pipeline.write.wall_s", w.wallS)
      lm.put("pipeline.write.jobs", w.work.jobs.toDouble)
      lm.put("pipeline.write.cpu_s", w.work.cpuS)
    }
  }

  private def widePath(out: String) = s"$out/processed/qc_timeseries.parquet"

  def check(out: String, lm: Option[LayerMetrics]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val notSubset = variables.map { v =>
      val (a, c) = (col(s"${v}__accepted"), col(s"${v}__clean"))
      sum(when(a.isNotNull && (c.isNull || a =!= c), 1).otherwise(0))
    }
    val agg = spark.read.parquet(widePath(out)).agg(count(lit(1)), notSubset: _*).head()
    if (agg.getLong(0) != distinctTs)
      bad += s"row conservation: ${agg.getLong(0)} rows written, $distinctTs distinct timestamps planted"
    variables.zipWithIndex.foreach { case (v, k) =>
      if (agg.getLong(k + 1) != 0) bad += s"accepted not a subset of clean for $v: ${agg.getLong(k + 1)} rows"
    }

    val sentinelUsed = spark.read.option("header", "true").csv(s"$out/tables/meta.csv")
      .select("variable", "sentinel_used").collect()
      .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap
    sentinelVars.filterNot(v => sentinelUsed.getOrElse(v, "").contains("-9999")).foreach { v =>
      bad += s"sentinel -9999 missing from meta.sentinel_used of $v: ${sentinelUsed.get(v)}"
    }

    val events = spark.read.option("header", "true").csv(s"$out/tables/events_all.csv")
      .select(col("variable"), col("type"),
        unix_micros(to_timestamp(col("start"))), unix_micros(to_timestamp(col("end"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def found(run: PlantedRun, kind: String) = events.exists { case (v, k, a, b) =>
      v == run.variable && k == kind &&
        a >= run.startUs && a <= run.endUs && b >= run.startUs && b <= run.endUs + stepUs
    }
    flatRuns.filterNot(found(_, "flat_values")).foreach(r => bad += s"planted flat run not found: $r")
    zeroRuns.filterNot(found(_, "binary_switch")).foreach(r => bad += s"planted zero run not found: $r")

    lm.foreach(bad ++= _.problems)
    bad.result()
  }

  def corrupt(out: String): Unit = {
    val v = variables.head
    val damaged = spark.read.parquet(widePath(out))
      .withColumn(s"${v}__accepted", col(s"${v}__clean") + 1.0)
    Fs.replaceParquet(spark, damaged, widePath(out))
  }
}
