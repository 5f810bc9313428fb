package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Force, Sessions}
import graft.core.Caches

object Fs {
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) JFiles.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => JFiles.delete(p))
  }

  /** Rewrites a parquet table in place via a sibling directory. */
  def replaceParquet(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val tmp = s"$path.rewrite"
    df.write.mode("overwrite").parquet(tmp)
    delete(path)
    JFiles.move(new File(tmp).toPath, new File(path).toPath)
  }
}

/** Benchmark harness: one process, one local session.
  *
  * --workload NAME --data DIR --warmup-ops N --work DIR --seconds N
  * --trace 0|1 --metrics a,b,c --result FILE [--corrupt 1]
  *
  * Sets the session up several times (median is `setup_s`), runs
  * untimed, unchecked warm-up ops, then ops back to back until their
  * summed wall time (checks excluded) reaches `--seconds`. With
  * `--trace 1` traced and untraced ops alternate: traced ops give the
  * per-layer spans, untraced ones the per-op `spark.*` counts and the
  * baseline for the tracing overhead. Every op's outputs are checked
  * against the planted facts; `Caches.unpersistAll` runs between ops.
  */
object Main {
  private val SetupReps = 11

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private final case class OpRun(wallS: Double, rows: Long, work: Snap,
      glueS: Double, readAmp: Double, traced: Option[LayerMetrics])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val corrupt = opt.get("corrupt").contains("1")
    val wanted = opt("metrics").split(",").toSeq
    val threads = math.min(4, Runtime.getRuntime.availableProcessors)

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(threads.toString)
      Force.force(spark.range(1).toDF())
      (System.nanoTime() - t0) / 1e9
    }
    val counters = new Counters(spark.sparkContext)
    val tracer = new Tracer(counters)
    val workload: Workload =
      if (workloadName == "corpus_curation") new CorpusWorkload(spark, opt("data"))
      else new StationWorkload(spark, opt("data"))

    val failures = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val out = s"$work/out"

    def warmupOp(i: Int): Double = {
      Fs.delete(out)
      val t0 = System.nanoTime()
      workload.op(out)
      val wall = (System.nanoTime() - t0) / 1e9
      Caches.unpersistAll(blocking = true)
      System.gc()
      println(f"[perfbench] warm-up op $i wall=$wall%.3f s")
      wall
    }

    def runOne(i: Int, traced: Boolean): OpRun = {
      Fs.delete(out)
      val lm = if (traced) Some(new LayerMetrics) else None
      tracer.op = i
      val w0 = counters.snap()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val problems = ArrayBuffer[String]()
      try lm match {
        case Some(m) => workload.tracedOp(out, tracer, m)
        case None => workload.op(out)
      } catch { case e: Throwable => problems += s"op threw: $e" }
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val w = counters.snap() - w0
      val glue = math.max(0.0, wall - counters.inJobsMs(ms0, ms1) / 1e3)
      if (problems.isEmpty) {
        try {
          if (corrupt) workload.corrupt(out)
          problems ++= workload.check(out, lm)
        } catch { case e: Throwable => problems += s"check threw: $e" }
      }
      Caches.unpersistAll(blocking = true)
      attempted += 1
      if (problems.nonEmpty) {
        failed += 1
        failures ++= problems.map(p => s"op $i: $p")
      }
      System.gc()
      println(f"[perfbench] op $i traced=$traced wall=$wall%.3f s cpu=${w.cpuS}%.3f s jobs=${w.jobs} problems=${problems.size}")
      OpRun(wall, workload.inputRows, w, glue,
        w.inputBytes.toDouble / workload.inputBytes, lm)
    }

    val warm = (0 until opt("warmup-ops").toInt).map(warmupOp)
    val plain = ArrayBuffer[OpRun]()
    val traced = ArrayBuffer[OpRun]()
    var i = 1
    while ((plain ++ traced).map(_.wallS).sum < seconds || plain.isEmpty ||
        (trace && traced.isEmpty)) {
      val r = runOne(i, traced = trace && i % 2 == 0)
      (if (r.traced.isDefined) traced else plain) += r
      i += 1
    }

    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    def med(f: OpRun => Double, rs: Seq[OpRun] = plain.toSeq) = median(rs.map(f))
    if (!trace) {
      metrics("setup_s") = median(setups)
      metrics("op_s_p50") = med(_.wallS)
      metrics("rows_per_s") = plain.map(_.rows).sum / plain.map(_.wallS).sum
      metrics("cpu_s_per_op") = med(_.work.cpuS)
      metrics("ok_frac") = (attempted - failed).toDouble / attempted
    } else {
      val mb = 1024.0 * 1024.0
      metrics("spark.jobs") = med(_.work.jobs.toDouble)
      metrics("spark.stages") = med(_.work.stages.toDouble)
      metrics("spark.tasks") = med(_.work.tasks.toDouble)
      metrics("spark.task_gc_s") = med(_.work.gcMs / 1e3)
      metrics("spark.shuffle_read_mb") = med(_.work.shuffleRead / mb)
      metrics("spark.shuffle_write_mb") = med(_.work.shuffleWrite / mb)
      metrics("spark.spill_mb") = med(_.work.spill / mb)
      metrics("spark.core_busy_frac") = med(r => r.work.runMs / 1e3 / (r.wallS * threads))
      metrics("spark.driver_glue_s") = med(_.glueS)
      metrics("sources.read_amplification") = med(_.readAmp)
      metrics("warmup.total_s") = warm.sum
      metrics("trace.overhead_s") = median(traced.toSeq.map(_.traced.get.sameWorkS)) - med(_.wallS)
      val layerNames = traced.flatMap(_.traced.get.values.keys).distinct
      layerNames.foreach { n =>
        metrics(n) = median(traced.toSeq.map(_.traced.get.values.getOrElse(n, 0.0)))
      }
    }
    val unknown = metrics.keys.filterNot(wanted.contains)
    require(unknown.isEmpty, s"metrics not declared in BENCHMARK.json: ${unknown.mkString(",")}")
    wanted.filterNot(metrics.contains).foreach { n =>
      require(!workload.layers(n.split('.').head),
        s"metric $n belongs to a layer $workloadName runs but was not recorded")
      metrics(n) = 0.0
    }

    if (trace) tracer.writeJson(s"$work/trace.json", Map(
      "workload" -> workloadName, "threads" -> threads,
      "setup_s" -> setups, "untraced_op_s" -> plain.map(_.wallS).toSeq,
      "traced_op_s" -> traced.map(_.wallS).toSeq))
    Json.write(opt("result"), Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toMap, "failures" -> failures.take(20).toSeq))
    spark.stop()
  }
}
