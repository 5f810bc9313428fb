package graft

import graft.core.Caches

/** Dev-only per-query loupe: attributes a query's wall between
  * DataFrame BUILD (driver rounds / bounded collects run eagerly while
  * the plan is assembled), PLAN (analysis + optimization + physical
  * planning of the final frame) and EXEC (run the plan via
  * [[Force.force]], incl. codegen compilation), with the
  * [[QueryTrace]] of each phase: scheduler jobs / stages / tasks, task
  * CPU and GC, shuffle bytes and spill — the sf0.1 sweep is
  * fixed-overhead-bound (r14 diagnosis), so the lever is the NUMBER
  * of actions, exchanges and plan fragments, and this prints exactly
  * that.
  *
  * Per query: one cold run (JIT/codegen-cache churn dominates it;
  * timed and printed), then `reps` warm runs, each followed by its
  * per-stage lines, then the median warm total. Formatted plans come
  * from [[PlanDump]].
  *
  * Usage: tools/run_main.sh graft.PhaseProfile q_a q_b ...
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_BENCH_REPS as in Bench)
  */
object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val spark = Sessions.local()
    val trace = QueryTrace.attach(spark.sparkContext)
    def secs(a: Long, b: Long): Double = (b - a) / 1e9
    def counts(w: QueryTrace.Window): String =
      f"${w.jobs}%3d jobs ${w.stages.size}%3d stages ${w.tasks}%4d tasks"
    args.foreach { n =>
      trace.take()
      val c0 = System.nanoTime()
      val cold =
        try { Force.force(SparkEntry.queries(n)(spark, sfDir)); true }
        catch { case t: Throwable => println(s"[phase] $n cold FAILED: $t"); false }
        finally Caches.unpersistAll(blocking = true)
      if (cold) {
        println(f"[phase] $n%-24s cold ${secs(c0, System.nanoTime())}%6.2f s")
        val totals = (1 to reps).map { r =>
          trace.take()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(n)(spark, sfDir)
          val t1 = System.nanoTime()
          val build = trace.take()
          val t1p = System.nanoTime()
          val plan = df.queryExecution.executedPlan // force planning
          val nExch = plan.toString.linesIterator.count(l =>
            l.contains("Exchange") && !l.contains("ReusedExchange"))
          val t2 = System.nanoTime()
          Force.force(df)
          val t3 = System.nanoTime()
          val exec = trace.take()
          Caches.unpersistAll(blocking = true)
          val inJobs = exec.inJobsMs / 1e3
          println(f"[phase] $n%-24s rep $r  build ${secs(t0, t1)}%6.2f s (${counts(build)})  plan ${secs(t1p, t2)}%5.2f s  exec ${secs(t2, t3)}%6.2f s (${counts(exec)}, in-jobs $inJobs%5.2f s, glue ${secs(t2, t3) - inJobs}%5.2f s)  exch $nExch%2d  cpu ${exec.cpuNs / 1e9}%6.2f s  gc ${exec.gcMs / 1e3}%5.2f s  shuffle r/w ${exec.shuffleReadBytes / 1e6}%8.2f/${exec.shuffleWriteBytes / 1e6}%8.2f MB  spill ${exec.spillBytes / 1e6}%7.2f MB")
          (build.stages ++ exec.stages).foreach { s =>
            println(f"[stage] ${s.id}%4d ${s.numTasks}%4d tasks  wall ${s.wallS}%6.2f s  run ${s.runS}%6.2f  cpu ${s.cpuS}%6.2f  deser ${s.deserS}%5.2f  ${s.name.take(60)}")
          }
          secs(t0, t1) + secs(t1p, t3)
        }.sorted
        val mid = totals.size / 2
        val median =
          if (totals.size % 2 == 1) totals(mid) else (totals(mid - 1) + totals(mid)) / 2
        println(f"[phase] $n%-24s median $median%6.2f s over $reps warm reps")
      }
    }
    spark.stop()
  }
}
