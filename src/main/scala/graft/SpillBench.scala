package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.wrtds.Wrtds

/** Dev-only: quantify the WRTDS [[graft.wrtds.SeriesStore]] spill
  * path's throughput cost (not just its correctness, which
  * WrtdsStoreSpec pins): the SAME single pathological series is fitted
  * with spill OFF (default thresholds — whole series on-heap) and with
  * spill FORCED (small blocks, spillAtRows=0 — every block
  * round-trips through the executor-local file and the kernel's nested
  * j-scans re-read the file once per i-block). The ratio is the
  * degradation the 100 TB task-OOM story relies on; expectation is
  * that it stays small because the O(n²) kernel compute dominates the
  * O(n²/B) sequential block reads.
  *
  * Reference kernel shape: `scripts/ufz_water_qc_pipeline.py:592-622`.
  */
object SpillBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRows = sys.env.getOrElse("SPARK_GRAFT_SPILL_ROWS", "20000").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Sessions.local()
    // ONE worst-case series: the first nRows deduped events
    // (deterministic event-time order) remapped to a single key — the
    // exact long-series shape the spill path exists for. Timestamps
    // are deduped AFTER the remap: different users share timestamps,
    // and duplicate (key, ts) pairs would make proxy's join-back
    // many-to-many, polluting the timed work with join amplification.
    val d = graft.core.TimeIndex.dedupKeepFirst(
        Tables.eventsSeries(spark, sfDir)
          .select(lit(0L).as("user_id"), col("ts"), col("value"),
            col("user_id").as("__tb")),
        Tables.eventsSpec, col("__tb"))
      .drop("__tb")
      .orderBy(col("ts"))
      .limit(nRows)
      .coalesce(1)
    d.persist().count() // pin the input so both variants fit identical rows
    val spec = Tables.eventsSpec

    def run(label: String, blockRows: Int, spillAtRows: Int): Double = {
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Force.force(Wrtds.proxy(d, spec, minp = 30,
          blockRows = blockRows, spillAtRows = spillAtRows))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = samples(samples.size / 2)
      println(f"[spill-bench] $label%-10s rows=$nRows blockRows=$blockRows " +
        f"spillAtRows=$spillAtRows median=$med%.2f s " +
        s"(samples=${samples.map(s => f"$s%.2f").mkString(",")})")
      med
    }
    // warm-up (codegen + JIT) on the spill-off shape
    Force.force(Wrtds.proxy(d, spec, minp = 30))
    // default-shape control, then a SAME-blockRows pair so the on/off
    // ratio isolates the disk round-trip (block size is a separate
    // axis: small blocks are cache-friendlier for the i×j kernel)
    val defBlk = run("default", blockRows = 1 << 16, spillAtRows = Int.MaxValue)
    val off = run("spill-off", blockRows = 2048, spillAtRows = Int.MaxValue)
    val on = run("spill-on", blockRows = 2048, spillAtRows = 0)
    println(f"[spill-bench] ratio on/off (same blockRows) = ${on / off}%.3f; " +
      f"small-vs-default block = ${off / defBlk}%.3f")
    spark.stop()
  }
}
