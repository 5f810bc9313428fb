package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every entry point uses — the configs
  * must agree (Tables.events requires nanosAsLong at session
  * construction; bench parallelism must match shuffle partitions), so
  * they live in exactly one place.
  */
object Sessions {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** AQE coalescing already prefers parallelism over the advisory byte
    * target (parallelismFirst=true, Spark's default), but its 1 MB
    * minPartitionSize floor re-serializes CPU-heavy small-byte stages:
    * a 33-tap convolution / interpolated-median window over a few MB
    * of narrow series rows coalesces to 1-2 tasks and runs minutes of
    * per-row work on one core (measured r15: q_gaussian 2.7->1.7 s,
    * q_buster_check 3.1->2.2 s, q_rolling_slope 1.3->0.7 s at 256k vs
    * the 1m default). The floor only governs small shuffles — large
    * ones are advisory-sized — so a low floor is scale-neutral: at
    * cluster scale it changes task counts only for stages that are
    * trivial either way. 256k, not lower: 64k was also measured and
    * re-splits the many tiny shuffles of driver-round composites into
    * pure task overhead (q_split_safe_incr +0.9 s, q_vocab_prune
    * +0.25 s).
    */
  private val AqeMinPartitionSize = "256k"

  /** The configs every session needs whatever its master: the graft
    * functions and plan rules (`graft_sliding_median` and friends fail
    * to resolve without the extension), UTC session time (the NTZ
    * events path refuses any other zone) and nanosecond parquet
    * timestamps read as longs (Tables.events).
    */
  def required(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(nThreads: String = cpus): SparkSession = {
    val spark = required(SparkSession.builder())
      .master(s"local[$nThreads]")
      .config("spark.sql.shuffle.partitions", nThreads)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        AqeMinPartitionSize)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
