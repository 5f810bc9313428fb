package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{SeriesSpec, TimeIndex}
import graft.ext.{Dedup, Layout, Multimodal, Retrieval, Sampling, Sessionize, Similarity, TextStats}
import graft.operators.{AsOf, Diagnostics, Gaps, IntervalJoin, QcConfig, QcSuite, Resample, RollingStats, Runs, Seasonal, Sentinels, Slope}
import graft.pipeline.{Pipeline, PipelineConfig, VariableConfig}
import graft.sentem.{SentemConfig, SentemQc}
import graft.sources.Tables
import graft.wrtds.Wrtds

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here has a DuckDB oracle in `oracleSql` computing the
  * exact same values on the same parquet tables. Cross-engine float
  * determinism rules used throughout:
  *  - money/decimal sums go through DecimalType (exact, order-free)
  *    and cast to double at the end;
  *  - medians/order statistics are exact in both engines;
  *  - derived percentages are round(x, 6) on identically-shaped
  *    expressions so both engines round the same IEEE double.
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001: the full EP1 pipeline (QC
    * suite + SentemQC side-band) over (user, event_type) series.
    * Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val spec2 = SeriesSpec(Seq("user_id", "event_type"))
    val base = TimeIndex.dedupKeepFirst(
      Tables.events(spark, dir).select("user_id", "event_type", "ts", "value", "event_id"),
      spec2, col("event_id")).drop("event_id")
    val sensorByType = Map(
      "click" -> (400, false), "error" -> (410, false),
      "purchase" -> (2477034, true), "signup" -> (157787, false),
      "view" -> (2477787, true))
    val vcfg = sensorByType.map { case (v, (code, nitrate)) =>
      v -> VariableConfig(rangeMin = Some(0.0), rangeMax = Some(100.0),
        sentemCode = Some(code), isNitrate = nitrate)
    }
    val cfg = PipelineConfig(gapHours = 72.0, kVariance = 6, kZscore = 8,
      variables = vcfg)
    Pipeline.run(base, spec2, cfg, variableCol = Some("event_type")).timeseries
  }

  // ---------------------------------------------------------------- helpers

  private val evSpec: SeriesSpec = Tables.eventsSpec

  /** The q_pii seeding: plants a deterministic email on every doc and
    * doc_id-dependent phone/IPv4/account-run subsets, IDENTICALLY to
    * the oracle's seeded CTE (shared by q_pii and q_keep_score).
    */
  private def piiSeed(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.withColumn("text",
      concat(col("text"),
        lit(" u"), d, lit("@ex"), d % 5, lit(".org"),
        when(d % 3 === 0, concat(lit(" "), (d % 900 + 100).cast("string"),
          lit("-555-"), lpad((d % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(d % 4 === 0, concat(lit(" 10."), (d % 256).cast("string"),
          lit(".0."), ((d * 7) % 256).cast("string")))
          .otherwise(lit("")),
        when(d % 5 === 0, concat(lit(" acct "),
          lpad(d.cast("string"), 12, "0"))).otherwise(lit(""))))
  }

  /** The q_domains seeding: one site URL per doc plus doc_id-dependent
    * CDN/blocklisted/repeat URLs, identically to the oracle's seeded
    * CTE (shared by q_domains, q_domains_join and q_keep_score).
    */
  private def domainSeed(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.withColumn("text",
      concat(col("text"),
        lit(" see https://site"), d % 7, lit(".example.com/p/"), d,
        when(d % 3 === 0, concat(lit(" and http://cdn"),
          (d % 4).cast("string"), lit(".example.net/x"))).otherwise(lit("")),
        when(d % 11 === 0, concat(lit(" via https://bad"),
          (d % 2).cast("string"), lit(".spam.io/z"))).otherwise(lit("")),
        when(d % 6 === 0, concat(lit(" again https://site"),
          (d % 7).cast("string"), lit(".example.com/q"))).otherwise(lit(""))))
  }

  private val DomainBlocklist = Seq("bad0.spam.io", "bad1.spam.io")

  /** The ONE (minLen, maxDf) parameter pair for substring-span dedup:
    * passed to both Dedup.substringSpans calls AND the oracle CTE
    * builder, so the two sides cannot drift.
    */
  private val SubstringMinLen = 8
  private val SubstringMaxDf = 20

  /** The ONE (dims, iters) pair for the trained quality classifier —
    * shared by the three q_quality_* Spark entries and the oracle CTE
    * builder. Seed slice = doc_id % 3 == 0 (the "hand-labeled" third;
    * eval runs on the held-out two thirds).
    */
  private val QualityClfDims = 32
  private val QualityClfIters = 6
  private def qualityClfSeed(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)

  /** The ONE (depth, width, topK) triple for the count-min sketch
    * audit — shared by the Spark entry and the oracle SQL builder so
    * the two sides cannot drift.
    */
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val CmsTopK = 30

  /** The ONE BPE merge-round count — shared by the four q_bpe_*
    * Spark entries and the unrolled-training oracle CTE builder
    * ([[bpeTrainCtes]]) so the two sides cannot drift.
    */
  private val BpeNumMerges = 12

  /** The ONE (batch, candidate-cap) pair for the batched BPE trainer
    * — shared by the q_bpe_train_batched entry and its oracle builder
    * so the greedy-selection geometry cannot drift. 12 merges in 3
    * rounds of 4 (vs trainBpe's 12 rounds of 1).
    */
  private val BpeBatchSize = 4
  private val BpeCandCap = 16

  /** The ONE hot-band df cap for the capped SimHash pair twin —
    * shared by the q_dedup_simhash_capped Spark entry and its oracle
    * so the two sides cannot drift. Not binding on the synthetic
    * corpus at any tested SF (the twin is row-identical to
    * q_dedup_simhash there); it binds under a planted exact-dup
    * flood, which the skew bench axis measures.
    */
  private val SimhashMaxChunkDf = 5000L

  /** The ONE per-JVM BPE-artifact scratch dir for q_bpe_apply's
    * store→load round trip: created ONCE per JVM (lazy), overwritten
    * by every run (mode("overwrite")) — repeated bench reps reuse one
    * bounded dir instead of leaking a fresh temp dir per invocation,
    * while createTempDirectory keeps concurrent JVMs isolated (a
    * fixed shared /tmp name would let one process overwrite the
    * parquet another is mid-read on). A shutdown hook deletes the
    * dir on JVM exit (it is bounded but was never reclaimed), and
    * same-JVM invocations serialize the write→read round trip on
    * [[bpeArtifactLock]] — two concurrent q_bpe_apply runs would
    * otherwise race one's overwrite against the other's mid-read.
    */
  private[graft] val bpeArtifactLock = new Object
  private lazy val bpeArtifactDir: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_bpe_artifact")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }
    p.toString
  }

  /** The ONE Rademacher sign matrix for the JL random-projection
    * queries: computed once driver-side (md5-parity, no RNG state)
    * and interpolated as literals into BOTH the Spark plan and the
    * oracle SQL — the two sides share the exact same ±1.0 values.
    */
  private val RprojInDims = 64
  private val RprojOutDims = 16
  private lazy val RprojSigns =
    Similarity.rprojSigns(RprojInDims, RprojOutDims)
  private lazy val rprojSignsSqlValues: String =
    RprojSigns.zipWithIndex.map { case (sv, k) =>
      s"($k, [${sv.mkString(", ")}])"
    }.mkString(",\n         ")

  /** The FOUR deterministic "dirty" Unicode suffixes for the NFC
    * normalization query, chosen by doc_id % 4 identically in the
    * Spark entry and the oracle SQL (the corpus itself is ASCII, so
    * the non-ASCII surface is synthesized): a decomposed pair
    * (composition e+◌́→é), an out-of-order combining sequence (acute
    * cc=230 written BEFORE cedilla cc=202 — canonical reordering then
    * composition), a compatibility ligature (ﬁ is NFC-invariant; only
    * NFKC folds it — the spec covers that form), and the empty suffix
    * (the already-normalized fast path).
    */
  private val UnicodeSuffixes = Seq(
    " café",
    " ȩ́ Ångström",
    " ﬁle",
    "")

  /** events → deduped long series with delta_us (shared prefix of the
    * time-series queries).
    */
  private def seriesWithDelta(s: SparkSession, dir: String): DataFrame =
    TimeIndex.withDeltaUs(Tables.eventsSeries(s, dir), evSpec)

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 aggregation plumbing on lineitem (TPC-H Q1 shape).
    "q1_pricing" -> ((s, dir) => {
      val ep = col("l_extendedprice").cast(DecimalType(12, 2))
      val disc = col("l_discount").cast(DecimalType(4, 2))
      val tax = col("l_tax").cast(DecimalType(4, 2))
      val one = lit(1).cast(DecimalType(3, 2))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(ep).cast("double").as("sum_base_price"),
          sum(ep * (one - disc)).cast("double").as("sum_disc_price"),
          sum(ep * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
          avg("l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // §2.4 step inference: per-series median positive timestamp delta.
    "q_step_infer" -> ((s, dir) => {
      TimeIndex.inferStep(seriesWithDelta(s, dir), evSpec)
    }),

    // §2.4 duplicate resolution by exact median (resolve_duplicates —
    // the standalone aggregate form; the shipped flow dedups
    // keep-first upstream so this exercises the raw table).
    "q_dedup_median" -> ((s, dir) => {
      TimeIndex.resolveDuplicatesMedian(
        Tables.events(s, dir).select("user_id", "ts", "value"), evSpec)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("n_obs"))
    }),

    // §2.4/§2.5 flagship slice: dedup → delta → gap mask → seasonal
    // coverage stats (EP1's seasonal_stats leg).
    "q_seasonal_summary" -> ((s, dir) => {
      val d = seriesWithDelta(s, dir)
      val step = TimeIndex.inferStep(d, evSpec)
      val clean = Gaps(d, evSpec, gapHours = 2.0)
      Seasonal.stats(clean, evSpec, step)
        .select("user_id", "season", "n_obs", "n_missing", "expected_pts",
          "coverage_pct", "nan_pct")
    }),

    // §2.0/§2.5 RLE: flat-value runs on a quantized signal (raw random
    // doubles never repeat; bucketing models sensor quantization).
    "q_flat_runs" -> ((s, dir) => {
      val q = Tables.eventsSeries(s, dir)
        .withColumn("value", round(col("value") / 20))
      Runs.flatValues(q, evSpec, minHours = 2.0, absTol = 0.0)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          round(col("hours"), 6).as("hours"), col("value"))
    }),

    // §2.5 binary-switch events (zero-runs with finite non-zero
    // neighbors); tol=1.0 = "near-zero reading" on this data.
    "q_binary_switches" -> ((s, dir) => {
      Runs.binarySwitches(Tables.eventsSeries(s, dir), evSpec, zeroTol = 1.0)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          unix_micros(col("pre")).as("pre_us"),
          unix_micros(col("post")).as("post_us"),
          col("pre_val"), col("post_val"))
    }),

    // §2.5 isolated-group mask: short finite runs fenced by >3h gaps;
    // missing values modeled by masking low readings.
    "q_isolated" -> ((s, dir) => {
      val d = seriesWithDelta(s, dir)
      val step = TimeIndex.inferStep(d, evSpec)
      val masked = d.withColumn("value",
        when(col("value") < 10, lit(null)).otherwise(col("value")))
      Runs.isolatedMask(masked, evSpec, step, gapHours = 3.0)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("isolated"))
    }),

    // §2.2 sentinel detection + mask (count/fraction activation);
    // low readings re-encoded as the -9 sentinel to model sensor codes.
    "q_sentinels" -> ((s, dir) => {
      // feeds both the per-series count aggregate and the join-back
      val d = graft.core.Caches.persisted(Tables.eventsSeries(s, dir)
        .withColumn("value", when(col("value") < 1, lit(-9.0)).otherwise(col("value"))))
      Sentinels.mask(d, evSpec)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("v_masked"), col("sentinel_flag"))
    }),

    // §2.5/§3 the 9-check QC fallback suite on the gap-cleaned series.
    // The cleaned base is persisted: the suite's run-mask stages
    // (plateau, isolated) are self-joins of base-derived aggregates
    // against the base, and an unpersisted base gets re-planned — and
    // re-scanned — once per branch (4 parquet scans, 8 shuffles in the
    // static plan; PlanGuardSpec pins the persisted shape; the
    // measured unpersisted trade is recorded in COVERAGE.md).
    "q_qc_suite" -> ((s, dir) => {
      val d = seriesWithDelta(s, dir)
      val step = TimeIndex.inferStep(d, evSpec)
      val clean = graft.core.Caches.persisted(Gaps(d, evSpec, gapHours = 24.0))
      val cfg = QcConfig(rangeMin = Some(0.0), rangeMax = Some(100.0),
        flatHours = 2.0, kVariance = 6, kZscore = 8, jumpThresh = 5.0)
      QcSuite(clean, evSpec, step, cfg)
        .select((Seq(col("user_id"), unix_micros(col("ts")).as("ts_us")) ++
          QcSuite.FlagCols.map(col) :+ col("qc_flag")): _*)
    }),

    // §2.5 closed-form rolling OLS slope (±12-row frame, finite-pair
    // restricted, time in seconds from series start).
    "q_rolling_slope" -> ((s, dir) => {
      Slope.rollingLinSlope(Tables.eventsSeries(s, dir), evSpec, win = 25, minp = 8)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("slope"), 9).as("slope"))
    }),

    // §2.5 flat-slope runs (|slope| <= 0.05 sessionized, >=2h).
    "q_flat_slopes" -> ((s, dir) => {
      Slope.flatSlopes(Tables.eventsSeries(s, dir), evSpec,
        minHours = 2.0, win = 25, absSlope = 0.05)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), round(col("hours"), 6).as("hours"))
    }),

    // §2.4 decimal-fraction uniformity chi-square (p excluded: DuckDB
    // has no chi2 CDF; the engine's chi2_sf UDF is unit-tested).
    "q_decimal_uniformity" -> ((s, dir) => {
      Diagnostics.decimalUniformity(Tables.eventsSeries(s, dir), evSpec, withP = false)
        .select("user_id", "n_finite", "chisq")
    }),

    // §2.4 dominant two-digit decimal (mode with smallest-code ties).
    "q_dominant_decimal" -> ((s, dir) => {
      Diagnostics.dominantDecimal(Tables.eventsSeries(s, dir), evSpec)
        .select("user_id", "dom", "dom_frac")
    }),

    // §2.4 quantization-step estimate on a 5-unit-quantized signal.
    "q_quant_step" -> ((s, dir) => {
      val q = Tables.eventsSeries(s, dir)
        .withColumn("value", round(col("value") / 5) * 5)
      Diagnostics.quantStep(q, evSpec)
        .select("user_id", "quant_step", "is_quantized")
    }),

    // §2.5 SentemQC engines: O2 (pct-uncertainty), pH (constant
    // uncertainty + median run-3), NO3 (nitrate unit round-trip).
    "q_sentem_o2" -> sentemQuery(400, isNitrate = false),
    "q_sentem_ph" -> sentemQuery(410, isNitrate = false),
    "q_sentem_no3" -> sentemQuery(2477034, isNitrate = true),

    // §3 EP1 composition: dedup -> gap mask -> 9-check suite ->
    // accepted projection, over (user, event_type) series.
    "q_pipeline" -> ((s, dir) => {
      val spec2 = SeriesSpec(Seq("user_id", "event_type"))
      val base = TimeIndex.dedupKeepFirst(
        Tables.events(s, dir).select("user_id", "event_type", "ts", "value", "event_id"),
        spec2, col("event_id")).drop("event_id")
      val vcfg = Seq("click", "error", "purchase", "signup", "view")
        .map(v => v -> VariableConfig(rangeMin = Some(0.0), rangeMax = Some(100.0))).toMap
      val cfg = PipelineConfig(gapHours = 72.0, kVariance = 6, kZscore = 8,
        applySentem = false, variables = vcfg)
      Pipeline.run(base, spec2, cfg, variableCol = Some("event_type")).timeseries
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("raw"), col("clean"), col("accepted"), col("saqc_flag"))
    }),

    // §2.3/§2.7 event-table union across the three detectors on the
    // quantized, gap-cleaned signal.
    "q_events_all" -> ((s, dir) => {
      val (clean, _) = quantCleanSeries(s, dir)
      val evBin = Runs.binarySwitches(clean, evSpec)
        .withColumn("type", lit("binary_switch"))
      val evFlat = Runs.flatValues(clean, evSpec, minHours = 2.0).drop("value")
        .withColumn("type", lit("flat_values"))
      val evSlope = Slope.flatSlopes(clean, evSpec, minHours = 2.0,
        win = 25, absSlope = 0.05).withColumn("type", lit("flat_slopes"))
      evBin.unionByName(evFlat, allowMissingColumns = true)
        .unionByName(evSlope, allowMissingColumns = true)
        .select(col("user_id"), col("type"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          round(col("hours"), 6).as("hours"),
          unix_micros(col("pre")).as("pre_us"),
          unix_micros(col("post")).as("post_us"),
          col("pre_val"), col("post_val"))
    }),

    // §2.4 seasonal summary with flat/slope event counts (full
    // reference seasonal_stats shape).
    "q_seasonal_events" -> ((s, dir) => {
      val (clean, step) = quantCleanSeries(s, dir)
      val evFlat = Runs.flatValues(clean, evSpec, minHours = 2.0)
      val evSlope = Slope.flatSlopes(clean, evSpec, minHours = 2.0,
        win = 25, absSlope = 0.05)
      Seasonal.statsWithEvents(clean, evSpec, step, evFlat, evSlope)
        .select("user_id", "season", "n_obs", "n_missing", "expected_pts",
          "coverage_pct", "nan_pct", "flat_values_events", "flat_slopes_events")
    }),

    // Skew-salted two-stage aggregation: event_type has 5 values over
    // the whole table (maximal key skew) — the salted shape spreads
    // each hot key over 32 sub-groups, and the decimal sum makes the
    // two-stage result bit-identical to the direct groupBy the oracle
    // runs.
    "q_salted_agg" -> ((s, dir) => {
      graft.core.Salt.skewAgg(Tables.events(s, dir),
        keys = Seq("event_type"), valueCol = col("value"),
        saltOn = col("event_id"), nSalts = 32)
    }),

    // salted replicated JOIN on the (5-value, maximally skewed)
    // event_type key: big side salted, 5-row dim replicated 8x, join
    // on (key, salt) — row set identical to the plain join.
    "q_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.select("event_type").distinct()
        .withColumn("type_rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("event_type"))))
      graft.core.Salt.skewJoin(ev.select(col("event_id"), col("event_type")),
        dim, Seq("event_type"), saltOn = col("event_id"), nSalts = 8)
        .select("event_id", "event_type", "type_rank")
    }),

    // fixed-budget deterministic sampling: exactly k=20 docs per
    // language by hash rank (WindowGroupLimit keeps k per task).
    "q_sample_fixed" -> ((s, dir) =>
      Sampling.fixedSizeSample(Tables.documents(s, dir), "doc_id",
        "lang", k = 20)),

    // weighted sampling WITHOUT replacement by priority sampling
    // (Duffield-Lund-Thorup JACM 2007): q = w/u with a deterministic
    // hash uniform, top-k by q, and the unbiased subset-sum estimator
    // max(w, τ). Top-(k+1) plans as TakeOrderedAndProject (per-
    // partition heap, no global sort); priorities use only exact /
    // correctly-rounded IEEE ops so the doubles are bit-identical in
    // DuckDB.
    "q_priority_sample" -> ((s, dir) =>
      Sampling.prioritySample(Tables.documents(s, dir), "doc_id",
        col("n_chars"), k = 25)),

    // per-stratum variant: the k best of EVERY language in one pass;
    // rank-on-window plans as WindowGroupLimit (k-sized heap per
    // group, no stratum materialized whole).
    "q_priority_sample_strat" -> ((s, dir) =>
      Sampling.prioritySamplePerStratum(Tables.documents(s, dir),
        "doc_id", "lang", col("n_chars"), k = 5)),

    // DSIR (Xie et al. NeurIPS 2023): importance weights of every raw
    // doc under a hashed-ngram target-vs-raw ratio model (target =
    // the src0 slice), then Gumbel top-k resampling — the principled
    // "make the crawl look like the reference" selection step. One
    // tokenize pass; model tables are bucket-sized broadcasts; the
    // decimal(38,9) term sum keeps the log weights order-free.
    "q_dsir_weights" -> ((s, dir) =>
      Sampling.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        refFilter = col("source") === "src0", buckets = 4096)),

    // Gumbel top-k over the DSIR log weights: exact without-
    // replacement sampling from p ∝ w with deterministic hash
    // uniforms; top-k plans as TakeOrderedAndProject.
    "q_dsir_sample" -> ((s, dir) =>
      Sampling.dsirSample(
        Sampling.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
          refFilter = col("source") === "src0", buckets = 4096),
        "doc_id", k = 30)),

    // INCREMENTAL DSIR: the bucket-count model is built from the
    // known corpus (doc_id % 4 != 0) as a persistable 4096-row
    // artifact, then a new batch (doc_id % 4 == 0) is scored against
    // the FROZEN model — per-ingest cost is one batch pass + a
    // bucket-bounded broadcast join; the corpus text is never
    // rescanned. The driver-checked batch twin of carrying the model
    // between ingests (dsirModelMerge extends it without rescans).
    "q_dsir_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirScore(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        Sampling.dsirModel(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
          "doc_id", "text", refFilter = col("source") === "src0",
          buckets = 4096),
        "doc_id", "text", buckets = 4096)
    }),

    // superset-stable 90/5/5 train/val/test split by hash bucket —
    // zero shuffle, assignment independent of the rest of the corpus.
    "q_split" -> ((s, dir) =>
      Sampling.trainValTestSplit(Tables.documents(s, dir), "doc_id",
        trainBps = 9000, valBps = 500)),

    // leakage-safe split: exact-dup families assigned as a unit (the
    // family = min id over the normalized-text hash group), so train
    // and eval can never share a verbatim duplicate.
    "q_split_safe" -> ((s, dir) =>
      Sampling.leakageSafeSplit(Tables.documents(s, dir), "doc_id",
        "text", trainBps = 9000, valBps = 500)),

    // global length-decile assignment with NO global sort: one exact
    // percentile aggregate -> broadcast boundary array -> scan-local
    // compare (the ntile() single-partition anti-pattern replaced).
    "q_quantile_buckets" -> ((s, dir) =>
      Sampling.quantileBuckets(Tables.documents(s, dir), "doc_id",
        "n_chars", nBuckets = 10)),

    // target-mixture rebalancing: per-source quotas in id-hash order
    // (src0 capped at 15, src1 at 10, src2 at 5, everything else 3).
    "q_source_mix" -> ((s, dir) =>
      Sampling.mixByQuota(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 15, "src1" -> 10, "src2" -> 5), defaultQuota = 3)),

    // multi-level corpus scorecard in ONE pass: ROLLUP emits
    // (source, lang), per-source and grand-total rows from a single
    // expand+aggregate — no N-query subtotal fan-out; grouping_id
    // disambiguates subtotal NULLs from data NULLs.
    "q_rollup" -> ((s, dir) =>
      Tables.documents(s, dir)
        .rollup("source", "lang")
        .agg(grouping_id().cast("int").as("grp"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))),

    // CUBE: the full grouping-sets lattice — (source,lang), source,
    // lang, grand total — from one expand+aggregate pass; the lang-
    // only subtotal is what ROLLUP can't emit.
    "q_cube" -> ((s, dir) =>
      Tables.documents(s, dir)
        .cube("source", "lang")
        .agg(grouping_id().cast("int").as("grp"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))),

    // HLL approximate distinct: the sketch a 100 TB pipeline uses
    // where exact count-distinct would shuffle every key — fixed-size
    // state per group, map-side mergeable. The sketch value itself has
    // no SQL-exact oracle, so the query emits the error-bound ASSERTION
    // (|hll − exact|/exact ≤ 4%, generous vs rsd=0.01) alongside the
    // exact count; the oracle expects the bound column to be TRUE, so a
    // drifting sketch hash-mismatches. ExtSpec pins the same bound.
    "q_approx_distinct" -> ((s, dir) =>
      // NOT fanned out (measured r15): parallelizing the scan split
      // duplicates the per-partition distinct/HLL partial state across
      // every partition (round-robin scatters each user over all of
      // them) and costs more than the serial scan it replaces
      // (2.5 s wall / 33 s task CPU at 32-way vs 1.6 s serial)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01)
          .as("__approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          // the 0-distinct edge (all-NULL user_ids) divides by zero →
          // NULL; a 0-vs-0 sketch is trivially in-bound
          ((col("exact_users") === 0 && col("__approx") === 0) ||
            abs(col("__approx") - col("exact_users")).cast("double") /
              col("exact_users") <= 0.04).as("approx_within_4pct"))),

    // TF-IDF-family distinctive terms: top-5 per doc by the
    // integer-exact (tf desc, df asc, term asc) comparator — the
    // ranking tf·idf induces, without a transcendental score column.
    "q_tfidf" -> ((s, dir) =>
      TextStats.distinctiveTerms(Tables.documents(s, dir), "doc_id",
        "text", k = 5)),

    // document-frequency vocabulary cut: drop df<2 (noise) and df>250
    // (corpus stopwords at this SF), report per-doc retained mass.
    "q_vocab_prune" -> ((s, dir) =>
      TextStats.pruneVocabulary(Tables.documents(s, dir), "doc_id",
        "text", minDf = 2L, maxDf = 250L)),

    // cleanText's masking path under oracle: the synthetic corpus
    // carries no markup/emails/URLs, so q_text_clean's oracle only
    // ever pins the identity path. This query plants a deterministic
    // contact line (tag + email + URL) on 2/3 of the docs
    // (doc_id % 3 != 0) IDENTICALLY on both sides, so the redaction
    // regexes are compared cross-engine on text that actually matches;
    // the untouched third keeps pinning the identity path.
    "q_clean_seeded" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" <b>contact</b> user"),
            col("doc_id"), lit("@example.com or https://ex.org/d/"),
            col("doc_id"))))
      TextStats.cleanText(seeded, "doc_id", "text")
    }),

    // PII scrub under oracle: the synthetic corpus carries no PII, so
    // (exactly like q_clean_seeded) each doc is planted with a
    // deterministic email, and doc_id-dependent subsets get a phone
    // (id%3=0), an IPv4 (id%4=0) and a 12-digit account run (id%5=0)
    // IDENTICALLY on both sides — all four redaction regexes and all
    // four audit counters are compared cross-engine on text that
    // actually matches, at varying per-doc combinations.
    "q_pii" -> ((s, dir) =>
      TextStats.piiRedact(piiSeed(Tables.documents(s, dir)), "doc_id", "text")),

    // URL/domain blocklist filter, seeded identically on both sides:
    // every doc cites one site<k>.example.com URL, thirds add a CDN
    // URL, id%6 repeats the first domain (distinct-vs-total check),
    // and id%11 plants a blocklisted spam.io domain.
    "q_domains" -> ((s, dir) =>
      TextStats.domainStats(domainSeed(Tables.documents(s, dir)), "doc_id",
        "text", blocklist = DomainBlocklist)),

    // the table-driven blocklist escalation, on the same seeded URLs
    // as q_domains: identical output contract via an exploded-host
    // broadcast semi-join instead of the in-expression literal array.
    "q_domains_join" -> ((s, dir) => {
      import s.implicits._
      TextStats.domainStatsJoin(domainSeed(Tables.documents(s, dir)),
        "doc_id", "text", DomainBlocklist.toDF("domain"))
    }),

    // temperature-scaled source mixing weights (p_i ∝ n_i^0.5 — the
    // classic multilingual smoothing) over per-source character mass.
    "q_temp_mix" -> ((s, dir) =>
      Sampling.temperatureWeights(Tables.documents(s, dir), "source",
        "n_chars", alpha = 0.5)),

    // cross-source exact-duplicate family matrix (provenance audit:
    // which source pairs share verbatim content, plus within-source
    // duplication on the diagonal). The small corpora carry no natural
    // exact duplicates, so every 17th doc is rewritten to one of 5
    // shared boilerplate bodies IDENTICALLY on both sides — the
    // planted families span sources (doc ids stride across them),
    // exercising cross cells and the diagonal at every SF.
    "q_dup_matrix" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(lit("shared boilerplate "),
            (col("doc_id") % 5).cast("string")))
          .otherwise(col("text")))
      Dedup.crossSourceMatrix(seeded, "doc_id", "text", "source")
    }),

    // per-source unigram KL divergence from the corpus distribution
    // (bits) — the domain-shift scorecard of the source mix.
    "q_source_kl" -> ((s, dir) =>
      TextStats.sourceDivergence(Tables.documents(s, dir), "source",
        "text")),

    // corpus snapshot CDC: two versions simulated from the one
    // documents table IDENTICALLY on both sides — "old" lacks every
    // 9th doc and carries a ' v1' text suffix on every 7th (changed),
    // "new" lacks every 10th doc (removed) — so all four statuses
    // appear at every SF.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldV = docs.filter(col("doc_id") % 9 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newV = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.snapshotDiff(oldV, newV, "doc_id", "text")
    }),

    // token-budget greedy selection: keep the highest-lexical-
    // diversity docs until 50k chars are spent (strict prefix rule).
    "q_budget_select" -> ((s, dir) => {
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      Sampling.budgetSelect(Tables.documents(s, dir), "doc_id",
        quality = size(array_distinct(toks)) * lit(1.0) / size(toks),
        tokens = col("n_chars"), budget = 50000L)
    }),

    // CDC merge: reduce the event log to its live state table —
    // latest row per user wins, and a latest-'error' row is a
    // tombstone that removes the user entirely (resurrected only by a
    // later non-error event). Distinct from q_latest, which keeps the
    // latest row per (user, type) with no delete semantics.
    "q_cdc_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"))
      Sessionize.applyChangelog(ev, Seq("user_id"), "ts_us", "event_id",
        "event_type", deleteOp = "error")
    }),

    // fixed-bin value histogram per event type: the distribution
    // monitor a data pipeline runs per batch; the heavy tail beyond
    // hi=200 clamps into the last bin (counts must sum to n).
    "q_histogram" -> ((s, dir) =>
      Diagnostics.valueHistogram(Tables.events(s, dir), "event_type",
        "value", lo = 0.0, hi = 200.0, nBins = 20)),

    // per-group closed-form OLS (price vs quantity): trend monitoring
    // as ONE map-side-combined pass; all five moments are exact
    // integer sums over quantized values (decimal(38,0)), so the fit
    // is order-free and bit-portable — the one double division per
    // group happens on exact integers.
    "q_linear_fit" -> ((s, dir) =>
      Diagnostics.groupedLinearFit(Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"),
        "l_quantity", "l_extendedprice")),

    // Huber one-step IRLS on the same moment base: pilot OLS →
    // median-|residual| scale → quantized Huber weights → exact
    // decimal weighted refit. Three map-side-combined passes, group
    // tables broadcast back — order-free and engine-portable like the
    // OLS fit.
    // 2 IRLS rounds (down from 3): the coefficient drift between
    // rounds 2 and 3 on this data is below the 6-dp output grid
    // (spec-pinned in DiagnosticsSpec), so the third full
    // scale+moment pass bought nothing but bench wall.
    "q_robust_fit" -> ((s, dir) =>
      Diagnostics.groupedRobustFit(Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"),
        "l_quantity", "l_extendedprice", iters = 2)),

    // PIVOT: per-user activity matrix — long event log to one wide
    // row per user with a column per event type. Explicit value list,
    // so no distinct-scan planning job; absent cells filled 0.
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivot cells: a bare fill(0L) would also
        // rewrite a NULL user_id group key, diverging from GROUP BY
        .na.fill(0L,
          Seq("click", "error", "purchase", "signup", "view"))),

    // incremental-ingestion dedup: flag batch docs (doc_id % 5 == 0)
    // whose normalized text already exists in the known corpus — the
    // append-only pipeline check that never re-dedups the corpus.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupAgainstKnown(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text")
    }),

    // incremental NEAR-dup: the same ingest split, but by SimHash
    // Hamming proximity — catches boilerplate variants the exact
    // hash misses; the known corpus contributes one reusable chunk
    // index and is never re-paired against itself.
    "q_dedup_incr_near" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.simHashIncremental(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", maxDist = 3)
    }),

    // per-doc n-gram novelty: fraction of a doc's distinct 3-grams
    // appearing in NO other document — the corpus memorization/
    // boilerplate audit; one df aggregate + join back, never pairwise.
    "q_novelty" -> ((s, dir) =>
      TextStats.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        k = 3)),

    // NEAR-dup-safe split: whole SimHash near-dup families (connected
    // components; exact dups are hamming-0 members) route to one
    // split by the deterministic family-id hash — blocks the
    // paraphrase/boilerplate eval leakage the exact-hash split misses.
    "q_split_safe_near" -> ((s, dir) =>
      Sampling.leakageSafeSplitNear(Tables.documents(s, dir), "doc_id",
        "text", maxDist = 3)),

    // FROZEN-FAMILY incremental split: the known corpus (doc_id % 4
    // != 0) seeds a persistable family registry; the new batch
    // (doc_id % 4 == 0) is assigned WITHOUT renumbering — a batch
    // component inheriting the oldest matched family, novel
    // components minting new families from their own min id. This is
    // the append-only upgrade of q_split_safe_near's documented
    // renumbering weakness: existing docs' splits are frozen by
    // construction. Output is the batch assignment + frozen split.
    "q_split_safe_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val known = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val reg = Sampling.familyRegistry(known, "doc_id", "text", maxDist = 3)
      Sampling.familySplit(
        Sampling.assignFamiliesIncremental(batch, reg, "doc_id", "text",
          maxDist = 3))
    }),

    // the FULL incremental curation verdict on the same frozen
    // registry: gates + frozen-family assignment + keeper + split for
    // the batch, per-batch-callable — the driver-checked batch twin
    // of the streaming foreachBatch suite (StreamingSpec proves
    // batch ≡ stream; this row proves the batch form itself against
    // an independent SQL replay).
    "q_curation_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val known = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val reg = Sampling.familyRegistry(known, "doc_id", "text", maxDist = 3)
      TextStats.curationIngest(batch, reg, "doc_id", "text", maxDist = 3)
    }),

    // winnowing fingerprints (Schleimer et al. 2003 / MOSS): each
    // sliding window of w k-gram hashes keeps its minimum (ties →
    // rightmost) — guarantees any shared run ≥ w+k−1 tokens shares a
    // fingerprint at expected density 2/(w+1); the principled upgrade
    // of q_fingerprint's mod-p sampler, selected per doc with zero
    // joins or window exchanges.
    "q_winnow" -> ((s, dir) =>
      TextStats.winnowFingerprints(Tables.documents(s, dir), "doc_id",
        "text", k = 4, w = 5)),

    // UNIFIED ingest: exact AND near verdicts from one pass over the
    // fresh batch — the call a real append-only pipeline makes per
    // ingest. The fresh slice is normalized/hashed once into a cached
    // base; exact leg, fingerprint pass and output all read it.
    "q_dedup_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupIngest(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", maxDist = 3)
    }),

    // substring-level exact dedup (Lee et al. 2022): maximal
    // cross-document repeated token spans (>= 8 tokens) via df-capped
    // positioned-anchor groups + constant-diagonal run merging — the
    // repeated-span axis that doc-level hashing and shingle-set
    // jaccard both miss (a license header pasted into two otherwise
    // unrelated documents).
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.substringSpans(Tables.documents(s, dir), "doc_id", "text",
        minLen = SubstringMinLen, maxDf = SubstringMaxDf)),

    // the ACT half of substring dedup (Lee et al. remove the repeated
    // span from all but the first occurrence): every id_b token
    // position covered by a detected span is dropped, text rebuilt
    // from the kept token stream. Removal volume = matched
    // duplication, never the corpus.
    "q_dedup_substring_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val spans = Dedup.substringSpans(docs, "doc_id", "text",
        minLen = SubstringMinLen, maxDf = SubstringMaxDf)
      Dedup.removeDupSpans(docs, "doc_id", "text", spans)
    }),

    // hopping-window event rates: 2-hour windows sliding every hour
    // (each event lands in exactly 2 windows), counted per type —
    // the batch form of the standard streaming rate monitor.
    "q_hop_windows" -> ((s, dir) =>
      Sessionize.hoppingCounts(Tables.events(s, dir), "ts",
        "2 hours", "1 hour", Seq("event_type"))),

    // telemetry debounce: same-(user, type) rows within 30 min of the
    // previous row are flagged dropped (chained lag semantics); every
    // row keeps its audit columns.
    "q_debounce" -> ((s, dir) =>
      Sessionize.debounce(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("ts_us")),
        Seq("user_id", "event_type"), "ts_us", "event_id",
        toleranceUs = 1800000000L)),

    // SCD type-2 history: the changelog intervalized — every event
    // version carries [valid_from, valid_to) with valid_to = the next
    // version's ts (NULL while current); the is_current row per user
    // is exactly the row q_cdc_merge/q_latest keep.
    "q_scd2" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value"), 6).as("value"))
      Sessionize.scdIntervals(ev, Seq("user_id"), "ts_us", "event_id")
    }),

    // exact grouped percentiles (p50/p90/p99 latency-style summary):
    // Spark's exact percentile aggregate, linear interpolation —
    // same definition as the oracle's quantile_cont.
    "q_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          count(col("value")).as("n"))),

    // approximate grouped percentiles: the sketch twin of
    // q_percentiles — approx_percentile keeps fixed-size mergeable
    // state per group where the exact aggregate buffers every value
    // (unbounded at 100 TB). Like the HLL distinct, the sketch value
    // has no SQL-exact oracle, so the query asserts the documented
    // rank-error contract in-band: accuracy=1000 bounds rank error by
    // n/1000, and the sketch returns a RAW data value while the exact
    // percentile interpolates, which shifts up to one more rank
    // (≈1/n). A p ± 0.02 band absorbs both for groups ≥ ~55 rows
    // (every event_type at every SF) while still catching gross
    // sketch drift. The oracle expects TRUE per band plus the exact
    // rounded percentiles.
    "q_approx_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("__a50"),
          expr("approx_percentile(value, 0.9, 1000)").as("__a90"),
          expr("approx_percentile(value, 0.99, 1000)").as("__a99"),
          expr("percentile(value, 0.48)").as("__lo50"),
          expr("percentile(value, 0.52)").as("__hi50"),
          expr("percentile(value, 0.88)").as("__lo90"),
          expr("percentile(value, 0.92)").as("__hi90"),
          expr("percentile(value, 0.97)").as("__lo99"),
          expr("percentile(value, 1.0)").as("__hi99"),
          round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
          round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
          round(expr("percentile(value, 0.99)"), 6).as("p99_exact"),
          count(col("value")).as("n"))
        .select(col("event_type"), col("n"),
          col("p50_exact"), col("p90_exact"), col("p99_exact"),
          // n=0 (all-NULL values) makes every percentile NULL; an
          // empty group is trivially in-band
          (col("n") === 0 || col("__a50").between(col("__lo50"), col("__hi50")))
            .as("p50_in_band"),
          (col("n") === 0 || col("__a90").between(col("__lo90"), col("__hi90")))
            .as("p90_in_band"),
          (col("n") === 0 || col("__a99").between(col("__lo99"), col("__hi99")))
            .as("p99_in_band"))),

    // Bounded-support kernel local regression (the SQL-expressible
    // WRTDS-family member): range self-join + micro-integer-quantized
    // kernel sums (exact longs) -> order-free, hence oracle-checkable
    // unlike the full proxy.
    "q_wrtds_local" -> ((s, dir) => {
      Wrtds.local2(Tables.eventsSeries(s, dir), evSpec,
        htDays = 30.0, supportDays = 90.0, minp = 10)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("l2_yhat"), col("l2_resid"))
    }),

    // §2.5 WRTDS-proxy local regression + robust-z buster. No SQL
    // oracle (O(n^2) kernel regression) -> driver rows-only check;
    // q_wrtds_check below is its oracled semi-oracle companion.
    "q_wrtds" -> ((s, dir) => {
      val d = Tables.eventsSeries(s, dir)
      val withFit = Wrtds.proxy(d, evSpec, minp = 30)
      Wrtds.buster(withFit, evSpec)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("wrtds_yhat"), 6).as("yhat"),
          round(col("wrtds_resid"), 6).as("resid"), col("wrtds_spike"))
    }),

    // semi-oracle companion for the rows-only q_wrtds (the
    // q_ann_ivf_recall pattern): the oracle reproduces the structural
    // counts EXACTLY — rows, valid values, series, and the relational
    // support count under the kernel's 1e-3 weight cutoff
    // (exp(-(dt/ht)²) > 1e-3 ⟺ (dt/ht)² < ln 1000; both engines
    // evaluate the square with identically-shaped IEEE ops against
    // the ln-1000 literal, so no libm call can perturb the count) —
    // and expects the three in-band assertions TRUE: prediction
    // coverage within max(2, 2%) of the relational support count
    // (the slack absorbs exp-boundary pairs and singular solves),
    // resid ≡ value − yhat bit-exactly, and residual RMS ≤ 1.5× the
    // per-series-centered RMS (a broken kernel fails outright; the
    // seasonal WLS actually lands well under the centered RMS).
    "q_wrtds_check" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.eventsSeries(s, dir)
      val fit = Wrtds.proxy(d, evSpec, minp = 30)
      val wAll = Window.partitionBy(col("user_id"))
      val t = d.withColumn("__us", unix_micros(col("ts")))
        .withColumn("__t",
          (col("__us") - min(col("__us")).over(wAll)) / lit(86400e6))
      val vj = t.filter(col("value").isNotNull)
        .select(col("user_id"), col("__t").as("__tj"))
      val dtn = (col("__tj") - col("__t")) / lit(90.0)
      val nSupport = t.filter(col("value").isNotNull)
        .join(vj, Seq("user_id"))
        .filter(dtn * dtn < lit(6.907755278982137))
        .groupBy("user_id", "__us").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 30)
        .agg(count(lit(1)).as("n_support"))
      val agg = fit
        .withColumn("__mean",
          avg(when(col("value").isNotNull, col("value"))).over(wAll))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("value")).as("n_val"),
          countDistinct(col("user_id")).as("n_series"),
          count(col("wrtds_yhat")).as("n_pred"),
          max(when(col("wrtds_yhat").isNotNull,
            abs(col("value") - col("wrtds_yhat") - col("wrtds_resid"))))
            .as("__maxdev"),
          sqrt(avg(when(col("wrtds_yhat").isNotNull,
            col("wrtds_resid") * col("wrtds_resid")))).as("__rms_resid"),
          sqrt(avg(when(col("wrtds_yhat").isNotNull,
            (col("value") - col("__mean")) * (col("value") - col("__mean")))))
            .as("__rms_centered"))
      agg.crossJoin(broadcast(nSupport))
        .select(col("n_rows"), col("n_val"), col("n_series"),
          col("n_support"),
          (abs(col("n_pred") - col("n_support")) <=
            greatest(lit(2L), round(col("n_support") * 0.02, 0).cast("long")))
            .as("pred_cov_ok"),
          coalesce(col("__maxdev") === 0.0, lit(true)).as("resid_exact_ok"),
          coalesce(col("__rms_resid") <= col("__rms_centered") * 1.5,
            lit(true)).as("resid_rms_ok"))
    }),

    // buster spike count, oracled: the robust-z buster run over
    // hash-exact l2 residuals, so the spike rule itself — per-series
    // median/MAD/|z| ≥ 4 — is replayed end to end by DuckDB on
    // identical 6-dp-grid inputs. Closes §2 row 36's last unoracled
    // sub-signal: q_wrtds's own spikes ride the O(n²) kernel's
    // declared contract, but the BUSTER's arithmetic is
    // kernel-independent and exact here — which is also why the
    // residual SOURCE is a reduced kernel (supportDays=30, even
    // user_id half): q_wrtds_local already pays the full 90-day
    // kernel once per pass; verifying ~1 s of spike arithmetic does
    // not need to pay it a second time (round-12 bench: 15.3 s →
    // target ≤5 s). The oracle slices identically.
    "q_buster_check" -> ((s, dir) => {
      val loc = Wrtds.local2(
        Tables.eventsSeries(s, dir).filter(col("user_id") % 2 === 0), evSpec,
        htDays = 30.0, supportDays = 30.0, minp = 10)
      Wrtds.buster(loc, evSpec, residCol = "l2_resid", zThresh = 4.0,
        keepZ = true)
        .groupBy("user_id")
        .agg(count(col("l2_resid")).as("n_resid"),
          coalesce(sum(when(col("wrtds_spike"), 1L).otherwise(0L)), lit(0L))
            .as("n_spikes"),
          round(max(abs(col("wrtds_z"))), 6).as("max_abs_z"))
    }),

    // ---- training-data extension operators (documents/embeddings) ----

    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")),

    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.5)),

    // df-capped inverted index: hot shingles (document frequency >
    // maxDf) are dropped from the candidate join — the bound that keeps
    // the exact baseline's quadratic blowup off the scale path — then
    // candidates verify against FULL shingle sets (jaccard stays exact).
    "q_dedup_ngram_capped" -> ((s, dir) =>
      Dedup.ngramJaccardCapped(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.5, maxDf = 20)),

    // prefix-filtered EXACT jaccard: same answer as the exact
    // inverted-index closure at the same threshold (lossless candidate
    // pruning — prefixes of true pairs must collide), but the index
    // holds only each doc's rarest n-⌈t·n⌉+1 shingles. t=0.9 is the
    // operator's intended regime — tight thresholds make the prefix
    // (~n/10) and the positional filter bite: on this corpus's
    // degenerate 31-word vocabulary every bigram is hot, and 0.9 cuts
    // candidates 667k→181k vs 0.8 while near-dup scores cluster >=0.9
    // (254 of the 256 pairs at 0.8 survive). Looser bands are the
    // df-capped/MinHash queries' territory.
    "q_dedup_ngram_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPrefix(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.9)),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashLsh(Tables.documents(s, dir), "doc_id", "text",
        k = 2, numHashes = 12, bands = 6, threshold = 0.5)),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text", maxDist = 3)),

    // the skew-guarded twin: hot chunk keys (df > SimhashMaxChunkDf)
    // are pruned from candidate generation map-side, bounding any one
    // band reducer at cap²/2 rows no matter how pathological the
    // corpus. Row-identical to q_dedup_simhash wherever the cap does
    // not bind (it never binds on this corpus — both oracles replay
    // their own form, and the two queries hash-agree at every SF).
    "q_dedup_simhash_capped" -> ((s, dir) =>
      Dedup.simHashPairsCapped(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3, maxChunkDf = SimhashMaxChunkDf)),

    // pairs -> duplicate clusters: connected components by iterative
    // min-label propagation with pointer doubling (O(log n) rounds of
    // equi-joins); the decision a curation pipeline ships (one keeper
    // per family).
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      Dedup.dupClusters(docs.select("doc_id"), pairs, "doc_id")
    }),

    // threshold 0.2 (not 0.45) so the checked SF yields a non-trivial
    // pair set — a 0-row hash match verifies nothing about the scoring
    // path (95 pairs at sf0.01).
    "q_embed_pairs" -> ((s, dir) =>
      Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.2, bucketBits = 8)),

    // embedding-space near-dup families: cosine pairs (the already
    // oracle-exact q_embed_pairs generator) closed into components —
    // the grouping step a semantic-dedup pass runs after pair finding.
    "q_embed_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.cosinePairs(emb, "vec_id", "embedding",
        threshold = 0.2, bucketBits = 8)
      Dedup.dupClusters(emb.select("vec_id"), pairs, "vec_id")
    }),

    // margin-based pair mining (Artetxe & Schwenk ratio margin): the
    // hubness-robust cross-pool pair selector — label<2 is the source
    // pool, label>=2 the target pool; retrieval is the declared brute
    // baseline (bucketed ANN drops in at scale), the margin stage
    // touches only |src|·k candidates joined to two id-keyed
    // neighborhood-sum tables.
    "q_margin_mine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMine(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2)
    }),

    // BUCKETED margin mining — the scale path: identical margin stage,
    // but both retrieval directions ride the multi-probe sign-LSH
    // bucket equi-join instead of the pool×pool brute pass. Fully
    // oracled (the probe expansion, bucket join and margin chain are
    // all closed-form SQL), unlike the trained-quantizer ANN variants.
    "q_margin_mine_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMine(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2, retrieve = Similarity.lshRetriever(4))
    }),

    // agreement companion: how many brute-margin pairs the bucketed
    // path reproduces exactly (same src → same tgt). Exact integer
    // cross-multiplication bound, fully oracled.
    "q_margin_mine_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMineAgreement(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2, retrieve = Similarity.lshRetriever(4),
        minPct = 40)
    }),

    // agreement companion for the TRAINED-quantizer retriever: the
    // same margin chain over ivfRetriever (Lloyd coarse cells,
    // nlist=16, nprobe=4) vs the exact brute baseline — the semi-
    // oracle ships the brute-exact n_brute plus the in-band bound
    // (measured agreement 56-68% across SFs, bound 40, the LSH row's
    // bound); the quantizer itself is fully oracled via q_ann_ivf's
    // training replay.
    "q_margin_mine_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMineAgreement(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2,
        retrieve = Similarity.ivfRetriever(nlist = 16, nprobe = 4),
        minPct = 40)
        .select(col("n_brute"), col("agree_ok"))
    }),

    // kNN label propagation: majority vote of the 5 nearest labeled
    // neighbors — the semi-supervised lift that spreads a
    // hand-labeled seed set's quality/domain labels over the corpus;
    // the labeled seed broadcasts, the corpus streams map-side, the
    // rank filter is a WindowGroupLimit k-heap per task.
    "q_knn_label" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the SEED side is the small pool by contract (labels {0,1},
      // ~20% of vectors) — it broadcasts; the unlabeled majority
      // streams against it
      Similarity.knnLabel(emb.filter(col("label") >= 2).drop("label"),
        emb.filter(col("label") < 2), "vec_id", "embedding", "label",
        k = 5)
    }),

    // SemDeDup-style embedding-cluster dedup: assignment to pinned
    // deterministic centroids (the 16 smallest-id vectors) is a pure
    // TWO-LEVEL projection (coarse ⌈√k⌉ seeds → fine within group —
    // O(√k)/row, the IVF front-end that de-quadratifies the k ∝ n
    // axis); the τ-prune self-join never leaves a cell — Σ|cell|²
    // candidates, not n². Fully oracled, as is the trained-k-means
    // variant of this family (q_ann_ivf's Lloyd training replay).
    "q_dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id",
        "embedding", nSeeds = 16, tau = 0.35)),

    // cluster-balanced diversity sampling (D4, Tirumala et al. 2023):
    // pinned-seed two-level argmax-cosine cells (literal projection,
    // zero shuffle) → k per cell by deterministic hash rank (uniform
    // WOR per cell), planned as WindowGroupLimit. Over-dense embedding
    // regions can't dominate the kept mix.
    "q_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(Tables.embeddings(s, dir),
        "vec_id", "embedding", nSeeds = 16, k = 10)),

    // recall companion: what fraction of ALL τ-pairs (brute force —
    // declared bounded baseline, test-SF only) the cell partition
    // keeps intra-cell. Exact integer cross-multiplication bound.
    "q_dedup_semantic_recall" -> ((s, dir) =>
      Similarity.semanticDedupRecall(Tables.embeddings(s, dir), "vec_id",
        "embedding", nSeeds = 16, tau = 0.35, minPct = 10)),

    "q_ann_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    }),

    // two-stage retrieve→rerank: exact retrieval over-fetches 20
    // candidates, the deterministic cross-encoder stand-in re-scores
    // only those pairs down to 5 — the serving shape where the heavy
    // scorer never touches the corpus axis.
    "q_ann_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rerankTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", kRetrieve = 20, kFinal = 5)
    }),

    // multi-probe LSH: query probes its bucket + all 1-bit flips —
    // recall repair without corpus replication.
    "q_ann_lsh_probe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    }),

    // product-quantization ANN: seeded per-subspace codebooks, uint8
    // codes, asymmetric-distance top-k. k-means training is not
    // DuckDB-expressible -> rows-only by the declared contract (same
    // as IVF); recall vs brute force asserted in ExtSpec.
    "q_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = Similarity.trainPq(emb, "embedding", m = 8, ksub = 32)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, model)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, bitsUsed = 8)
    }),

    // IVF ANN (deterministic-Lloyd coarse quantizer). STRICT oracle
    // including training: the fixed-iteration driver-side Lloyd fit
    // replays in unrolled SQL (lloydCtes — the q_bpe_train pattern
    // for floats); recall vs brute additionally asserted in ExtSpec
    // and q_ann_ivf_recall.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
    }),

    // recall semi-oracle for the IVF rows-only query: the oracle
    // reproduces the structural counts exactly (10 queries × exact
    // top-5 = 50 brute pairs, via the same brute-force SQL) and
    // expects the in-band aggregate-recall assertion TRUE. The bound
    // is loose (≥ 0.15 probing 4/16 cells on uniform-random vectors —
    // ANN's adversarial case) but catches a broken quantizer outright.
    "q_ann_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      annRecall(emb, queries,
        Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4), bound = 0.15)
    }),

    // same contract for the PQ shortlist: the shortlist scales with
    // the corpus (4%, floor 20) so the recall regime matches the
    // ExtSpec pin at every SF; bound 0.35 (pinned 0.5 at sf0.01).
    "q_ann_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      // parquet count() is metadata-only (row-group stats, no data
      // scan), so sizing the shortlist costs one planning-weight job
      val kShort = math.max(20, (emb.count() * 0.04).toInt)
      val model = Similarity.trainPq(emb, "embedding", m = 8, ksub = 32)
      annRecall(emb, queries,
        Similarity.pqTopK(queries, emb, "vec_id", "embedding",
          k = kShort, model), bound = 0.35)
    }),

    // JL random projection 64→16 (Achlioptas ±1 signs): per-vector
    // map-side projection, bit-exact cross-engine (sign flips are
    // exact IEEE, the fold order matches list_sum). Long format
    // (vec_id, k, y) so the oracle hashes scalars.
    "q_rproj" -> ((s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir), "embedding",
        RprojSigns)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("k", "y")))),

    // JL-shortlist retriever recall companion: top-5 true-cosine
    // neighbors recovered by a projected-cosine shortlist of 8% of
    // the corpus (floor 20). DuckDB-swept before pinning: 0.56 /
    // 0.50 / 0.48 at sf0.001/0.01/0.1 (kShort 40/40/160) on these
    // iid-uniform embeddings (the ANN adversarial case —
    // deterministic, so the bound 0.3 holds exactly); the projection
    // cuts candidate-scoring flops and every vector shuffle 4×.
    "q_rproj_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val kShort = math.max(20, (emb.count() * 0.08).toInt)
      annRecall(emb, queries,
        Similarity.rprojTopK(queries, emb, "vec_id", "embedding",
          k = kShort, RprojSigns), bound = 0.3)
    }),

    // deterministic hash-stratified sampling: rebalance the corpus by
    // language (downsample the dominant stratum, keep the tail).
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        bps = Map("en" -> 5000, "de" -> 2500), defaultBps = 1000)),

    // top-k per stratum by quality (WindowGroupLimit keeps the
    // exchange at O(strata*k) rows).
    "q_topk_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val quality = TextStats.qualityScore(docs, "doc_id", "text")
      Sampling.topKPerStratum(
        docs.select("doc_id", "lang").join(quality, "doc_id"),
        "doc_id", "lang", col("quality_score"), k = 5)
        .select("doc_id", "lang", "quality_score", "rank")
    }),

    // int8 embedding quantization (4x storage cut; element folds are
    // sequential so output is engine-deterministic). The q vector is
    // serialized to a comma-joined string for the oracle compare — the
    // driver's pandas hash layer cannot sort raw array columns.
    "q_embed_quant" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .withColumn("q", array_join(col("q").cast("array<string>"), ","))),

    // deterministic per-shard sequence packing into token budgets.
    "q_pack_batches" -> ((s, dir) =>
      TextStats.packBatches(Tables.documents(s, dir), "doc_id", "text",
        budgetTokens = 2048, nShards = 16)),

    // length-homogeneous packing: equi-depth ntile length classes per
    // shard, then the greedy fill per (shard, bucket) — the padding
    // efficiency upgrade, one exchange for both windows.
    "q_pack_bucketed" -> ((s, dir) =>
      TextStats.packBatchesBucketed(Tables.documents(s, dir), "doc_id",
        "text", budgetTokens = 2048, nShards = 16, nBuckets = 4)),

    "q_text_tokens" -> ((s, dir) =>
      TextStats.tokenCounts(Tables.documents(s, dir), "doc_id", "text")),

    "q_text_quality" -> ((s, dir) =>
      TextStats.qualityScore(Tables.documents(s, dir), "doc_id", "text")),

    "q_lang_id" -> ((s, dir) =>
      TextStats.langId(Tables.documents(s, dir), "doc_id", "text")),

    // Okapi BM25 top-10 per query — the lexical retrieval baseline of
    // a RAG/hard-negative-mining stack. Queries are derived
    // deterministically (first 4 tokens of docs 0-4) so the scorer is
    // fully oracle-checkable; scoring work is proportional to the
    // query terms' postings, never the corpus.
    "q_bm25" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      Retrieval.bm25TopK(docs, "doc_id", "text", queries, "query_id",
        "qtext", k = 10)
    }),

    // BM25 over a PERSISTABLE postings index maintained incrementally:
    // the index is the union of two per-slice bm25Index builds (the
    // append-only ingest shape — a real pipeline loads the known
    // slice's postings from storage and tokenizes only the batch),
    // and scoring derives df/N/avgdl from the index itself. Scoring
    // is EXACTLY full-corpus BM25: the oracle is q_bm25's, and the
    // two queries hash-agree at every SF — the agreement proof that
    // index maintenance loses nothing.
    "q_bm25_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      val known = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val postings = Retrieval.bm25Index(known, "doc_id", "text")
        .unionByName(Retrieval.bm25Index(batch, "doc_id", "text"))
      Retrieval.bm25TopKIndexed(postings, queries, "query_id", "qtext",
        k = 10)
    }),

    // PSI distribution drift: per event type, day-over-day population
    // stability of the value distribution (10 fixed bins over
    // [0, 500), half-count Laplace smoothing).
    "q_psi_drift" -> ((s, dir) =>
      graft.operators.Diagnostics.psiDrift(
        Tables.events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
        Seq("event_type"), "ts_us", "value",
        windowUs = 86400000000L, lo = 0.0, hi = 500.0, nBins = 10)),

    // BM25 hard-negative mining: each query's text came from its own
    // doc (query_id = doc_id), so that doc is the known positive;
    // negatives are the top-5 remaining results of the top-10 list.
    "q_hard_negatives" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      val positives = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("doc_id"))
      Retrieval.hardNegatives(docs, "doc_id", "text", queries,
        "query_id", "qtext", positives, kRetrieve = 10, kNeg = 5)
    }),

    // DF-capped BM25: candidates only from terms in ≤77% of docs
    // (0.77 splits this corpus's query terms into generating and
    // non-generating at every SF), exact rescoring of candidates.
    "q_bm25_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      Retrieval.bm25TopKCapped(docs, "doc_id", "text", queries,
        "query_id", "qtext", k = 10, dfCapFrac = 0.77)
    }),

    // CCNet-style bigram-LM scoring: train on the src0 slice, score
    // every document's bits-per-token under the smoothed model —
    // the perplexity-filter signal of the CCNet/RedPajama pipelines.
    "q_lm_score" -> ((s, dir) =>
      TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text",
        refFilter = col("source") === "src0", lambda = 0.9)),

    // markup strip + email/URL masking + whitespace collapse (the
    // standard corpus normalization / PII pass), pure regexp chain.
    "q_text_clean" -> ((s, dir) =>
      TextStats.cleanText(Tables.documents(s, dir), "doc_id", "text")),

    // the WHOLE curation pipeline as one declarative DAG: quality +
    // language gates, NEAR-dup family keeper (exact dups are
    // hamming-0 family members, so this subsumes the exact-hash
    // keeper), leakage-safe split by family hash. Every verdict
    // carries its reason bits.
    "q_curation_e2e" -> ((s, dir) =>
      TextStats.curationPipeline(Tables.documents(s, dir), "doc_id",
        "text", minQuality = 0.5, keepLangs = Seq("en"),
        maxDist = 3, trainBps = 9000, valBps = 500)),

    // end-to-end curation decision: exact-dedup keeper AND quality
    // AND language — the composition a training-data pipeline ships.
    "q_corpus_filter" -> ((s, dir) =>
      TextStats.corpusFilter(Tables.documents(s, dir), "doc_id", "text",
        minQuality = 0.5, keepLangs = Seq("en"))),

    // TRAINED quality classifier, train half: damped diagonal-Newton
    // IRLS logistic regression over 32 hashed bag-of-words count
    // features, 6 fixed iterations, trained on the doc_id%3==0 seed
    // slice labeled by the stopword-density heuristic — the learned
    // curation component (heuristic labels in, cheap hashed-feature
    // model out). Exact-hash: the whole trajectory is integer fixed
    // point, replayed iteration by iteration in the oracle.
    "q_quality_train" -> ((s, dir) =>
      TextStats.trainQualityClassifier(
        qualityClfSeed(Tables.documents(s, dir)), "doc_id", "text",
        dims = QualityClfDims, iters = QualityClfIters)),

    // apply half: the trained model scores the WHOLE corpus (2/3 of
    // it unseen in training) as one shuffle-free projection.
    "q_quality_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = TextStats.trainQualityClassifier(qualityClfSeed(docs),
        "doc_id", "text", dims = QualityClfDims, iters = QualityClfIters)
      TextStats.applyQualityClassifier(docs, "doc_id", "text", model,
        dims = QualityClfDims)
    }),

    // eval companion on the HELD-OUT slice: exact confusion counts +
    // the in-band beats_majority assertion (correct > the bigger
    // class) — the generalization signal that the model actually
    // learned the heuristic rather than memorizing the seed.
    "q_quality_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = TextStats.trainQualityClassifier(qualityClfSeed(docs),
        "doc_id", "text", dims = QualityClfDims, iters = QualityClfIters)
      TextStats.evalQualityClassifier(
        TextStats.applyQualityClassifier(docs, "doc_id", "text", model,
          dims = QualityClfDims),
        pmod(col("doc_id"), lit(3)) =!= 0)
    }),

    // Unicode NFC normalization audit via the native codegen'd
    // graft_normalize expression: per doc, does NFC change the bytes
    // (decomposed/misordered combining marks that defeat exact-hash
    // dedup), code-point length before/after, md5 of the normalized
    // text. Dirty surface synthesized by doc_id % 4 from
    // UnicodeSuffixes (the corpus is ASCII); zero shuffles.
    "q_unicode_norm" -> ((s, dir) => {
      val dirty = concat(col("text"), element_at(
        array(UnicodeSuffixes.map(lit(_)): _*),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      TextStats.unicodeNormAudit(
        Tables.documents(s, dir).select(col("doc_id"), dirty.as("text")),
        "doc_id", "text")
    }),

    "q_fingerprint" -> ((s, dir) =>
      TextStats.fingerprint(Tables.documents(s, dir), "doc_id", "text", k = 3, p = 4)),

    // Gopher-style word-repetition quality signals (dup-word /
    // top-unigram / top-bigram fractions), shuffle-free per doc.
    "q_repetition" -> ((s, dir) =>
      TextStats.repetitionStats(Tables.documents(s, dir), "doc_id", "text")),

    // context-window chunking: 120-char chunks on a 90-char stride
    // (30-char overlap), scan-local explode.
    "q_chunks" -> ((s, dir) =>
      TextStats.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 120, stride = 90)),

    // vocabulary top-100: occurrences + doc frequency per word,
    // lexicographic tie-break (deterministic cross-engine).
    "q_vocab" -> ((s, dir) =>
      TextStats.wordFrequencies(Tables.documents(s, dir), "doc_id", "text",
        k = 100)),

    // count-min sketch audit (Cormode-Muthukrishnan 2005): fixed
    // depth×width counter grid built in ONE map-side-combined
    // aggregate (state O(d·w) at ANY corpus/vocabulary size,
    // shard-mergeable by cell addition), then est = min_j cell[j][h_j]
    // for the top-30 exact tokens; `sound` (est ≥ exact) is a theorem
    // of the sketch and replays exactly.
    "q_cms_check" -> ((s, dir) =>
      TextStats.cmSketchCheck(Tables.documents(s, dir), "text",
        depth = CmsDepth, width = CmsWidth, k = CmsTopK)),

    // LINE-level exact dedup (C4/RefinedWeb boilerplate pass): every
    // repeated 10-word segment keeps only its first occurrence
    // (min doc id, then position); docs reassemble from survivors.
    // Scan-local segmentation, one hash shuffle, one doc regroup.
    "q_dedup_lines" -> ((s, dir) =>
      TextStats.lineDedup(Tables.documents(s, dir), "doc_id", "text",
        segWords = 10)),

    // BPE tokenizer training: 12 merge rounds learned from the
    // distinct-word frequency table (corpus-size-independent after the
    // first tokenize+count pass). Deterministic total tie order; one
    // driver row per round. STRICT-oracled since round 12: the fixed
    // round count unrolls into bpeTrainCtes' per-round argmax+fold
    // CTE chain (integer weights + binary-collation tie order — no
    // floats anywhere), so DuckDB replays the full training; BpeSpec
    // additionally pins the merge sequence against a literal
    // reference implementation on the same corpus.
    "q_bpe_train" -> ((s, dir) =>
      TextStats.trainBpe(Tables.documents(s, dir), "doc_id", "text",
        numMerges = BpeNumMerges)),

    // BATCHED BPE training — the scale fix for trainBpe's
    // one-merge-per-round driver loop: the same 12-merge budget in 3
    // rounds of 4 symbol-disjoint picks (at a 30k-merge production
    // vocabulary the round count drops batchSize-fold). Strict: the
    // oracle replays candidate ordering, the greedy disjoint
    // selection, and the simultaneous replacement fold round by round
    // (bpeBatchedCtes); BpeSpec additionally pins batchSize=1 ≡
    // trainBpe exactly.
    "q_bpe_train_batched" -> ((s, dir) =>
      TextStats.trainBpeBatched(Tables.documents(s, dir), "doc_id", "text",
        numMerges = BpeNumMerges, batchSize = BpeBatchSize,
        candCap = BpeCandCap)),

    // BPE ENCODE with the table trained above: per-doc BPE token
    // counts via the distinct-word table (each word encoded once,
    // one join back). STRICT-oracled since round 12: bpeTrainCtes'
    // final vocab table v_N IS the rank-order replay of all learned
    // merges, which BpeSpec pins equivalent to encodeBpe's
    // lowest-rank-first loop — so the oracle re-derives the merges
    // AND the per-word token counts independently in DuckDB.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextStats.trainBpe(docs, "doc_id", "text", numMerges = BpeNumMerges)
      TextStats.encodeBpe(docs, "doc_id", "text", merges)
    }),

    // semi-oracle companion for the two rows-only BPE queries (the
    // q_wrtds_check pattern): the oracle reproduces the corpus-level
    // structural counts EXACTLY (docs-with-words, total words, total
    // tokenized chars — pure whitespace-token SQL, no BPE needed) and
    // expects the in-band assertions TRUE: every doc's BPE token
    // count sits in [n_words, n_chars] (each word encodes to between
    // 1 and len(word) symbols), and the merge table is structurally
    // sound (merged ≡ left||right, ranks dense 1..m, m ≤ 12). BpeSpec
    // still pins the merge SEQUENCE against a literal reference
    // implementation; this adds the driver-gate signal.
    "q_bpe_check" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // batched trainer (the q_bpe_apply rationale): every assertion
      // below — encode bounds, merged ≡ left||right, dense distinct
      // ranks ≤ budget — holds for ANY valid merge table, so this
      // check rides the scale-path trainer; the sequential reference
      // trajectory stays exactly oracled via q_bpe_train/q_bpe_encode
      val merges = TextStats.trainBpeBatched(docs, "doc_id", "text",
        numMerges = BpeNumMerges, batchSize = BpeBatchSize,
        candCap = BpeCandCap)
      val enc = TextStats.encodeBpe(docs, "doc_id", "text", merges)
      val encAgg = enc.agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum("n_words").as("total_words"),
        sum("n_bytes_tokenized").as("total_bytes"),
        coalesce(min(col("n_words") <= col("n_bpe_tokens") &&
          col("n_bpe_tokens") <= col("n_bytes_tokenized")), lit(false))
          .as("bpe_bounds_ok"))
      val mAgg = merges.agg(
        coalesce(min(col("merged") === concat(col("left"), col("right"))) &&
          max(col("rank")) === count(lit(1)) &&
          countDistinct(col("rank")) === count(lit(1)) &&
          count(lit(1)) <= BpeNumMerges, lit(false)).as("merges_ok"))
      encAgg.crossJoin(broadcast(mAgg))
    }),

    // persistable tokenizer artifact: train once, WRITE the 12-row
    // merge table to parquet, APPLY from the loaded copy — the
    // ship-a-tokenizer shape (dedupIngest's index-reuse pattern:
    // apply reads ONLY the artifact, never retrains). Output: exact
    // corpus structural counts (oracle-replayable) + in-band
    // artifact_matches = the loaded-artifact encode is row-identical
    // to the direct in-memory encode.
    "q_bpe_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the BATCHED trainer (the scale path, ~8x fewer driver rounds;
      // q_bpe_train_batched pins its merge trajectory exactly) — this
      // query verifies the ARTIFACT ROUND TRIP, whose oracle columns
      // are merge-table-invariant, so it rides the fast trainer while
      // q_bpe_train keeps the sequential reference trajectory oracled
      val merges = TextStats.trainBpeBatched(docs, "doc_id", "text",
        numMerges = BpeNumMerges, batchSize = BpeBatchSize,
        candCap = BpeCandCap)
      val direct = TextStats.encodeBpe(docs, "doc_id", "text", merges)
      // ONE fixed per-JVM artifact path, overwritten each run — a
      // fresh createTempDirectory per invocation leaked a dir + a
      // parquet write every bench rep. The write→read round trip is
      // serialized on the lock; encodeBpe collects the loaded merge
      // rows EAGERLY (its ranks map), so no lazy parquet reference
      // escapes the critical section for a later run to overwrite.
      val art = bpeArtifactDir
      val viaArtifact = bpeArtifactLock.synchronized {
        merges.write.mode("overwrite").parquet(art)
        TextStats.encodeBpe(docs, "doc_id", "text", s.read.parquet(art))
      }
      direct.as("d")
        .join(viaArtifact.as("a"), "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("d.n_words")).as("total_words"),
          sum(col("d.n_bytes_tokenized")).as("total_bytes"),
          coalesce(min(col("d.n_bpe_tokens") === col("a.n_bpe_tokens") &&
            col("d.n_words") === col("a.n_words") &&
            col("d.n_bytes_tokenized") === col("a.n_bytes_tokenized")),
            lit(false)).as("artifact_matches"))
    }),

    // exact 1%-heavy-hitter tokens with BOUNDED state end to end:
    // Misra-Gries sketch (native TypedImperativeAggregate, O(capacity)
    // per task, mergeable) -> <= 127 candidates -> broadcast semi-join
    // exact re-count -> integer threshold. Exact answer, no
    // full-vocabulary shuffle anywhere.
    "q_heavy_hitters" -> ((s, dir) =>
      TextStats.heavyHitterTokens(Tables.documents(s, dir), "doc_id", "text",
        capacity = 127, supportPpm = 10000L)),

    // train/test decontamination: training docs sharing >= 2 distinct
    // 3-shingles with any benchmark doc (deterministic mod-29 split
    // stands in for the eval suite).
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", k = 3, minShared = 2)
    }),

    // bloom-guarded decontamination: identical split, contract and
    // ORACLE as q_decontaminate — the broadcast Bloom prefilter prunes
    // the corpus map-side before the verify join; false positives only
    // waste probes, so the output is exact.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", k = 3, minShared = 2, fpp = 0.01)
    }),

    // embedding-space decontamination — the SEMANTIC twin of
    // q_decontaminate (paraphrases share no shingles but do share an
    // embedding neighborhood): bench = vec_id % 29 == 0, the same
    // stand-in eval split; cosine >= 0.3 picks the far tail of this
    // corpus's train-bench cosine distribution (p99 = 0.28, max 0.48).
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") % 29 =!= 0),
        emb.filter(col("vec_id") % 29 === 0),
        "vec_id", "embedding", threshold = 0.3)
    }),

    // calibrated keep-score composite over four green per-doc
    // signals: lm fluency + repetition on the raw corpus, pii audit
    // counts and the domain blocklist flag on their seeded twins
    // (q_pii/q_domains' exact seeding, so both engines feed the
    // combiner identical signal values).
    "q_keep_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextStats.keepScore(docs, "doc_id",
        TextStats.lmScore(docs, "doc_id", "text",
          refFilter = col("source") === "src0", lambda = 0.9),
        TextStats.repetitionStats(docs, "doc_id", "text"),
        TextStats.piiRedact(piiSeed(docs), "doc_id", "text"),
        TextStats.domainStats(domainSeed(docs), "doc_id", "text",
          DomainBlocklist),
        threshold = 0.5)
    }),

    // per-source curation scorecard (volume, dup rate, chars, lang mix).
    "q_source_stats" -> ((s, dir) =>
      TextStats.sourceStats(Tables.documents(s, dir), "source", "text", "lang")),

    // per-source embedding centroid drift vs the corpus centroid —
    // the embedding-space twin of q_source_kl's domain-shift
    // scorecard (vec_id aligns 1:1 with doc_id in the testdata).
    "q_embed_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      Similarity.centroidDrift(emb.join(src, "vec_id"), "source",
        "embedding")
    }),

    "q_media_meta" -> ((s, dir) =>
      Multimodal.mediaMetaRelational(Tables.documents(s, dir), "doc_id", "text")),

    // REAL codec round-trip: per-doc PNG synthesized and then decoded
    // with javax.imageio on the executors; every output column comes
    // from the decoded image, verified by the oracle's closed-form
    // pixel function (lossless PNG ⇒ exact integer match).
    "q_media_decode" -> ((s, dir) =>
      Multimodal.pngRoundTripMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id")),

    // frame sampling: explode selected frame indices per media row
    // (every 4th frame of the stub metadata's n_frames).
    "q_media_frames" -> ((s, dir) =>
      Multimodal.frameSamplePlan(
        Multimodal.mediaMetaRelational(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", "n_frames", everyN = 4)),

    // perceptual image near-dup: 56-bit dHash over REAL-decoded PNG
    // raster samples (the q_media_decode codec round-trip), paired by
    // the pigeonhole Hamming band join (4×14-bit chunks cover
    // maxDist ≤ 3) — never all-pairs. The fingerprint table is cached:
    // the band self-join would otherwise run the codec twice per doc.
    "q_media_neardup" -> ((s, dir) => {
      val fp = graft.core.Caches.cached(
        Multimodal.pngPerceptualHash(
          Tables.documents(s, dir).select("doc_id"), "doc_id")
          .select("doc_id", "dhash"))
      Dedup.hammingPairs(fp, "doc_id", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
    }),

    // BOTH perceptual-hash channels as a directly-oracled table: the
    // near-dup query exercises only the dhash channel, so this pins
    // ahash — and the decoded dimensions — to the closed-form pixel
    // function; no shipped output column without a driver-checked
    // signal.
    "q_media_hashes" -> ((s, dir) =>
      Multimodal.pngPerceptualHash(
        Tables.documents(s, dir).select("doc_id"), "doc_id")),

    // LOSSY codec round-trip audit: real libjpeg encode+decode per
    // doc; geometry columns are closed-form (JPEG preserves them),
    // err_ok is the engine-measured artifact bound (oracle states the
    // spec constant; the measured global max over the full synth
    // period is 42, tol 48 — ExtSpec pins lossiness and the margin).
    "q_jpeg_meta" -> ((s, dir) =>
      Multimodal.jpegRoundTripMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id")),

    // perceptual near-dup FACING COMPRESSION ARTIFACTS: each doc id
    // gets a twin (id + 10⁷) whose SOURCE image is identical, so the
    // twin pair survives the lossy round trip at hamming 0 (same
    // bytes in ⇒ same artifacts out — determinism the oracle
    // replays), while every distinct key carries artifact-laden
    // hashes the band join must keep apart. Same 4×14-bit pigeonhole
    // chain as q_media_neardup. Twin construction contract: corpus
    // ids < 10⁷ (all testdata SFs), else a planted twin id would
    // alias a real doc — the key mod in synthJpegSource and the
    // oracle are aligned regardless.
    "q_jpeg_neardup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select("doc_id")
      val fp = graft.core.Caches.cached(
        Multimodal.jpegPerceptualHash(
          ids.unionByName(ids.select(
            (col("doc_id") + lit(10000000L)).as("doc_id"))), "doc_id")
          .select("doc_id", "dhash"))
      Dedup.hammingPairs(fp, "doc_id", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
    }),

    // REAL audio codec round-trip: per-doc PCM synthesized, framed as
    // WAV by javax.sound on the executors, decoded back; every output
    // column comes from the DECODED stream, verified by the oracle's
    // closed-form sample formula (lossless PCM ⇒ exact integer match).
    "q_audio_meta" -> ((s, dir) =>
      Multimodal.wavRoundTripMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id")),

    // audio near-dup: 56-bit delta-sign fingerprint over REAL-decoded
    // WAV samples, paired by the same pigeonhole Hamming band join the
    // text SimHash and image dHash ride (4×14-bit chunks cover
    // maxDist ≤ 3). Fingerprints cached: the band self-join would
    // otherwise run the codec twice per doc.
    "q_audio_neardup" -> ((s, dir) => {
      val fp = graft.core.Caches.cached(
        Multimodal.wavFingerprint(
          Tables.documents(s, dir).select("doc_id"), "doc_id")
          .select("doc_id", "afp"))
      Dedup.hammingPairs(fp, "doc_id", "afp",
        nChunks = 4, chunkBits = 14, maxDist = 3)
    }),

    // REAL multi-frame (video-like) codec round-trip: per doc an
    // animated GIF is synthesized, ENCODED with ImageIO's sequence
    // writer and DECODED frame by frame on the executors; every
    // column comes from the decoded stream (frame count from
    // getNumImages, pixels from decoded RGB). GIF is lossless for
    // indexed input, so the oracle replays each frame's facts from
    // the closed-form pixel function — the real decode behind
    // frameSamplePlan's plan-only frame explosion.
    "q_video_frames" -> ((s, dir) =>
      Multimodal.gifFrameMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id")),

    // temporal/video near-dup: per-frame 56-bit dHash over the
    // DECODED GIF rasters, paired by the same pigeonhole Hamming band
    // join every fingerprint family rides, keyed by the packed
    // (video, frame) id. Consecutive frames differ by a +7 brightness
    // shift, so intra-video frame pairs surface as near-dups (the
    // shot-boundary structure). Fingerprints cached: the band
    // self-join would otherwise run the codec twice per frame. The
    // doc_id%7==0 video slice: the additive synthetic pixel function
    // makes constant-shift frames across videos GENUINE near-dups, so
    // the full-corpus answer is a multi-million-row pair table —
    // correct but all fixture artifact; the slice keeps every
    // semantic (intra-video shot pairs + cross-video dups) at a
    // reviewable volume, and the band join's corpus-axis scaling is
    // already pinned by q_media_neardup on the full table.
    "q_video_neardup" -> ((s, dir) => {
      val fp = graft.core.Caches.cached(
        Multimodal.gifFrameHash(
          Tables.documents(s, dir).select("doc_id")
            .filter(pmod(col("doc_id"), lit(7)) === 0), "doc_id")
          .select("fkey", "dhash"))
      Dedup.hammingPairs(fp, "fkey", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
        .select(shiftright(col("id_a"), 3).as("vid_a"),
          (col("id_a").bitwiseAND(7L)).cast("int").as("frame_a"),
          shiftright(col("id_b"), 3).as("vid_b"),
          (col("id_b").bitwiseAND(7L)).cast("int").as("frame_b"),
          col("hamming"))
    }),

    // gap-based sessionization of the event log (6h gap): one shuffle
    // on user_id; the window pass, session grouping and duration all
    // reuse that partitioning.
    "q_sessionize" -> ((s, dir) =>
      Sessionize.sessionize(Tables.events(s, dir), "user_id", "ts",
        gapUs = 6L * 3600000000L)),

    // ordered-step funnel view -> click -> purchase: per-user earliest
    // strictly-ordered traversal; N steps = N windows, ONE exchange.
    "q_funnel" -> ((s, dir) =>
      Sessionize.funnel(Tables.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))),

    // co-located fact-fact join through a bucketed layout: both sides
    // materialized bucketed by the order key, join is exchange-free
    // (LayoutSpec pins the plan); rollup by priority.
    "q_bucket_join" -> ((s, dir) =>
      Layout.bucketedOrdersJoin(s, dir, buckets = 8)),

    // cluster -> corpus decision: one representative per duplicate
    // cluster (longest text, ties to the smallest id), rest dropped.
    "q_dedup_keep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      val clusters = Dedup.dupClusters(docs.select("doc_id"), pairs, "doc_id")
      Dedup.selectRepresentatives(clusters, docs, "doc_id", col("n_chars"))
    }),

    // asymmetric containment (inter / min-set): catches short-in-long
    // embeddings symmetric jaccard dilutes; df-capped candidates.
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.8, maxDf = 20)),

    // bigram top-100: collocation/tokenizer prep, scan-local bigram
    // assembly + one aggregation shuffle.
    "q_vocab_bigrams" -> ((s, dir) =>
      TextStats.bigramFrequencies(Tables.documents(s, dir), "doc_id",
        "text", k = 100)),

    // AS-OF join: each purchase enriched with the latest view at or
    // before it, per user — union-merge shape, ONE shuffle, no join
    // node (AsOfSpec pins both). The view side is pre-aggregated per
    // (user, ts) so the carried payload is tie-deterministic.
    "q_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("purchase_us"),
          round(col("value"), 6).as("purchase_value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("view_us"),
          col("value"))
        .groupBy("user_id", "view_us")
        .agg(round(max("value"), 6).as("view_value"))
      AsOf.asofJoin(purchases, views, "user_id", "purchase_us", "view_us",
        Seq("view_value"))
    }),

    // range join: events against the session intervals they fall in,
    // via bucket decomposition (equi-join on (user, 6h-bucket) + exact
    // BETWEEN filter — never a per-key nested loop); rolled up per
    // interval, which must reproduce each session's event count.
    "q_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val gap = 6L * 3600000000L
      val sess = Sessionize.sessionize(ev, "user_id", "ts", gapUs = gap)
        .select("user_id", "session_idx", "start_us", "end_us")
      val pts = ev.select(col("user_id"), unix_micros(col("ts")).as("us"))
      IntervalJoin.pointInInterval(pts, sess, "user_id", "us",
        "start_us", "end_us", bucketUs = gap)
        .groupBy("user_id", "session_idx", "start_us", "end_us")
        .agg(count(lit(1)).as("n_matched"))
    }),

    // changelog compaction: latest state per (user, event_type) —
    // upsert/CDC semantics, rank-1 pushed map-side as WindowGroupLimit.
    "q_latest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          round(col("value"), 6).as("value"))
      Sessionize.compactLatest(ev, Seq("user_id", "event_type"),
        "ts_us", "event_id")
    }),

    // §2.4 resample-median: epoch-aligned hourly buckets.
    "q_resample" -> ((s, dir) =>
      Resample.medianBy(Tables.eventsSeries(s, dir), evSpec, freqUs = 3600000000L)),

    // §2.5 TIME-based (rangeBetween) centered rolling mean — the
    // faithful frame for irregular sampling; decimal sum keeps the
    // window aggregate evaluation-order-free across engines.
    "q_rolling_time" -> ((s, dir) =>
      RollingStats.rollingMeanTime(Tables.eventsSeries(s, dir), evSpec,
        windowUs = 6L * 3600000000L, minp = 3, out = "tmean")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("tmean"), 6).as("tmean"))),

    // §2.1 time-slice + §2.2 calibration offset + the reference's
    // availability/masked/flagged percentages (sentemqc.py:147-150,
    // :167-169): slice Jan 10-20, offset +0.5, <=0 pre-mask, >100
    // range flag, per-series scalar percentages.
    "q_slice_stats" -> ((s, dir) => {
      def us(iso: String) = java.time.Instant.parse(iso).toEpochMilli * 1000L
      val d = Tables.eventsSeries(s, dir,
        sliceUs = Some((us("2024-01-10T00:00:00Z"), us("2024-01-20T00:00:00Z"))))
        .withColumn("obs_in", col("value") + 0.5)
        .withColumn("mask_pre", col("obs_in").isNull || col("obs_in") <= 0)
        .withColumn("obs", when(col("mask_pre"), lit(null)).otherwise(col("obs_in")))
        .withColumn("flagged", coalesce(col("obs") > 100.0, lit(false)))
      d.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        round(lit(100.0) * avg(when(col("obs_in").isNotNull, 1.0).otherwise(0.0)), 6)
          .as("avail_pct"),
        round(lit(100.0) * avg(when(col("mask_pre"), 1.0).otherwise(0.0)), 6)
          .as("mask_pct"),
        round(lit(100.0) * avg(when(col("flagged") && col("obs").isNotNull, 1.0)
          .otherwise(0.0)), 6).as("flag_pct"))
    }),

    // §2.5 gaussian-compare data: 24h gap mask -> ffill/bfill ->
    // windowed gaussian smooth (sigma 4 rows, radius 16) -> residual.
    "q_gaussian" -> ((s, dir) => {
      val d = seriesWithDelta(s, dir)
      val clean = Gaps(d, evSpec, gapHours = 24.0)
      val filled = TimeIndex.bfill(
        TimeIndex.ffill(clean, evSpec, "value", "yf0"), evSpec, "yf0", "yf")
      RollingStats.gaussianSmooth(filled, evSpec, "yf",
        sigmaPts = 4.0, radius = 16, out = "smooth")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("smooth"), 6).as("smooth"),
          round(col("value") - col("smooth"), 6).as("resid"))
    })
  )

  /** Shared prefix for q_events_all / q_seasonal_events: quantized
    * signal (round(value/20)*20), 24h gap mask, inferred step.
    */
  private def quantCleanSeries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d0 = Tables.eventsSeries(s, dir)
      .withColumn("value", round(col("value") / 20) * 20)
    val d1 = TimeIndex.withDeltaUs(d0, evSpec)
    val step = TimeIndex.inferStep(d1, evSpec)
    // feeds three detector branches -> persist the shared prefix
    (graft.core.Caches.persisted(Gaps(d1, evSpec, gapHours = 24.0)), step)
  }

  private def sentemQuery(code: Int, isNitrate: Boolean)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    SentemQc(Tables.eventsSeries(s, dir), evSpec, code,
      SentemConfig.byCode(code), isNitrate)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("flag_global"), col("is_flagged"), col("flag_reason"),
        round(col("qcband_top"), 6).as("qcband_top"),
        round(col("qcband_bottom"), 6).as("qcband_bottom"),
        col("value_masked"))
  }

  // ------------------------------------------------------------- oracle SQL

  /** Shared oracle CTE prefix: events deduped keep-first by event_id,
    * with per-row delta_us (µs; DuckDB reads the ns parquet truncated
    * to µs exactly like our `ts div 1000`).
    */
  private val seriesCte: String =
    """WITH d AS (
      |  SELECT user_id, ts, value,
      |         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
      |  FROM events
      |), dd AS (
      |  SELECT user_id, ts, value,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS delta_us
      |  FROM d WHERE rn = 1
      |)""".stripMargin

  private val stepCte: String =
    """, st AS (
      |  SELECT user_id,
      |         CASE WHEN count(*) < 3
      |                OR median(CASE WHEN delta_us > 0 THEN delta_us END) IS NULL
      |              THEN 900000000.0
      |              ELSE median(CASE WHEN delta_us > 0 THEN delta_us END) END AS step_us
      |  FROM dd GROUP BY user_id
      |)""".stripMargin

  /** Shared slope CTE: seconds-from-series-start time axis, finite-
    * pair cov/var closed-form slope over a ±12-row frame, minp 8.
    */
  private val slopeCte: String =
    """, t0 AS (
      |  SELECT user_id, ts, value,
      |         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)) / 1000000.0 AS t
      |  FROM dd
      |), t1 AS (
      |  SELECT *, CASE WHEN value IS NOT NULL THEN t END AS tm FROM t0
      |), s AS (
      |  SELECT user_id, ts,
      |         CASE WHEN count(value) OVER wf >= 8 AND var_pop(tm) OVER wf > 0
      |              THEN covar_pop(tm, value) OVER wf / var_pop(tm) OVER wf END AS slope
      |  FROM t1
      |  WINDOW wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
      |)""".stripMargin

  /** Config-driven oracle for the SentemQC engine — generated from the
    * same SentemConfig the operator runs, with expression shapes
    * matching the Spark plan term-for-term so both engines perform the
    * identical IEEE arithmetic.
    */
  private def sentemOracleSql(code: Int, isNitrate: Boolean): String = {
    val cfg = SentemConfig.byCode(code)
    val conv = if (isNitrate) " * (14.0/62.0)" else ""
    val sensorRule = code match {
      case 157787 | 2477034 | 2477787 =>
        "CASE WHEN obs < 0 THEN 200 ELSE 100 END"
      case 400 =>
        "CASE WHEN obs = 30 OR obs = 25 OR obs = 0 OR obs >= 40 THEN 200 WHEN obs IS NULL THEN 200 ELSE 100 END"
      case 410 =>
        "CASE WHEN obs = 0 OR obs >= 13 OR obs < 0 THEN 200 WHEN obs IS NULL THEN 200 ELSE 100 END"
      case _ => "100"
    }
    def frame(w: Int) =
      s"ROWS BETWEEN ${w / 2} PRECEDING AND ${(w - 1) / 2} FOLLOWING"
    // basic-stat CTEs for runs 1-4
    val statCtes = (1 to 4).map { r =>
      val p = cfg.runs(r - 1)
      val minp = SentemConfig.minPeriods(p.w)
      val aggFn = if (r == 3) "median" else "avg"
      val src = if (r == 1) "fs" else s"r${r - 1}s"
      s""", r${r}s AS (
         |  SELECT *, CASE WHEN count(obs) OVER w$r >= $minp THEN $aggFn(obs) OVER w$r END AS ma_$r,
         |         CASE WHEN count(obs) OVER w$r >= $minp THEN stddev_pop(obs) OVER w$r END AS sd_$r
         |  FROM $src WINDOW w$r AS (PARTITION BY user_id ORDER BY ts ${frame(p.w)})
         |)""".stripMargin
    }.mkString
    def top(r: Int) = {
      val p = cfg.runs(r - 1)
      s"(ma_$r + ${p.ta} + ${p.sf}*sd_$r)"
    }
    def bot(r: Int) = {
      val p = cfg.runs(r - 1)
      s"(ma_$r - ${p.bs} - ${p.sf}*sd_$r)"
    }
    def flagSql(r: Int) = (cfg.uncertaintyPct, cfg.uncertaintyCon) match {
      case (Some(u), _) =>
        val c1 = (1.0 + u).toString; val c2 = (1.0 - u).toString
        s"CASE WHEN (($c1*obs) > ${top(r)} AND ($c2*obs) > ${top(r)}) OR (($c2*obs) < ${bot(r)} AND ($c1*obs) < ${bot(r)}) THEN 200 ELSE 100 END"
      case (None, Some(c)) =>
        s"CASE WHEN ((obs + $c) > ${top(r)} AND (obs - $c) > ${top(r)}) OR ((obs - $c) < ${bot(r)} AND (obs + $c) < ${bot(r)}) THEN 200 ELSE 100 END"
      case _ =>
        s"CASE WHEN obs > ${top(r)} OR obs < ${bot(r)} THEN 200 ELSE 100 END"
    }
    val minp5 = SentemConfig.minPeriods(cfg.runs(4).w)
    val flagList = (Seq("flag_sensor") ++ (1 to 5).map(r => s"flag_run$r"))
    val anyFlag = flagList.map(f => s"$f = 200").mkString(" OR ")
    val reasons = flagList.map(f =>
      s"CASE WHEN $f = 200 THEN '$f' END").mkString(", ")
    val back = if (isNitrate) " * (62.0/14.0)" else ""
    seriesCte +
      s""", p0 AS (
         |  SELECT user_id, ts, value AS obs_in,
         |         CASE WHEN value IS NULL OR value <= 0 THEN NULL ELSE value END AS obs_raw
         |  FROM dd
         |), p1 AS (
         |  SELECT *, obs_raw$conv AS obs FROM p0
         |), fs AS (
         |  SELECT *, $sensorRule AS flag_sensor FROM p1
         |)$statCtes, t5a AS (
         |  SELECT *, lag(obs, 2) OVER wo AS xm2, lag(obs, 1) OVER wo AS xm1,
         |         lead(obs, 1) OVER wo AS xp1, lead(obs, 2) OVER wo AS xp2
         |  FROM r4s WINDOW wo AS (PARTITION BY user_id ORDER BY ts)
         |), t5b AS (
         |  SELECT *,
         |    (CASE WHEN xm2 IS NOT NULL THEN 1.0 ELSE 0.0 END + CASE WHEN xm1 IS NOT NULL THEN 2.0 ELSE 0.0 END + CASE WHEN obs IS NOT NULL THEN 3.0 ELSE 0.0 END + CASE WHEN xp1 IS NOT NULL THEN 2.0 ELSE 0.0 END + CASE WHEN xp2 IS NOT NULL THEN 1.0 ELSE 0.0 END) AS wsum,
         |    (CASE WHEN xm2 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN xm1 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN xp1 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN xp2 IS NOT NULL THEN 1 ELSE 0 END) AS nfin,
         |    (coalesce(xm2, 0.0)*1.0 + coalesce(xm1, 0.0)*2.0 + coalesce(obs, 0.0)*3.0 + coalesce(xp1, 0.0)*2.0 + coalesce(xp2, 0.0)*1.0) AS wx
         |  FROM t5a
         |), t5c AS (
         |  SELECT *, CASE WHEN nfin >= 3 THEN wx / wsum END AS ma_5 FROM t5b
         |), t5d AS (
         |  SELECT *, CASE WHEN nfin >= 3 THEN sqrt((coalesce(pow(xm2 - ma_5, 2)*1.0, 0.0) + coalesce(pow(xm1 - ma_5, 2)*2.0, 0.0) + coalesce(pow(obs - ma_5, 2)*3.0, 0.0) + coalesce(pow(xp1 - ma_5, 2)*2.0, 0.0) + coalesce(pow(xp2 - ma_5, 2)*1.0, 0.0)) / wsum) END AS sd_5
         |  FROM t5c
         |), sup AS (
         |  SELECT *, sum(CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END) OVER w5s AS support
         |  FROM t5d WINDOW w5s AS (PARTITION BY user_id ORDER BY ts ${frame(cfg.runs(4).w)})
         |), fl AS (
         |  SELECT *, ${flagSql(1)} AS flag_run1, ${flagSql(2)} AS flag_run2,
         |         ${flagSql(3)} AS flag_run3, ${flagSql(4)} AS flag_run4,
         |         ${flagSql(5)} AS flag_run5,
         |         CASE WHEN support >= $minp5 THEN ${top(5)} END AS qcband_top0,
         |         CASE WHEN support >= $minp5 THEN ${bot(5)} END AS qcband_bottom0
         |  FROM sup
         |)
         |SELECT user_id, epoch_us(ts) AS ts_us,
         |       CASE WHEN $anyFlag THEN 200 ELSE 100 END AS flag_global,
         |       ($anyFlag) AS is_flagged,
         |       concat_ws(' ', $reasons) AS flag_reason,
         |       round(qcband_top0$back, 6) AS qcband_top,
         |       round(qcband_bottom0$back, 6) AS qcband_bottom,
         |       CASE WHEN $anyFlag THEN NULL ELSE obs_raw END AS value_masked
         |FROM fl""".stripMargin
  }

  /** Shared chains for q_events_all / q_seasonal_events: quantized
    * 24h-gap-masked signal + the three event detectors as CTEs
    * bin_ev / flat_ev / slope_ev.
    */
  private val eventsChainsCte: String = {
    val wo = "OVER (PARTITION BY user_id ORDER BY ts)"
    seriesCte + stepCte +
      s""", xq AS (
         |  SELECT user_id, ts, delta_us,
         |         CASE WHEN delta_us > 86400000000 THEN NULL ELSE round(value/20)*20 END AS v
         |  FROM dd
         |), bz AS (
         |  SELECT user_id, ts, v,
         |         coalesce(v IS NOT NULL AND abs(v) <= 1e-12, false) AS xb,
         |         lag(ts) $wo AS prev_ts, lag(v) $wo AS prev_val
         |  FROM xq
         |)""".stripMargin + markerCtes("b", "user_id", "bz", Seq("v")) +
      s""", bin_ev AS (
         |  SELECT r.user_id, r.ts AS start_ts, e.e_ts AS end_ts,
         |         coalesce(r.prev_ts, r.ts) AS pre_t, r.next_ts AS post_t,
         |         CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END AS pre_val,
         |         r.next_v AS post_val
         |  FROM bruns r
         |  JOIN (SELECT user_id AS e_uid, rn AS e_rn, ts AS e_ts FROM bi) e
         |    ON r.user_id = e.e_uid AND e.e_rn = r.next_rn - 1
         |  WHERE r.xb AND (r.next_rn - r.rn) >= 1
         |    AND (CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) IS NOT NULL
         |    AND r.next_v IS NOT NULL
         |    AND ((CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) <> 0.0 OR r.next_v <> 0.0)
         |), fz AS (
         |  SELECT user_id, ts, v,
         |         coalesce(abs(v - lag(v) $wo) <= 0.0, false) AS xb
         |  FROM xq
         |)""".stripMargin + markerCtes("f", "user_id", "fz") +
      s""", flat_ev AS (
         |  SELECT user_id, ts AS start_ts, next_ts AS end_ts,
         |         (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 AS hours_raw
         |  FROM fruns
         |  WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0
         |), st0 AS (
         |  SELECT user_id, ts, v,
         |         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)) / 1000000.0 AS t
         |  FROM xq
         |), st1 AS (
         |  SELECT *, CASE WHEN v IS NOT NULL THEN t END AS tm FROM st0
         |), ssl AS (
         |  SELECT user_id, ts,
         |         CASE WHEN count(v) OVER wf >= 8 AND var_pop(tm) OVER wf > 0
         |              THEN covar_pop(tm, v) OVER wf / var_pop(tm) OVER wf END AS slope
         |  FROM st1 WINDOW wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
         |), gz AS (
         |  SELECT user_id, ts, coalesce(abs(slope) <= 0.05, false) AS xb FROM ssl
         |)""".stripMargin + markerCtes("g", "user_id", "gz") +
      s""", slope_ev AS (
         |  SELECT user_id, ts AS start_ts, next_ts AS end_ts,
         |         (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 AS hours_raw
         |  FROM gruns
         |  WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0
         |)""".stripMargin
  }

  /** EP1-composition oracle over (user_id, event_type) series:
    * keep-first dedup, 72h gap mask, the 9-check suite at kVar=6 /
    * kZ=8 with range [0,100], accepted projection.
    */
  private val pipelineOracle: String = {
    val pk = "user_id, event_type"
    val wo = s"OVER (PARTITION BY $pk ORDER BY ts)"
    val run = s"OVER (PARTITION BY $pk, run_id ORDER BY ts)"
    val full = s"OVER (PARTITION BY $pk, run_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    s"""WITH d AS (
       |  SELECT $pk, ts, value,
       |         row_number() OVER (PARTITION BY $pk, ts ORDER BY event_id) AS rn
       |  FROM events
       |), dd AS (
       |  SELECT $pk, ts, value,
       |         epoch_us(ts) - lag(epoch_us(ts)) $wo AS delta_us
       |  FROM d WHERE rn = 1
       |), st AS (
       |  SELECT $pk,
       |         CASE WHEN count(*) < 3
       |                OR median(CASE WHEN delta_us > 0 THEN delta_us END) IS NULL
       |              THEN 900000000.0
       |              ELSE median(CASE WHEN delta_us > 0 THEN delta_us END) END AS step_us
       |  FROM dd GROUP BY $pk
       |), x AS (
       |  SELECT $pk, ts, delta_us, value AS raw,
       |         CASE WHEN delta_us > 259200000000 THEN NULL ELSE value END AS v
       |  FROM dd
       |), zm AS (
       |  SELECT *, CASE WHEN count(v) OVER wz >= 5 THEN median(v) OVER wz END AS med
       |  FROM x WINDOW wz AS (PARTITION BY $pk ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
       |), zd AS (
       |  SELECT *, CASE WHEN count(abs(v - med)) OVER wz >= 5 THEN median(abs(v - med)) OVER wz END AS mad
       |  FROM zm WINDOW wz AS (PARTITION BY $pk ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
       |), base AS (
       |  SELECT $pk, ts, delta_us, raw, v,
       |         coalesce(v < 0.0 OR v > 100.0, false) AS flag_range,
       |         (v IS NULL) AS flag_missing,
       |         coalesce(abs(v - lag(v) OVER wo) >= 5.0, false) AS flag_jumps,
       |         coalesce((CASE WHEN count(v) OVER wv >= 3 THEN var_samp(v) OVER wv END) <= 1e-12, false) AS flag_variance,
       |         coalesce(abs(0.6745 * (v - med) / (CASE WHEN mad = 0.0 THEN NULL ELSE mad END)) >= 4.0, false) AS flag_zscore
       |  FROM zd
       |  WINDOW wo AS (PARTITION BY $pk ORDER BY ts),
       |         wv AS (PARTITION BY $pk ORDER BY ts ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)
       |), pz AS (
       |  SELECT $pk, ts, v,
       |         coalesce(abs(v - lag(v) $wo) <= 0.0, false) AS xb
       |  FROM x
       |)""".stripMargin + markerCtes("p", pk, "pz") +
    s""", pq AS (
       |  SELECT r.user_id AS q_uid, r.event_type AS q_et, r.mkid AS q_mkid FROM pruns r
       |  WHERE r.xb AND (epoch_us(r.next_ts) - epoch_us(r.ts)) / 3600000000.0 >= 2.0
       |), pmask AS (
       |  SELECT b.user_id, b.event_type, b.ts, (q.q_mkid IS NOT NULL) AS in_run
       |  FROM pi b LEFT JOIN pq q ON b.user_id = q.q_uid AND b.event_type = q.q_et AND b.mkid = q.q_mkid
       |), pm2 AS (
       |  SELECT $pk, ts,
       |         (in_run OR coalesce(lag(in_run) $wo, false)) AS flag_plateau
       |  FROM pmask
       |), iz AS (
       |  SELECT $pk, ts, delta_us, (v IS NOT NULL) AS xb FROM x
       |)""".stripMargin + markerCtes("i", pk, "iz", Seq("delta_us")) +
    s""", iqual AS (
       |  SELECT r.user_id AS q_uid, r.event_type AS q_et, r.mkid AS q_mkid
       |  FROM iruns r JOIN st s ON r.user_id = s.user_id AND r.event_type = s.event_type
       |  WHERE r.xb AND (r.next_rn - r.rn) <= greatest(1, CAST(floor(1800000000.0 / s.step_us + 0.5) AS BIGINT))
       |    AND r.delta_us > 10800000000 AND r.next_delta_us > 10800000000
       |), imsk AS (
       |  SELECT b.user_id, b.event_type, b.ts, (q.q_mkid IS NOT NULL) AS flag_isolated
       |  FROM ii b LEFT JOIN iqual q ON b.user_id = q.q_uid AND b.event_type = q.q_et AND b.mkid = q.q_mkid
       |)
       |SELECT b.user_id, b.event_type, epoch_us(b.ts) AS ts_us, b.raw, b.v AS clean,
       |       CASE WHEN b.v IS NULL OR (b.flag_range OR b.flag_missing OR p.flag_plateau OR b.flag_variance
       |              OR b.flag_zscore OR b.flag_jumps OR i.flag_isolated) THEN NULL ELSE b.v END AS accepted,
       |       (b.flag_range OR b.flag_missing OR p.flag_plateau OR b.flag_variance
       |              OR b.flag_zscore OR b.flag_jumps OR i.flag_isolated) AS saqc_flag
       |FROM base b
       |JOIN pm2 p ON b.user_id = p.user_id AND b.event_type = p.event_type AND b.ts = p.ts
       |JOIN imsk i ON b.user_id = i.user_id AND b.event_type = i.event_type AND b.ts = i.ts""".stripMargin
  }

  /** Marker-run CTE generator mirroring Rle.withMarkers/runs (the
    * reference's exact `rle_bool` semantics — see Rle.scala). Source
    * CTE `src` must already provide a non-null boolean `xb` plus
    * whatever columns the consumer needs. Emits CTEs: {p}c (rn, n),
    * {p}d (c_cur/c_next), {p}m (marker), {p}i (mkid — join target for
    * masks), {p}r (markers with next_*), {p}runs (markers that start
    * a run). `leads` columns become next_<col>.
    */
  private def markerCtes(p: String, pk: String, src: String,
      leads: Seq[String] = Seq.empty): String = {
    val w = s"OVER (PARTITION BY $pk ORDER BY ts)"
    val extraLeads = leads.map(c => s", lead($c) $w AS next_$c").mkString
    s""", ${p}c AS (
       |  SELECT *, CAST(row_number() $w AS BIGINT) - 1 AS rn,
       |         count(*) OVER (PARTITION BY $pk) AS n
       |  FROM $src
       |), ${p}d AS (
       |  SELECT *, CASE WHEN rn = 0 THEN true ELSE xb <> lag(xb) $w END AS c_cur,
       |         CASE WHEN rn = n - 1 THEN true ELSE lead(xb) $w <> xb END AS c_next
       |  FROM ${p}c
       |), ${p}m AS (
       |  SELECT *, (c_cur <> c_next) AS marker FROM ${p}d
       |), ${p}i AS (
       |  SELECT *, sum(CASE WHEN marker THEN 1 ELSE 0 END) OVER (PARTITION BY $pk ORDER BY ts ROWS UNBOUNDED PRECEDING) AS mkid
       |  FROM ${p}m
       |), ${p}r AS (
       |  SELECT *, lead(rn) $w AS next_rn, lead(ts) $w AS next_ts$extraLeads
       |  FROM ${p}i WHERE marker
       |), ${p}runs AS (
       |  SELECT * FROM ${p}r WHERE next_rn IS NOT NULL
       |)""".stripMargin
  }

  /** SQL twins of the Scala seed/signal helpers — ONE definition per
    * seed expression and per signal chain, interpolated into every
    * oracle that uses it (q_pii, q_domains, q_domains_join,
    * q_keep_score, q_lm_score), so a regex or seed edit cannot
    * silently desynchronize the composite's oracle from the
    * standalone ones (the same reason the Scala side has
    * piiSeed/domainSeed).
    */
  private val piiEmailSql = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  private val piiPhoneSql = """\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"""
  private val piiIpv4Sql = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
  private val piiIdRunSql = "[0-9]{9,}"

  /** The q_pii seeded-documents CTE (named `name`). */
  private def piiSeedCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         text || ' u' || doc_id || '@ex' || (doc_id % 5) || '.org' ||
       |         CASE WHEN doc_id % 3 = 0
       |              THEN ' ' || (doc_id % 900 + 100) || '-555-' ||
       |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 4 = 0
       |              THEN ' 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 5 = 0
       |              THEN ' acct ' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
       |              ELSE '' END AS text
       |  FROM documents
       |)""".stripMargin

  /** The staged pii redaction chain over seed CTE `seed`; emits
    * `${p}s1/${p}s2/${p}s3` with r1/r2/r3 columns.
    */
  private def piiChainCtes(seed: String, p: String): String =
    s"""${p}s1 AS (
       |  SELECT doc_id, text,
       |         regexp_replace(text,
       |           '$piiEmailSql',
       |           '<EMAIL>', 'g') AS r1
       |  FROM $seed
       |), ${p}s2 AS (
       |  SELECT *, regexp_replace(r1, '$piiPhoneSql',
       |                           '<PHONE>', 'g') AS r2
       |  FROM ${p}s1
       |), ${p}s3 AS (
       |  SELECT *, regexp_replace(r2,
       |    '$piiIpv4Sql',
       |    '<IP>', 'g') AS r3
       |  FROM ${p}s2
       |)""".stripMargin

  /** The four staged audit-count columns over a `${p}s3` row. */
  private def piiCountCols: String =
    s"""CAST(len(regexp_extract_all(text, '$piiEmailSql')) AS INT) AS n_emails,
       |       CAST(len(regexp_extract_all(r1, '$piiPhoneSql')) AS INT) AS n_phones,
       |       CAST(len(regexp_extract_all(r2, '$piiIpv4Sql')) AS INT) AS n_ips,
       |       CAST(len(regexp_extract_all(r3, '$piiIdRunSql')) AS INT) AS n_id_runs""".stripMargin

  /** The q_domains seeded-documents CTE (named `name`). */
  private def domainSeedCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         text || ' see https://site' || (doc_id % 7) || '.example.com/p/' || doc_id ||
       |         CASE WHEN doc_id % 3 = 0
       |              THEN ' and http://cdn' || (doc_id % 4) || '.example.net/x'
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 11 = 0
       |              THEN ' via https://bad' || (doc_id % 2) || '.spam.io/z'
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 6 = 0
       |              THEN ' again https://site' || (doc_id % 7) || '.example.com/q'
       |              ELSE '' END AS text
       |  FROM documents
       |)""".stripMargin

  /** The bigram-LM scoring chain (q_lm_score's model + per-doc
    * aggregate), CTE names prefixed with `p`; ends at `${p}agg`
    * (doc_id, sb, n_tokens, n_oov).
    */
  private def lmCtes(p: String): String =
    s"""${p}arr AS (
       |  SELECT doc_id, source,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                     x -> x <> '') AS ws
       |  FROM documents
       |), ${p}refw AS (
       |  SELECT unnest(ws) AS w FROM ${p}arr WHERE source = 'src0'
       |), ${p}uni AS (
       |  SELECT w, count(*) AS cu FROM ${p}refw GROUP BY 1
       |), ${p}tot AS (
       |  SELECT CAST(sum(cu) AS BIGINT) AS n, count(*) AS v FROM ${p}uni
       |), ${p}bi AS (
       |  SELECT w1, w2, count(*) AS cb FROM (
       |    SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       |    FROM ${p}arr WHERE source = 'src0' AND len(ws) >= 2
       |  ) GROUP BY 1, 2
       |), ${p}terms AS (
       |  SELECT doc_id, CAST(NULL AS VARCHAR) AS w1, ws[1] AS w2
       |  FROM ${p}arr WHERE len(ws) >= 1
       |  UNION ALL
       |  SELECT doc_id, w1, w2 FROM (
       |    SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       |    FROM ${p}arr WHERE len(ws) >= 2)
       |), ${p}scored AS (
       |  SELECT t.doc_id, u2.cu AS cu2,
       |         CASE WHEN t.w1 IS NULL
       |              THEN (coalesce(u2.cu, 0) + 1) * 1.0 / (${p}tot.n + ${p}tot.v)
       |              ELSE 0.9 * (CASE WHEN u1.cu IS NOT NULL
       |                               THEN coalesce(b.cb, 0) * 1.0 / u1.cu
       |                               ELSE 0.0 END)
       |                   + (1.0 - 0.9) *
       |                     ((coalesce(u2.cu, 0) + 1) * 1.0 / (${p}tot.n + ${p}tot.v))
       |         END AS p
       |  FROM ${p}terms t
       |  LEFT JOIN ${p}uni u2 ON t.w2 = u2.w
       |  LEFT JOIN ${p}uni u1 ON t.w1 = u1.w
       |  LEFT JOIN ${p}bi b ON t.w1 = b.w1 AND t.w2 = b.w2
       |  CROSS JOIN ${p}tot
       |), ${p}agg AS (
       |  SELECT doc_id,
       |         sum(CAST(round(-log2(p), 9) AS DECIMAL(38,9))) AS sb,
       |         count(*) AS n_tokens,
       |         CAST(sum(CASE WHEN cu2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |  FROM ${p}scored GROUP BY 1
       |)""".stripMargin

  /** documents → per-(doc, hashed-gram-bucket) counts: CTEs
    * `{p}arr` (token arrays), `{p}g` (unigrams + bigrams), `{p}db`
    * (doc_id, source, b, n) — the shared feature chain of every DSIR
    * oracle, optionally row-sliced by `where` (e.g. the incremental
    * known/batch split). Bucket = 60-bit md5 hash % 4096
    * (nonnegative, ≡ pmod).
    */
  private def dsirDbCtes(p: String, where: String): String =
    s"""${p}arr AS (
       |  SELECT doc_id, source,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                     x -> x <> '') AS ws
       |  FROM documents $where
       |), ${p}g AS (
       |  SELECT doc_id, source, unnest(ws) AS gram FROM ${p}arr
       |  UNION ALL
       |  SELECT doc_id, source, w1 || ' ' || w2 AS gram FROM (
       |    SELECT doc_id, source, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       |    FROM ${p}arr WHERE len(ws) >= 2)
       |), ${p}db AS (
       |  SELECT doc_id, source,
       |         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 4096 AS b,
       |         count(*) AS n
       |  FROM ${p}g GROUP BY 1, 2, 3
       |)""".stripMargin

  /** The DSIR hashed-ngram importance-weight chain (q_dsir_weights'
    * model + per-doc aggregate); ends at `dagg` (doc_id, s, n_grams).
    * Shapes mirror Sampling.dsirWeights term for term: probabilities
    * in the literal (c+1)*1.0/(N+B) form, per-term round-9 →
    * DECIMAL(38,9) order-free sum.
    */
  private def dsirCtes: String =
    s"""${dsirDbCtes("d", "")}, draw AS (
       |  SELECT b, sum(n) AS rc FROM ddb GROUP BY 1
       |), dtgt AS (
       |  SELECT b, sum(n) AS tc FROM ddb WHERE source = 'src0' GROUP BY 1
       |), dtots AS (
       |  SELECT (SELECT sum(rc) FROM draw) AS nr, (SELECT sum(tc) FROM dtgt) AS nt
       |), dterms AS (
       |  SELECT ddb.doc_id,
       |         CAST(round(n * 1.0 * (log2((coalesce(tc, 0) + 1) * 1.0 / (nt + 4096))
       |                             - log2((rc + 1) * 1.0 / (nr + 4096))), 9)
       |              AS DECIMAL(38,9)) AS t,
       |         n
       |  FROM ddb JOIN draw USING (b) LEFT JOIN dtgt USING (b) CROSS JOIN dtots
       |), dagg AS (
       |  SELECT doc_id, sum(t) AS s, CAST(sum(n) AS BIGINT) AS n_grams
       |  FROM dterms GROUP BY 1
       |)""".stripMargin

  /** documents → distinct k-word shingles CTE (w, sh). */
  private def shingleCte(k: Int): String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(words[CAST(i AS INT):CAST(i AS INT)+${k - 1}], ' ') AS shingle
       |  FROM w, unnest(range(1, greatest(len(words) - ${k - 1}, 0) + 1)) AS t(i)
       |)""".stripMargin

  private val jaccardTail: String =
    """, sz AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pr AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)""".stripMargin

  /** Shared scaffolding of the ANN recall semi-oracles: exact brute
    * top-5 per query joined against an approximate result set, one
    * output row of structural counts plus the in-band aggregate
    * recall assertion.
    */
  private def annRecall(emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame,
      bound: Double): org.apache.spark.sql.DataFrame = {
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", k = 5).select(col("query_id"), col("vec_id"))
    brute.join(
        approx.select(col("query_id"), col("vec_id"), lit(1).as("__hit")),
        Seq("query_id", "vec_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"),
        (sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)) >= bound).as("recall_ok"))
  }

  /** Both recall semi-oracles share one oracle: the brute top-5
    * structural counts are exact SQL; recall_ok is asserted in-band
    * on the Spark side.
    */
  private lazy val annRecallOracleSql: String =
    normCte +
      s""", p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
         |)
         |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |       count(*) AS n_exact_pairs, TRUE AS recall_ok
         |FROM r WHERE rk <= 5""".stripMargin

  /** DuckDB mirror of Diagnostics.groupedRobustFit on lineitem
    * (returnflag/linestatus, quantity→extendedprice, scale 100,
    * c=3.0): generates the pilot-fit CTE plus one
    * (residuals → scale → weights → weighted moments → fit) block per
    * IRLS round, so Spark and DuckDB replay the identical trajectory
    * of 6-dp-rounded coefficients.
    */
  private def robustFitSql(iters: Int): String = {
    val gk = "l_returnflag, l_linestatus"
    def fitBody(src: String, n: String, sx: String, sy: String,
        sxx: String, sxy: String): String =
      s"""  SELECT $gk,
         |       CASE WHEN CAST($n*$sxx - $sx*$sx AS DOUBLE) <> 0 THEN
         |         round(CAST($n*$sxy - $sx*$sy AS DOUBLE)
         |               / CAST($n*$sxx - $sx*$sx AS DOUBLE), 6) END AS b1,
         |       CASE WHEN CAST($n*$sxx - $sx*$sx AS DOUBLE) <> 0 THEN
         |         round(CAST($sy AS DOUBLE) / (CAST($n AS DOUBLE) * 100)
         |               - (CAST($n*$sxy - $sx*$sy AS DOUBLE)
         |                  / CAST($n*$sxx - $sx*$sx AS DOUBLE))
         |                 * (CAST($sx AS DOUBLE) / (CAST($n AS DOUBLE) * 100)), 6)
         |       END AS b0
         |  FROM $src""".stripMargin
    val sb = new StringBuilder
    sb ++=
      s"""WITH q AS (
         |  SELECT $gk,
         |         l_quantity AS xr, l_extendedprice AS yr,
         |         CAST(round(l_quantity * 100) AS HUGEINT) AS xq,
         |         CAST(round(l_extendedprice * 100) AS HUGEINT) AS yq
         |  FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |), m AS (
         |  SELECT $gk,
         |         CAST(count(*) AS HUGEINT) AS n,
         |         sum(xq) AS sx, sum(yq) AS sy,
         |         sum(xq * xq) AS sxx, sum(xq * yq) AS sxy
         |  FROM q GROUP BY 1, 2
         |), fit0 AS (
         |${fitBody("m", "n", "sx", "sy", "sxx", "sxy")}
         |)""".stripMargin
    for (k <- 1 to iters) {
      sb ++=
        s""", r$k AS (
           |  SELECT q.*, f.b1, q.yr - (f.b1 * q.xr + f.b0) AS r
           |  FROM q JOIN fit${k - 1} f USING ($gk)
           |), sca$k AS (
           |  SELECT $gk, quantile_cont(abs(r), 0.5) AS s
           |  FROM r$k GROUP BY 1, 2
           |), wr$k AS (
           |  SELECT r$k.*,
           |         CASE WHEN r$k.b1 IS NULL THEN NULL
           |              WHEN sca$k.s = 0 OR abs(r$k.r) <= 3.0 * sca$k.s
           |                THEN CAST(1000000 AS HUGEINT)
           |              ELSE CAST(round(3.0 * sca$k.s / abs(r$k.r) * 1000000) AS HUGEINT)
           |         END AS w
           |  FROM r$k JOIN sca$k USING ($gk)
           |), wm$k AS (
           |  SELECT $gk,
           |         CAST(count(*) AS BIGINT) AS n,
           |         sum(w) AS sw, sum(w * xq) AS swx, sum(w * yq) AS swy,
           |         sum(w * xq * xq) AS swxx, sum(w * xq * yq) AS swxy,
           |         CAST(sum(CASE WHEN w < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_downweighted
           |  FROM wr$k GROUP BY 1, 2
           |), fit$k AS (
           |${fitBody(s"wm$k", "sw", "swx", "swy", "swxx", "swxy")}
           |)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT f0.l_returnflag, f0.l_linestatus,
         |       f0.b1 AS slope_ols, f0.b0 AS intercept_ols,
         |       fN.b1 AS slope_robust, fN.b0 AS intercept_robust,
         |       wmN.n, wmN.n_downweighted
         |FROM fit0 f0
         |JOIN fit$iters fN USING ($gk)
         |JOIN wm$iters wmN USING ($gk)""".stripMargin
    sb.toString
  }

  /** Oracle CTE chain for the trained quality classifier — replays
    * classifierFeatures + clfTrainWeights ITERATION BY ITERATION so
    * Spark and DuckDB walk the identical integer fixed-point weight
    * trajectory (the robustFitSql pattern, diagonal-Newton instead of
    * 2x2 Cramer). Base tables: qya/qfa = full-corpus labels/hashed
    * count features, qys/qfs = the doc_id%3==0 seed slice training
    * reads; ends in qw$iters (1-row weight list; wl[dims+1] = bias).
    * Every CTE is AS MATERIALIZED: the chain is self-referential and
    * DuckDB's default inlining would re-expand it exponentially.
    */
  private def qualityClfCtes(dims: Int, iters: Int): String = {
    val wl0 = List.fill(dims + 1)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++=
      s"""WITH qtk AS MATERIALIZED (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                            x -> x <> '')) AS w
         |  FROM documents
         |), qya AS MATERIALIZED (
         |  SELECT doc_id,
         |         CASE WHEN 16 * sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END)
         |                   >= count(*) THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         |  FROM qtk GROUP BY doc_id
         |), qfa AS MATERIALIZED (
         |  SELECT doc_id, CAST(('0x' || substr(md5(w),1,15)) AS BIGINT) % $dims AS b,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM qtk GROUP BY doc_id, b
         |), qys AS MATERIALIZED (SELECT * FROM qya WHERE doc_id % 3 = 0
         |), qfs AS MATERIALIZED (SELECT * FROM qfa WHERE doc_id % 3 = 0
         |), qw0 AS MATERIALIZED (SELECT $wl0 AS wl)""".stripMargin
    for (k <- 1 to iters) {
      val gh = (0 until dims).map(j =>
        s"sum(CASE WHEN f.b = $j THEN h.r * f.c ELSE CAST(0 AS BIGINT) END) AS g$j, " +
          s"sum(CASE WHEN f.b = $j THEN h.hq * f.c * f.c ELSE CAST(0 AS BIGINT) END) AS h$j")
        .mkString(",\n         ")
      val upd = (0 until dims).map(j =>
        s"wl[${j + 1}] + (CASE WHEN h$j > 0 THEN CAST(round((1000000.0 * CAST(g$j AS DOUBLE)) / (8.0 * CAST(h$j AS DOUBLE))) AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
        .mkString(",\n          ")
      sb ++=
        s""", qz$k AS MATERIALIZED (
           |  SELECT f.doc_id, sum(wl[f.b + 1] * f.c) + min(wl[${dims + 1}]) AS zm
           |  FROM qfs f, qw${k - 1} GROUP BY f.doc_id
           |), qp$k AS MATERIALIZED (
           |  SELECT z.doc_id, y.y, ${qualityClfPqSql("z.zm")} AS pq
           |  FROM qz$k z JOIN qys y USING (doc_id)
           |), qh$k AS MATERIALIZED (
           |  SELECT doc_id, y * 1000000 - pq AS r,
           |         CAST(round(CAST(pq * (1000000 - pq) AS DOUBLE) / 1000000.0) AS BIGINT) AS hq
           |  FROM qp$k
           |), qg$k AS MATERIALIZED (
           |  SELECT $gh
           |  FROM qfs f JOIN qh$k h USING (doc_id)
           |), qb$k AS MATERIALIZED (SELECT sum(r) AS gb, sum(hq) AS hb FROM qh$k
           |), qw$k AS MATERIALIZED (
           |  SELECT [$upd,
           |          wl[${dims + 1}] + (CASE WHEN hb > 0 THEN CAST(round((1000000.0 * CAST(gb AS DOUBLE)) / (8.0 * CAST(hb AS DOUBLE))) AS BIGINT) ELSE CAST(0 AS BIGINT) END)] AS wl
           |  FROM qw${k - 1}, qg$k, qb$k
           |)""".stripMargin
    }
    sb.toString
  }

  /** clfPq mirror: micro-unit sigma with the INTEGER +-30e6 clamp. */
  private def qualityClfPqSql(zm: String): String =
    s"""CASE WHEN $zm >= 30000000 THEN CAST(1000000 AS BIGINT)
       |              WHEN $zm <= -30000000 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(round(1000000.0 / (1.0 + exp(-(CAST($zm AS DOUBLE) / 1000000.0)))) AS BIGINT) END""".stripMargin

  /** Shared full-corpus scoring CTE (qzf) for the apply/eval tails. */
  private def qualityClfScoreCte(dims: Int, iters: Int): String =
    s""", qzf AS (
       |  SELECT f.doc_id, sum(wl[f.b + 1] * f.c) + min(wl[${dims + 1}]) AS zm
       |  FROM qfa f, qw$iters GROUP BY f.doc_id
       |)""".stripMargin

  /** Similarity.safeCosine mirror: the undefined cosine (zero-norm
    * side) pinned to -2.0 in SQL, so desc-rank/threshold stages can
    * never be decided by an engine's NaN convention.
    */
  private def safeCosSql(d: String, den: String): String =
    s"CASE WHEN $den > 0 THEN $d / ($den) ELSE -2.0 END"

  /** embeddings with norms CTE (n); dot(a,b) helper inlined. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private val normCte: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)""".stripMargin

  /** Unrolled deterministic-Lloyd k-means replay — the q_bpe_train
    * pattern applied to floats. Requires a source CTE `${pfx}s(ord,
    * v DOUBLE[dim])` with ord = 1-based id-order rank; emits
    * `${pfx}c0 … ${pfx}c$iters(cell, cent)`. Every step mirrors
    * [[graft.ext.Similarity]]'s driver-side lloyd exactly: init =
    * first k points; assignment = argmin of the ascending-dim
    * sequential L2² fold with ties to the lower cell (struct min);
    * update = per-dim sequential sum in sample order divided once by
    * the count (list(v ORDER BY ord) → list_sum = the same IEEE left
    * fold as the Scala accumulation loop); empty cells keep their
    * previous centroid.
    */
  private def lloydCtes(pfx: String, k: Int, iters: Int, dim: Int): String = {
    def sq(vE: String, cE: String) =
      s"($vE[CAST(i AS INT)] - $cE[CAST(i AS INT)]) * ($vE[CAST(i AS INT)] - $cE[CAST(i AS INT)])"
    val d2 = s"list_sum(list_transform(range(1, ${dim + 1}), i -> ${sq("s.v", "c.cent")}))"
    val rounds = (1 to iters).map { it =>
      s"""|, ${pfx}a$it AS MATERIALIZED (
          |  SELECT s.ord, s.v,
          |         (min({'d': $d2, 'c': c.cell})).c AS cell
          |  FROM ${pfx}s s, ${pfx}c${it - 1} c GROUP BY s.ord, s.v
          |), ${pfx}u$it AS (
          |  SELECT cell, list(v ORDER BY ord) AS vs, count(*) AS cnt
          |  FROM ${pfx}a$it GROUP BY cell
          |), ${pfx}c$it AS MATERIALIZED (
          |  SELECT p.cell,
          |         CASE WHEN u.cell IS NULL THEN p.cent
          |              ELSE list_transform(range(1, ${dim + 1}), i ->
          |                list_sum(list_transform(u.vs, vv -> vv[CAST(i AS INT)])) / u.cnt)
          |         END AS cent
          |  FROM ${pfx}c${it - 1} p LEFT JOIN ${pfx}u$it u USING (cell)
          |)""".stripMargin
    }.mkString("\n")
    s"""|, ${pfx}c0 AS (
        |  SELECT ord - 1 AS cell, v AS cent FROM ${pfx}s WHERE ord <= $k
        |)$rounds""".stripMargin
  }

  /** q_ann_ivf oracle: the coarse quantizer's Lloyd training replayed
    * by [[lloydCtes]], then the exact IVF chain — corpus argmin cell,
    * nprobe nearest query cells (ties to the smaller cell), true
    * cosine inside probed cells, top-k. Constants mirror the entry:
    * nlist=16, nprobe=4, iters=10, k=5, queries = vec_id < 10.
    */
  private def ivfOracleSql: String = {
    val dim = 64
    def d2c(vE: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> " +
        s"(CAST($vE[CAST(i AS INT)] AS DOUBLE) - c.cent[CAST(i AS INT)]) * " +
        s"(CAST($vE[CAST(i AS INT)] AS DOUBLE) - c.cent[CAST(i AS INT)])))"
    normCte +
      s""", ivs AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS ord,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 100000)
         |)""".stripMargin +
      lloydCtes("iv", k = 16, iters = 10, dim = dim) +
      s""", ivcc AS MATERIALIZED (
         |  SELECT e.vec_id, (min({'d': ${d2c("e.embedding")}, 'c': c.cell})).c AS cell
         |  FROM embeddings e, ivc10 c GROUP BY e.vec_id
         |), ivqp AS (
         |  SELECT vec_id AS query_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${d2c("e.embedding")} ASC, c.cell ASC) AS pr
         |    FROM embeddings e, ivc10 c WHERE e.vec_id < 10)
         |  WHERE pr <= 4
         |), ivsc AS (
         |  SELECT qp.query_id, cc.vec_id,
         |         ${safeCosSql(dotSql("q.embedding", "e.embedding"), "q.nrm * e.nrm")} AS cos0
         |  FROM ivqp qp JOIN ivcc cc USING (cell)
         |  JOIN n q ON q.vec_id = qp.query_id
         |  JOIN n e ON e.vec_id = cc.vec_id
         |  WHERE qp.query_id <> cc.vec_id
         |), ivrk AS (
         |  SELECT query_id, vec_id, cos0,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos0 DESC, vec_id ASC) AS rank
         |  FROM ivsc
         |)
         |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rank AS INT) AS rank
         |FROM ivrk WHERE rank <= 5""".stripMargin
  }

  /** q_ann_pq oracle: the m per-subspace Lloyd fits replayed by
    * [[lloydCtes]] over the unit-normalized sample, then the exact
    * ADC chain — corpus codes by argmin ‖c‖²−2·u_j·c (ties to the
    * lower code), per-query per-code partial scores, adist = the
    * seed-1.0-first sequential fold over the m lookups, top-k.
    * Constants mirror the entry: m=8, dsub=8, ksub=32, iters=10,
    * k=5, queries = vec_id < 10.
    */
  private def pqOracleSql: String = {
    val m = 8; val dsub = 8; val ksub = 32; val iters = 10
    def dot8(aE: String, bE: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), i -> " +
        s"$aE[CAST(i AS INT)] * $bE[CAST(i AS INT)]))"
    val subspaces = (0 until m).map { j =>
      s""", p${j}s AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS ord,
         |         list_slice(u, ${j * dsub + 1}, ${(j + 1) * dsub}) AS v
         |  FROM (SELECT vec_id, u FROM pu ORDER BY vec_id LIMIT 100000)
         |)""".stripMargin + lloydCtes(s"p$j", ksub, iters, dsub)
    }.mkString("")
    val bookUnion = (0 until m).map(j =>
      s"SELECT $j AS j, cell AS code, cent, " +
        s"list_sum(list_transform(cent, x -> x * x)) AS cn2 FROM p${j}c$iters")
      .mkString("\n  UNION ALL ")
    val subOfU = s"list_slice(u.u, b.j * $dsub + 1, (b.j + 1) * $dsub)"
    normCte +
      s""", pu AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
         |  FROM n
         |)""".stripMargin + subspaces +
      s""", books AS MATERIALIZED (
         |  $bookUnion
         |), pcode AS MATERIALIZED (
         |  SELECT u.vec_id, b.j,
         |         (min({'d': b.cn2 - 2.0 * ${dot8(subOfU, "b.cent")}, 'c': b.code})).c AS code
         |  FROM pu u JOIN books b ON TRUE
         |  GROUP BY u.vec_id, b.j
         |), pqsc AS MATERIALIZED (
         |  SELECT u.vec_id AS query_id, b.j, b.code,
         |         b.cn2 - 2.0 * ${dot8(subOfU, "b.cent")} AS sc
         |  FROM pu u JOIN books b ON TRUE WHERE u.vec_id < 10
         |), pad AS (
         |  SELECT q.query_id, pc.vec_id,
         |         list_sum(list_prepend(CAST(1.0 AS DOUBLE),
         |           list(q.sc ORDER BY q.j))) AS adist
         |  FROM pcode pc JOIN pqsc q ON q.j = pc.j AND q.code = pc.code
         |  WHERE q.query_id <> pc.vec_id
         |  GROUP BY q.query_id, pc.vec_id
         |), prk AS (
         |  SELECT query_id, vec_id, adist,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY adist ASC, vec_id ASC) AS rank
         |  FROM pad
         |)
         |SELECT query_id, vec_id, round(adist, 6) AS adist, CAST(rank AS INT) AS rank
         |FROM prk WHERE rank <= 5""".stripMargin
  }

  private val bucketSql: String =
    (0 until 8).map(j =>
      s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  /** semantic-dedup cell-assignment CTE chain (n … cells): pinned
    * seeds = the nSeeds smallest-id vectors, TWO-LEVEL (IVF-style)
    * argmax cosine with ties to the smaller id — mirrors
    * Similarity.assignCells' projection exactly (identically-shaped
    * IEEE folds): coarse = the ⌈√(actual seed count)⌉ smallest-id
    * seeds — derived relationally from sd, not from the nSeeds
    * parameter, because the engine derives it from the COLLECTED seed
    * count (`assignCellsImpl`: min(seeds.length, ⌈√seeds.length⌉))
    * and the two must agree when the table has fewer than nSeeds rows
    * (latent at the shipped SFs, all of which exceed nSeeds); each seed
    * groups to its argmax-cosine coarse seed EXCEPT coarse seeds,
    * which group to themselves (the non-empty-cell guarantee); each
    * vector takes its argmax coarse cell, then its argmax seed among
    * that cell's group. The engine derives the seed→coarse grouping
    * driver-side with the same sequential fold; here it is re-derived
    * relationally (s2cr/s2c) — both engines compute the same doubles
    * in the same order, so the groupings agree bit-for-bit.
    */
  private def semanticCellsCte(nSeeds: Int): String = {
    normCte +
      s""", sd AS (
         |  SELECT vec_id AS seed_id, embedding AS sv, nrm AS snrm,
         |         row_number() OVER (ORDER BY vec_id) AS srk
         |  FROM n ORDER BY vec_id LIMIT $nSeeds
         |), ncc AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nc FROM sd
         |), cd AS (
         |  SELECT seed_id AS cid, sv AS cv, snrm AS cnrm FROM sd
         |  WHERE srk <= (SELECT nc FROM ncc)
         |), s2cr AS (
         |  SELECT s.seed_id, s.srk, c.cid,
         |         row_number() OVER (PARTITION BY s.seed_id
         |           ORDER BY ${safeCosSql(dotSql("s.sv", "c.cv"), "s.snrm * c.cnrm")} DESC, c.cid ASC) AS rk
         |  FROM sd s CROSS JOIN cd c
         |), s2c AS (
         |  SELECT seed_id, CASE WHEN srk <= (SELECT nc FROM ncc) THEN seed_id ELSE cid END AS grp
         |  FROM s2cr WHERE rk = 1
         |), v2c AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${safeCosSql(dotSql("v.embedding", "c.cv"), "v.nrm * c.cnrm")} DESC, c.cid ASC) AS rk
         |    FROM n v CROSS JOIN cd c)
         |  WHERE rk = 1
         |), asgall AS (
         |  SELECT v.vec_id, s.seed_id,
         |         ${safeCosSql(dotSql("v.embedding", "s.sv"), "v.nrm * s.snrm")} AS cos0
         |  FROM n v JOIN v2c ON v2c.vec_id = v.vec_id
         |  JOIN s2c g ON g.grp = v2c.cid
         |  JOIN sd s ON s.seed_id = g.seed_id
         |), cells AS (
         |  SELECT vec_id, seed_id AS cell
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY vec_id ORDER BY cos0 DESC, seed_id ASC) AS rk
         |        FROM asgall)
         |  WHERE rk = 1
         |)""".stripMargin
  }

  /** Substring-span CTE chain (w … sp): positioned minLen-token
    * anchors, occurrence cap maxDf, diagonal gaps-and-islands — the
    * SAME (minLen, maxDf) constants the registry passes to
    * Dedup.substringSpans (SubstringMinLen/SubstringMaxDf) — ends in
    * sp(id_a, id_b, a_start, b_start, span_len). Shared by
    * q_dedup_substring and its removal companion so the span
    * definition can never drift between detect and act.
    */
  private def substringSpanCtes(minLen: Int, maxDf: Int): String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
      |), an AS (
      |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
      |         CAST(('0x' || substr(md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+${minLen - 1}], ' ')), 1, 15)) AS BIGINT) AS ah
      |  FROM w, unnest(range(1, greatest(len(ws) - ${minLen - 1}, 0) + 1)) AS t(i)
      |), rare AS (
      |  SELECT ah FROM an GROUP BY ah HAVING count(*) <= $maxDf
      |), ix AS (
      |  SELECT an.doc_id, an.pos, an.ah FROM an JOIN rare USING (ah)
      |), m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
      |         b.pos - a.pos AS diag
      |  FROM ix a JOIN ix b ON a.ah = b.ah AND a.doc_id < b.doc_id
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS rn FROM m
      |), sp AS (
      |  SELECT id_a, id_b, CAST(min(pa) AS INT) AS a_start,
      |         CAST(min(pa) + diag AS INT) AS b_start,
      |         CAST(count(*) + ${minLen - 1} AS BIGINT) AS span_len
      |  FROM r GROUP BY id_a, id_b, diag, pa - rn
      |)""".stripMargin

  /** The two incremental-ingest match legs over fpk/fpn fingerprint
    * CTEs — chunk tables, fresh×known banded match (cm), intra-batch
    * pigeonhole pairs (im). Shared by q_dedup_incr_near and
    * q_dedup_ingest so the match semantics can never drift.
    */
  private val simhashIncrMatchCtes: String =
    s"""chk AS (
       |  ${(0 until 4).map(c => s"SELECT doc_id, simhash, $c AS c, (simhash >> ${c * 8}) & 255 AS v FROM fpk").mkString("\n  UNION ALL ")}
       |), chn AS (
       |  ${(0 until 4).map(c => s"SELECT doc_id, simhash, $c AS c, (simhash >> ${c * 8}) & 255 AS v FROM fpn").mkString("\n  UNION ALL ")}
       |), cm AS (
       |  SELECT n.doc_id AS nid, min(k.doc_id) AS dup_known
       |  FROM chk k JOIN chn n ON k.c = n.c AND k.v = n.v
       |  WHERE bit_count(xor(k.simhash, n.simhash)) <= 3
       |  GROUP BY n.doc_id
       |), im AS (
       |  SELECT y.doc_id AS nid, min(x.doc_id) AS dup_batch
       |  FROM fpn x JOIN fpn y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |  GROUP BY y.doc_id
       |)""".stripMargin

  private val simhashBitSums: String = (0 until 32).map(j =>
    s"sum((((h >> $j) & 1)*2 - 1) * c) AS s$j").mkString(",\n         ")
  private val simhashFpExpr: String = (0 until 32).map(j =>
    s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")

  /** Parameterized SimHash fingerprint CTE chain over a filtered
    * slice of `documents`: produces `fp$sfx(doc_id, simhash)` (CTE
    * names suffixed so two slices coexist in one statement). Shares
    * its term builders with [[simhashCteBody]], whose generated text
    * is unchanged.
    */
  private def simhashFpCte(sfx: String, where: String): String =
    s"""wd$sfx AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents WHERE $where
       |), wc$sfx AS (
       |  SELECT doc_id, w, count(*) AS c FROM wd$sfx GROUP BY doc_id, w
       |), wh$sfx AS (
       |  SELECT doc_id, c, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM wc$sfx
       |), bs$sfx AS (
       |  SELECT doc_id,
       |         $simhashBitSums
       |  FROM wh$sfx GROUP BY doc_id
       |), fp$sfx AS (
       |  SELECT doc_id, $simhashFpExpr AS simhash FROM bs$sfx
       |)""".stripMargin

  /** Quality/language gate CTE chain (qa … l) over a token table
    * `wd` (doc_id, w) — the SQL twin of
    * TextStats.qualityLangDecisions, shared VERBATIM by
    * q_corpus_filter and q_curation_e2e so the gate formulas (quality
    * composite, marker lists, argmax fold) exist in exactly one
    * place; a missed hand-copy could otherwise silently diverge the
    * two oracles while each kept passing its own parity gate.
    */
  private val qualityLangGateCtes: String =
    """qa AS (
      |  SELECT doc_id, count(*) AS wc, count(DISTINCT w) AS dw,
      |         sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS sc
      |  FROM wd GROUP BY doc_id
      |), q AS (
      |  SELECT doc_id,
      |         round((least(CAST(wc AS DOUBLE) / 100.0, 1.0)
      |               + least(CAST(sc AS DOUBLE) / wc * 5.0, 1.0)
      |               + least(CAST(dw AS DOUBLE) / wc * 2.0, 1.0)) / 3.0, 6) >= 0.5 AS quality_ok
      |  FROM qa
      |), la AS (
      |  SELECT doc_id, count(*) AS n,
      |         sum(CASE WHEN w IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS h_de,
      |         sum(CASE WHEN w IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS h_en,
      |         sum(CASE WHEN w IN ('el','la','de','y','es') THEN 1 ELSE 0 END) AS h_es,
      |         sum(CASE WHEN w IN ('le','la','les','et','est') THEN 1 ELSE 0 END) AS h_fr
      |  FROM wd GROUP BY doc_id
      |), ls AS (
      |  SELECT doc_id,
      |         CAST(h_de AS DOUBLE)/n AS s_de, CAST(h_en AS DOUBLE)/n AS s_en,
      |         CAST(h_es AS DOUBLE)/n AS s_es, CAST(h_fr AS DOUBLE)/n AS s_fr,
      |         CAST(0 AS DOUBLE)/n AS s_zh
      |  FROM la
      |), lp AS (
      |  SELECT doc_id,
      |         CASE WHEN s_zh > (CASE WHEN s_fr > (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN s_es ELSE (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) END) THEN s_fr ELSE (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN s_es ELSE (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) END) END)
      |              THEN 'zh'
      |              ELSE (CASE WHEN s_fr > (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN s_es ELSE (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) END) THEN 'fr' ELSE (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN 'es' ELSE (CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END) END) END)
      |         END AS lang_pred
      |  FROM ls
      |), l AS (
      |  SELECT doc_id, (lang_pred IN ('en')) AS lang_ok FROM lp
      |)""".stripMargin

  /** Frozen-family incremental assignment CTE chain (pk … asg) over
    * [[simhashCteBody]]'s cd candidate table, batch = doc_id % 4 == 0:
    * known-side recursive closure → famk, batch-only components →
    * comp, cross-side matches → min-family inheritance → asg(doc_id,
    * family_id, is_new_family). ONE definition shared by
    * q_split_safe_incr and q_curation_incr so the assignment
    * semantics cannot drift between the split and the full verdict.
    */
  private val incrFamilyCtes: String =
    """pk AS (
      |  SELECT id_a, id_b FROM cd
      |  WHERE bit_count(xor(ha, hb)) <= 3 AND id_a % 4 <> 0 AND id_b % 4 <> 0
      |), ek AS (
      |  SELECT id_a AS a, id_b AS b FROM pk
      |  UNION ALL SELECT id_b, id_a FROM pk
      |), rk(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 4 <> 0
      |  UNION
      |  SELECT ek.b, rk.r FROM rk JOIN ek ON ek.a = rk.id
      |), famk AS (
      |  SELECT id AS doc_id, min(r) AS family_id FROM rk GROUP BY id
      |), pb AS (
      |  SELECT id_a, id_b FROM cd
      |  WHERE bit_count(xor(ha, hb)) <= 3 AND id_a % 4 = 0 AND id_b % 4 = 0
      |), eb AS (
      |  SELECT id_a AS a, id_b AS b FROM pb
      |  UNION ALL SELECT id_b, id_a FROM pb
      |), rb(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 4 = 0
      |  UNION
      |  SELECT eb.b, rb.r FROM rb JOIN eb ON eb.a = rb.id
      |), comp AS (
      |  SELECT id AS doc_id, min(r) AS comp_id FROM rb GROUP BY id
      |), xm AS (
      |  SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS bdoc,
      |         CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS kdoc
      |  FROM cd
      |  WHERE bit_count(xor(ha, hb)) <= 3
      |    AND ((id_a % 4 = 0) <> (id_b % 4 = 0))
      |), hits AS (
      |  SELECT xm.bdoc AS doc_id, min(f.family_id) AS hit
      |  FROM xm JOIN famk f ON f.doc_id = xm.kdoc GROUP BY xm.bdoc
      |), cf AS (
      |  SELECT comp_id, min(hit) AS fam
      |  FROM comp LEFT JOIN hits USING (doc_id) GROUP BY comp_id
      |), asg AS (
      |  SELECT comp.doc_id, coalesce(cf.fam, comp.comp_id) AS family_id,
      |         cf.fam IS NULL AS is_new_family
      |  FROM comp JOIN cf USING (comp_id)
      |)""".stripMargin

  /** SimHash candidate-pair CTE chain (wd … cd), shared by the pair
    * query and the cluster query; caller prepends WITH / WITH RECURSIVE
    * and appends its tail.
    */
  private val simhashCteBody: String = {
    val bitSums = simhashBitSums
    val fpExpr = simhashFpExpr
    val chunkRows = (0 until 4).map(cI =>
      s"SELECT doc_id, simhash, $cI AS c, (simhash >> ${cI * 8}) & 255 AS v FROM fp")
      .mkString("\n  UNION ALL ")
    s"""wd AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents
       |), wc AS (
       |  SELECT doc_id, w, count(*) AS c FROM wd GROUP BY doc_id, w
       |), wh AS (
       |  SELECT doc_id, c, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM wc
       |), bs AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM wh GROUP BY doc_id
       |), fp AS (
       |  SELECT doc_id, $fpExpr AS simhash FROM bs
       |), ch AS (
       |  $chunkRows
       |), cd AS (
       |  SELECT DISTINCT x.doc_id AS id_a, x.simhash AS ha, y.doc_id AS id_b, y.simhash AS hb
       |  FROM ch x JOIN ch y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |)""".stripMargin
  }

  /** q_wrtds_local oracle — identical expression SHAPES to
    * Wrtds.local2 so both engines quantize and sum the same IEEE
    * doubles. Shared: q_buster_check wraps it as a CTE (at a REDUCED
    * support window and a series slice — the spike rule under test is
    * kernel-independent, so the expensive full-support kernel is not
    * paid twice per bench pass) and replays the robust-z buster over
    * its residuals. `seriesWhere` filters dd (empty = all series);
    * `supportDays` is the |Δt| cutoff, mirrored literally.
    */
  private def wrtdsLocalOracleSql(supportDays: Double = 90.0,
      seriesWhere: String = ""): String = {
    val w = "exp(-(((tj-ti)/30.0)*((tj-ti)/30.0)))"
    // micro-integer kernel sums, mirroring Wrtds.local2's mic():
    // term·1e6 (correctly-rounded multiply), round half-away-from-zero
    // to an exact BIGINT, exact long sum, one correctly-rounded
    // long→double cast and /1e6 — the same IEEE sequence both engines
    // execute bit for bit (replaces the DECIMAL(38,6) idiom: same
    // order-free exactness, no per-pair decimal allocation)
    def s(term: String, alias: String) =
      s"CAST(sum(CAST(round(($term) * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS $alias"
    seriesCte +
      s""", b AS (
         |  SELECT user_id, value, epoch_us(ts) AS us,
         |         min(epoch_us(ts)) OVER (PARTITION BY user_id) AS mnus
         |  FROM dd $seriesWhere
         |), t AS (
         |  SELECT user_id, us, value, (us - mnus) / 86400000000.0 AS t FROM b
         |), jn AS (
         |  SELECT i.user_id, i.us AS ius, i.t AS ti, i.value AS yi,
         |         j.t AS tj, j.value AS yj
         |  FROM t i LEFT JOIN t j ON i.user_id = j.user_id
         |    AND j.value IS NOT NULL AND abs(j.t - i.t) <= $supportDays
         |), ag AS (
         |  SELECT user_id, ius, any_value(ti) AS ti, any_value(yi) AS yi,
         |         count(yj) AS n,
         |         ${s(w, "s0")},
         |         ${s(s"$w * tj", "s1")},
         |         ${s(s"$w * tj * tj", "s2")},
         |         ${s(s"$w * yj", "sy")},
         |         ${s(s"$w * tj * yj", "sty")}
         |  FROM jn GROUP BY user_id, ius
         |), sv AS (
         |  SELECT *, s0*s2 - s1*s1 AS den FROM ag
         |), f1 AS (
         |  SELECT *, (s0*sty - s1*sy)/den AS b1 FROM sv
         |), f2 AS (
         |  SELECT *, (sy - b1*s1)/s0 AS b0 FROM f1
         |)
         |SELECT user_id, ius AS ts_us, yi AS value,
         |       round(CASE WHEN n >= 10 AND abs(den) > 1e-9 THEN b0 + b1*ti END, 6) AS l2_yhat,
         |       round(yi - (CASE WHEN n >= 10 AND abs(den) > 1e-9 THEN b0 + b1*ti END), 6) AS l2_resid
         |FROM f2""".stripMargin
  }

  /** Shared pools for the margin-mine oracle family: src (label < 2)
    * and tgt (label >= 2) with norms and the 8-bit sign-LSH bucket
    * (unused by the brute chain, harmless to carry).
    */
  private def marginPoolsCte(bits: Int): String = {
    val bkt = (0 until bits).map(j =>
      s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding,
       |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), sp0 AS (SELECT *, $bkt AS bkt FROM n WHERE label < 2
       |), tp0 AS (SELECT *, $bkt AS bkt FROM n WHERE label >= 2
       |)""".stripMargin
  }

  /** Margin-mine CTE chain, suffixed so the brute and LSH variants
    * coexist in one statement (the recall companion needs both): ends
    * in mm$sfx(src_id, tgt_id, cosine, marg). `lsh` switches the two
    * retrieval directions between the brute pool×pool pass and the
    * multi-probe bucket equi-join — mirroring Similarity.marginMine's
    * pluggable retriever (excludeSelf = false, bits+1 probes = own
    * bucket + every 1-bit flip, rank over the raw cosine).
    */
  private def marginChainCtes(sfx: String, lsh: Boolean, nk: Int,
      bits: Int, minMargin: Double): String = {
    val probeList = ("bkt" +: (0 until bits).map(j =>
      s"xor(bkt, ${1L << j})")).mkString(", ")
    def cand(alias: String, qPool: String, cPool: String): String =
      if (lsh)
        s"""qp$alias$sfx AS (
           |  SELECT vec_id, embedding, nrm, unnest([$probeList]) AS probe
           |  FROM $qPool
           |), $alias$sfx AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS cid,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM qp$alias$sfx q JOIN $cPool c ON q.probe = c.bkt
           |)""".stripMargin
      else
        s"""$alias$sfx AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS cid,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM $qPool q, $cPool c
           |)""".stripMargin
    s"""${cand("fa", "sp0", "tp0")}, fr$sfx AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos0 DESC, cid ASC) AS rk FROM fa$sfx
       |), fwd$sfx AS (
       |  SELECT qid, cid, round(cos0, 6) AS cos6 FROM fr$sfx WHERE rk <= $nk
       |), ${cand("ba", "tp0", "sp0")}, br$sfx AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos0 DESC, cid ASC) AS rk FROM ba$sfx
       |), bwd$sfx AS (
       |  SELECT qid, round(cos0, 6) AS cos6 FROM br$sfx WHERE rk <= $nk
       |), sx$sfx AS (
       |  SELECT qid, sum(CAST(cos6 AS DECIMAL(38,6))) AS sxv FROM fwd$sfx GROUP BY qid
       |), sy$sfx AS (
       |  SELECT qid AS cid, sum(CAST(cos6 AS DECIMAL(38,6))) AS syv FROM bwd$sfx GROUP BY qid
       |), m$sfx AS (
       |  SELECT f.qid, f.cid, f.cos6,
       |         f.cos6 / (CAST(sx.sxv + sy.syv AS DOUBLE) / ${2.0 * nk}) AS marg
       |  FROM fwd$sfx f JOIN sx$sfx sx ON f.qid = sx.qid JOIN sy$sfx sy ON f.cid = sy.cid
       |), r$sfx AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY marg DESC, cid ASC) AS rk FROM m$sfx
       |), mm$sfx AS (
       |  SELECT qid AS src_id, cid AS tgt_id, cos6 AS cosine, marg
       |  FROM r$sfx WHERE rk = 1 AND marg >= $minMargin
       |)""".stripMargin
  }

  /** q_media_neardup oracle: the 56-bit dHash rebuilt term by term
    * from the closed-form pixel function pixel(x,y) = (31x+17y+id)%256
    * with w = 1+id%16, h = 1+id%12 — the same formula q_media_decode
    * already proves the real codec round-trips losslessly.
    */
  private val mediaNeardupOracleSql: String = {
    def px(gx: Int, r: Int) =
      s"((31*(($gx*w)//8) + 17*(($r*h)//8) + doc_id) % 256)"
    val terms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g + 1, r)} > ${px(g, r)} THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
       |), fp AS (
       |  SELECT doc_id,
       |         $terms AS dhash
       |  FROM dims
       |)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |       CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
       |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= 3""".stripMargin
  }

  /** q_media_hashes oracle: BOTH 56-bit perceptual-hash channels
    * rebuilt term by term from the closed-form pixel function —
    * dhash from horizontal gradient signs, ahash from the exact
    * integer mean-threshold cross-multiplication s(r,g)·56 > Σs.
    */
  private val mediaHashesOracleSql: String = {
    def px(gx: Int, r: Int) =
      s"((31*(($gx*w)//8) + 17*(($r*h)//8) + doc_id) % 256)"
    val dterms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g + 1, r)} > ${px(g, r)} THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    val sumTerms = (for { r <- 0 until 8; g <- 0 until 7 } yield px(g, r))
      .mkString(" + ")
    val aterms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g, r)} * 56 > spx THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
       |), spx0 AS (
       |  SELECT doc_id, w, h, $sumTerms AS spx FROM dims
       |)
       |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |       $dterms AS dhash,
       |       $aterms AS ahash
       |FROM spx0""".stripMargin
  }

  /** q_video_frames oracle: every decoded frame's facts replayed from
    * the closed-form pixel function pixel(x,y,f) = (31x+17y+id+7f)
    * mod 256 with w = 1+id%16, h = 1+id%12, n_frames = 2+id%5 — the
    * values gifFrameMeta proves the real GIF sequence codec
    * round-trips losslessly.
    */
  private val videoFramesOracleSql: String =
    """WITH dims AS (
      |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h,
      |         2 + doc_id % 5 AS nf
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, w, h, nf, CAST(f AS BIGINT) AS f
      |  FROM dims, unnest(range(0, nf)) AS t(f)
      |), px AS (
      |  SELECT doc_id, f, nf, w, h,
      |         (31*x + 17*y + doc_id + 7*f) % 256 AS v
      |  FROM fr, unnest(range(0, w)) AS tx(x), unnest(range(0, h)) AS ty(y)
      |)
      |SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
      |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |       CAST(sum(v) AS BIGINT) AS sum_px
      |FROM px GROUP BY doc_id, f, nf, w, h""".stripMargin

  /** q_video_neardup oracle: the per-frame 56-bit dHash rebuilt term
    * by term from the same closed-form pixel function (sampled at the
    * 8×8 grid), then ALL Hamming-≤3 pairs by brute force over the
    * (video, frame) fingerprint table — the banded Spark join must
    * reproduce the brute answer exactly (pigeonhole covers ≤3 with
    * 4 chunks).
    */
  private val videoNeardupOracleSql: String = {
    def px(gx: Int, r: Int) =
      s"((31*(($gx*w)//8) + 17*(($r*h)//8) + doc_id + 7*f) % 256)"
    val terms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g + 1, r)} > ${px(g, r)} THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h,
       |         2 + doc_id % 5 AS nf
       |  FROM documents
       |), fr AS (
       |  SELECT doc_id, w, h, CAST(f AS BIGINT) AS f
       |  FROM dims, unnest(range(0, nf)) AS t(f)
       |  WHERE doc_id % 7 = 0
       |), fp AS (
       |  SELECT doc_id * 8 + f AS fkey,
       |         $terms AS dhash
       |  FROM fr
       |)
       |SELECT x.fkey // 8 AS vid_a, CAST(x.fkey % 8 AS INT) AS frame_a,
       |       y.fkey // 8 AS vid_b, CAST(y.fkey % 8 AS INT) AS frame_b,
       |       CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
       |FROM fp x JOIN fp y ON x.fkey < y.fkey
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= 3""".stripMargin
  }

  /** q_audio_neardup oracle: the 56-bit delta-sign fingerprint rebuilt
    * term by term from the closed-form sample formula
    * sample(i) = ((31i + id) mod 256 − 128)·256 with n = 64 +
    * (id % 12)·4 — the formula q_audio_meta proves the real WAV codec
    * round-trips losslessly. The oracle compares the un-scaled values
    * (the ·256 gain is sign-preserving, so the delta signs agree).
    */
  private val audioNeardupOracleSql: String = {
    def v(p: String) = s"((31*($p) + doc_id) % 256 - 128)"
    val terms = (0 until 56).map(j =>
      s"CASE WHEN ${v(s"((${j + 1})*(n-1))//56")} > ${v(s"(($j)*(n-1))//56")} THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, CAST(64 + (doc_id % 12) * 4 AS INT) AS n FROM documents
       |), fp AS (
       |  SELECT doc_id,
       |         $terms AS afp
       |  FROM dims
       |)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |       CAST(bit_count(xor(x.afp, y.afp)) AS INT) AS hamming
       |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.afp, y.afp)) <= 3""".stripMargin
  }

  /** Unrolled BPE-training CTE chain — the oracle for q_bpe_train and
    * q_bpe_encode, which were no_oracle rows through round 11 under an
    * "iterative argmax training is not SQL-expressible" contract. It
    * IS expressible once the round count is a compile-time constant:
    * each of the `numMerges` rounds unrolls to two CTEs —
    *   p_k: the round's winning pair (adjacent-pair weights off the
    *        current vocab symbol table; HAVING sum(wt) >= 2 mirrors
    *        the "a pair seen once compresses nothing" stop; ORDER BY
    *        w DESC, l ASC, r ASC is trainBpe's total tie order —
    *        pure integer weights + binary string order, so the
    *        argmax is bit-portable), and
    *   v_k: the vocab table with that merge applied, a list_reduce
    *        fold identical in shape to trainBpe's `aggregate` greedy
    *        left-to-right merge (merged = left||right is strictly
    *        longer than left, so a freshly-merged symbol can never
    *        chain into an overlapping second merge — the fold IS the
    *        non-overlapping scan). A LEFT JOIN ON TRUE against the
    *        0-or-1-row p_k makes exhausted rounds (early stop) pass
    *        symbols through unchanged, matching trainBpe's `done`.
    * Every CTE is MATERIALIZED: v_k is referenced twice (p_{k+1} and
    * v_{k+1}), so default inlining would expand the chain 2^rounds.
    * The final v_N doubles as the ENCODE oracle: applying merges
    * 1..N in rank order to the vocab is exactly the replay that
    * BpeSpec pins equivalent to encodeBpe's lowest-rank-first loop,
    * so len(syms) of v_N is each word's BPE token count.
    * Rounds run on the DISTINCT-WORD table (the same vocab trick as
    * trainBpe) — the corpus is tokenized once in `w`.
    */
  private def bpeTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { k =>
      s"""|, p$k AS MATERIALIZED (
          |  SELECT p.l AS l, p.r AS r, CAST(sum(wt) AS BIGINT) AS w
          |  FROM (SELECT wt, unnest(list_transform(range(1, len(syms)), i ->
          |          {'l': syms[CAST(i AS INT)], 'r': syms[CAST(i AS INT)+1]})) AS p
          |        FROM v${k - 1} WHERE len(syms) > 1) z
          |  GROUP BY 1, 2 HAVING sum(wt) >= 2
          |  ORDER BY w DESC, l ASC, r ASC LIMIT 1
          |), v$k AS MATERIALIZED (
          |  SELECT word, CASE WHEN m.l IS NULL OR len(syms) < 2 THEN syms
          |         ELSE list_reduce(list_transform(syms, s -> [s]),
          |           (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
          |             THEN list_slice(acc, 1, len(acc)-1) || [m.l || m.r]
          |             ELSE acc || x END) END AS syms, wt
          |  FROM v${k - 1} LEFT JOIN p$k m ON TRUE
          |)""".stripMargin
    }.mkString("\n")
    s"""|WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |), v0 AS MATERIALIZED (
        |  SELECT word,
        |         list_transform(range(1, length(word)+1),
        |                        i -> substring(word, CAST(i AS INT), 1)) AS syms,
        |         CAST(count(*) AS BIGINT) AS wt
        |  FROM w GROUP BY word
        |)$rounds""".stripMargin
  }

  /** Unrolled replay of [[graft.ext.TextStats.trainBpeBatched]]: per
    * round a MATERIALIZED ordered candidate table (same tie order as
    * the engine collect), the greedy symbol-disjoint selection as
    * `batchSize` unrolled LIMIT-1 steps (each picks the best
    * candidate sharing no symbol with earlier picks — plain SQL, no
    * lambdas: DuckDB 1.0's list_reduce miscomputes accumulator
    * fields that feed the same call as element-bound values), and
    * one simultaneous replacement fold matching ANY picked pair.
    * Emits bv0…bvR and bs1…bsR(l, r, w, ord); the caller unions the
    * picks into the rank table.
    */
  private def bpeBatchedCtes(numMerges: Int, batchSize: Int,
      candCap: Int): String = {
    val rounds = numMerges / batchSize
    val roundCtes = (1 to rounds).map { k =>
      val steps = (1 to batchSize).map { s =>
        val prior = (1 until s).map(p => s"SELECT l, r FROM bs${k}_$p")
          .mkString(" UNION ALL ")
        val disjoint =
          if (s == 1) ""
          else
            s"""|  WHERE NOT EXISTS (
                |    SELECT 1 FROM ($prior) p
                |    WHERE p.l IN (c.l, c.r) OR p.r IN (c.l, c.r))
                |""".stripMargin
        s"""|, bs${k}_$s AS MATERIALIZED (
            |  SELECT c.l, c.r, c.w, $s AS ord FROM bq$k c
            |$disjoint  ORDER BY c.w DESC, c.l ASC, c.r ASC LIMIT 1
            |)""".stripMargin
      }.mkString("\n")
      val union = (1 to batchSize).map(s => s"SELECT * FROM bs${k}_$s")
        .mkString("\n  UNION ALL ")
      s"""|, bq$k AS MATERIALIZED (
          |  SELECT p.l AS l, p.r AS r, CAST(sum(wt) AS BIGINT) AS w
          |  FROM (SELECT wt, unnest(list_transform(range(1, len(syms)), i ->
          |          {'l': syms[CAST(i AS INT)], 'r': syms[CAST(i AS INT)+1]})) AS p
          |        FROM bv${k - 1} WHERE len(syms) > 1) z
          |  GROUP BY 1, 2 HAVING sum(wt) >= 2
          |  ORDER BY w DESC, l ASC, r ASC LIMIT $candCap
          |)$steps
          |, bs$k AS MATERIALIZED (
          |  $union
          |), bv$k AS MATERIALIZED (
          |  SELECT CASE WHEN pk.pl IS NULL OR len(pk.pl) = 0 OR len(syms) < 2 THEN syms
          |         ELSE list_reduce(list_transform(syms, s -> [s]),
          |           (acc, x) -> CASE WHEN list_contains(pk.pl, [acc[-1], x[1]])
          |             THEN list_slice(acc, 1, len(acc)-1) || [acc[-1] || x[1]]
          |             ELSE acc || x END) END AS syms, wt
          |  FROM bv${k - 1} LEFT JOIN
          |    (SELECT list([l, r]) AS pl FROM bs$k) pk ON TRUE
          |)""".stripMargin
    }.mkString("\n")
    s"""|WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |), bv0 AS MATERIALIZED (
        |  SELECT list_transform(range(1, length(word)+1),
        |                        i -> substring(word, CAST(i AS INT), 1)) AS syms,
        |         CAST(count(*) AS BIGINT) AS wt
        |  FROM w GROUP BY word
        |)$roundCtes""".stripMargin
  }

  /** q_bm25's replay — shared verbatim by q_bm25_indexed: the
    * indexed form must score EXACTLY like the one-shot form, so the
    * two registry rows share one oracle (and one result hash).
    */
  private val bm25OracleSql: String =
    """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), dt0 AS (
        |  SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM arr
        |), dt AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM dt0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY 1
        |), perdoc AS (
        |  SELECT doc_id, any_value(dl) AS dl FROM dt GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         sum(dl) * CAST(1.0 AS DOUBLE) / count(*) AS avgdl
        |  FROM perdoc
        |), q0 AS (
        |  SELECT doc_id AS query_id, unnest(ws[1:4]) AS term
        |  FROM arr WHERE doc_id < 5
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM q0
        |), scored AS (
        |  SELECT qt.query_id, dt.doc_id,
        |         CAST(round(
        |           ln(CAST(1.0 AS DOUBLE) +
        |              (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) /
        |              (f.df + CAST(0.5 AS DOUBLE))) *
        |           (dt.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |            (dt.tf + CAST(1.2 AS DOUBLE) *
        |             (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |              CAST(0.75 AS DOUBLE) * dt.dl / s.avgdl))), 9)
        |           AS DECIMAL(38,9)) AS ts
        |  FROM qt JOIN dt USING (term) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s
        |), agg AS (
        |  SELECT query_id, doc_id, sum(ts) AS sq, count(*) AS n_matched
        |  FROM scored GROUP BY 1, 2
        |), r AS (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY sq DESC, doc_id ASC) AS INT) AS rank,
        |         n_matched, round(CAST(sq AS DOUBLE), 6) AS score
        |  FROM agg
        |)
        |SELECT query_id, doc_id, rank, n_matched, score
        |FROM r WHERE rank <= 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents)
        |SELECT doc_id, text_hash,
        |       min(doc_id) OVER (PARTITION BY text_hash) AS keeper_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY text_hash) AS is_duplicate
        |FROM h""".stripMargin,

    "q_dedup_ngram" ->
      (shingleCte(2) + jaccardTail +
        """
          |SELECT pr.id_a, pr.id_b, pr.inter,
          |       round(pr.inter * 1.0 / (sa.n + sb.n - pr.inter), 6) AS jaccard
          |FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id
          |WHERE pr.inter * 1.0 / (sa.n + sb.n - pr.inter) >= 0.5""".stripMargin),

    // identical by construction to the exact inverted-index closure at
    // t=0.9 — the prefix filter is lossless at its own threshold
    "q_dedup_ngram_prefix" ->
      (shingleCte(2) + jaccardTail +
        """
          |SELECT pr.id_a, pr.id_b, pr.inter,
          |       round(pr.inter * 1.0 / (sa.n + sb.n - pr.inter), 6) AS jaccard
          |FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id
          |WHERE pr.inter * 1.0 / (sa.n + sb.n - pr.inter) >= 0.9""".stripMargin),

    "q_dedup_ngram_capped" ->
      (shingleCte(2) +
        """, rare AS (
          |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 20
          |), ix AS (
          |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle
          |), cd AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |), sz AS (
          |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
          |), iv AS (
          |  SELECT cd.id_a, cd.id_b, count(*) AS inter
          |  FROM cd JOIN sh a ON cd.id_a = a.doc_id
          |          JOIN sh b ON cd.id_b = b.doc_id AND a.shingle = b.shingle
          |  GROUP BY cd.id_a, cd.id_b
          |)
          |SELECT iv.id_a, iv.id_b, iv.inter,
          |       round(iv.inter * 1.0 / (sa.n + sb.n - iv.inter), 6) AS jaccard
          |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
          |WHERE iv.inter * 1.0 / (sa.n + sb.n - iv.inter) >= 0.5""".stripMargin),

    // positioned anchors (same tokenization/hash as the shingle
    // family), occurrence cap, diagonal gaps-and-islands — replays
    // substringSpans stage by stage.
    "q_dedup_substring" ->
      (substringSpanCtes(SubstringMinLen, SubstringMaxDf) +
        "\nSELECT id_a, id_b, a_start, b_start, span_len FROM sp"),

    // removal replay: explode each id_b span into its covered token
    // positions, anti-join the token table, rebuild the kept stream.
    "q_dedup_substring_apply" ->
      (substringSpanCtes(SubstringMinLen, SubstringMaxDf) +
        """, rm AS (
          |  SELECT DISTINCT id_b AS doc_id, CAST(p AS INT) AS pos
          |  FROM sp, unnest(range(CAST(b_start AS BIGINT),
          |                        CAST(b_start AS BIGINT) + span_len)) AS u(p)
          |), tk AS (
          |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[CAST(i AS INT)] AS wd
          |  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
          |), ka AS (
          |  SELECT tk.doc_id, count(*) AS nk,
          |         string_agg(tk.wd, ' ' ORDER BY tk.pos) AS td
          |  FROM tk LEFT JOIN rm ON tk.doc_id = rm.doc_id AND tk.pos = rm.pos
          |  WHERE rm.pos IS NULL
          |  GROUP BY tk.doc_id
          |), nt AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
          |  FROM tk GROUP BY doc_id
          |)
          |SELECT nt.doc_id, nt.n_tokens,
          |       CAST(coalesce(ka.nk, 0) AS BIGINT) AS n_kept,
          |       coalesce(ka.td, '') AS text_dedup
          |FROM nt LEFT JOIN ka ON nt.doc_id = ka.doc_id""".stripMargin),

    // keep-first is total-ordered (doc_id, seg_id), so the window
    // form is the exact oracle; grouping by seg_text ≡ grouping by
    // md5(seg_text) on the Spark side.
    "q_dedup_lines" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     w -> w <> '') AS ws
        |  FROM documents
        |), segs AS (
        |  SELECT doc_id, g.i AS seg_id,
        |         array_to_string(ws[g.i*10+1 : g.i*10+10], ' ') AS seg_text
        |  FROM tk, unnest(range(0, ((len(ws)-1)//10)+1)) AS g(i)
        |  WHERE len(ws) > 0
        |), k AS (
        |  SELECT doc_id, seg_id, seg_text,
        |         row_number() OVER (PARTITION BY seg_text
        |           ORDER BY doc_id, seg_id) = 1 AS kept
        |  FROM segs
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         coalesce(string_agg(CASE WHEN kept THEN seg_text END, ' '
        |           ORDER BY seg_id), '') AS text_dedup
        |  FROM k GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(a.n_segs, 0) AS BIGINT) AS n_segs,
        |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(a.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       count(*) AS n, TRUE AS approx_within_4pct
        |FROM events GROUP BY event_type""".stripMargin,

    "q_approx_percentiles" ->
      """SELECT event_type, count(value) AS n,
        |       round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |       round(quantile_cont(value, 0.9), 6) AS p90_exact,
        |       round(quantile_cont(value, 0.99), 6) AS p99_exact,
        |       TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band
        |FROM events GROUP BY event_type""".stripMargin,

    "q_salted_join" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(row_number() OVER (ORDER BY event_type) AS INT) AS type_rank
        |  FROM (SELECT DISTINCT event_type FROM events)
        |)
        |SELECT e.event_id, e.event_type, d.type_rank
        |FROM events e JOIN d ON e.event_type = d.event_type""".stripMargin,

    "q_sample_fixed" ->
      """WITH r AS (
        |  SELECT doc_id, lang AS stratum,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
        |                    doc_id ASC) AS INT) AS sample_rank
        |  FROM documents
        |)
        |SELECT doc_id, stratum, sample_rank FROM r WHERE sample_rank <= 20""".stripMargin,

    // priority q = w·2^60/(h+1): BIGINT +1 exact, int→double and the
    // division correctly rounded, ·2^60 a pure exponent shift — the
    // same bits in both engines (no pow/log/exp).
    "q_priority_sample" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |         CAST(n_chars AS DOUBLE) * 1.152921504606846976e18
        |           / CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) AS priority
        |  FROM documents WHERE n_chars > 0
        |), r AS (
        |  SELECT doc_id, weight, priority,
        |         CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS INT) AS sample_rank
        |  FROM p
        |), tau AS (
        |  SELECT max(CASE WHEN sample_rank = 26 THEN priority ELSE 0.0 END) AS t
        |  FROM r WHERE sample_rank <= 26
        |)
        |SELECT doc_id, weight, priority, sample_rank,
        |       greatest(weight, (SELECT t FROM tau)) AS weight_est
        |FROM r WHERE sample_rank <= 25""".stripMargin,

    "q_priority_sample_strat" ->
      """WITH p AS (
        |  SELECT doc_id, lang AS stratum, CAST(n_chars AS DOUBLE) AS weight,
        |         CAST(n_chars AS DOUBLE) * 1.152921504606846976e18
        |           / CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) AS priority
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT doc_id, stratum, weight, priority, sample_rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY stratum
        |    ORDER BY priority DESC, doc_id ASC) AS INT) AS sample_rank
        |  FROM p
        |) WHERE sample_rank <= 5""".stripMargin,

    // DSIR: per-term round-9 → DECIMAL(38,9) sum (order-free), bucket
    // hash the md5-prefix currency, probabilities in the literal
    // (c+1)*1.0/(N+B) IEEE shape on both engines.
    "q_dsir_weights" ->
      (s"""WITH $dsirCtes
         |SELECT d.doc_id,
         |       coalesce(a.n_grams, 0) AS n_grams,
         |       round(CAST(a.s AS DOUBLE), 6) AS logw
         |FROM documents d LEFT JOIN dagg a USING (doc_id)""".stripMargin),

    "q_dsir_sample" ->
      (s"""WITH $dsirCtes, wdoc AS (
         |  SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS logw
         |  FROM dagg WHERE s IS NOT NULL
         |), keyed AS (
         |  SELECT doc_id, logw,
         |         round(logw * 0.6931471805599453 + round(-ln(-ln(
         |           CAST(least(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1,
         |                      1152921504606846848) AS DOUBLE)
         |             / 1.152921504606846976e18)), 9), 6) AS gumbel_key
         |  FROM wdoc
         |)
         |SELECT doc_id, logw, gumbel_key, sample_rank FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS INT) AS sample_rank
         |  FROM keyed
         |) WHERE sample_rank <= 30""".stripMargin),

    // incremental DSIR: model CTEs sliced to the known corpus, batch
    // grams LEFT-joined against the frozen model (coalesce(c,0)+1
    // smoothing for never-seen buckets, matching dsirScore's shapes).
    "q_dsir_incr" ->
      (s"""WITH ${dsirDbCtes("m", "WHERE doc_id % 4 <> 0")}, model AS (
         |  SELECT b, sum(n) AS rc,
         |         coalesce(sum(CASE WHEN source = 'src0' THEN n END), 0) AS tc
         |  FROM mdb GROUP BY 1
         |), mtots AS (
         |  SELECT sum(rc) AS nr, sum(tc) AS nt FROM model
         |), ${dsirDbCtes("bt", "WHERE doc_id % 4 = 0")}, bterms AS (
         |  SELECT btdb.doc_id,
         |         CAST(round(n * 1.0 * (log2((coalesce(tc, 0) + 1) * 1.0 / (nt + 4096))
         |                             - log2((coalesce(rc, 0) + 1) * 1.0 / (nr + 4096))), 9)
         |              AS DECIMAL(38,9)) AS t,
         |         n
         |  FROM btdb LEFT JOIN model USING (b) CROSS JOIN mtots
         |), bagg AS (
         |  SELECT doc_id, sum(t) AS s, CAST(sum(n) AS BIGINT) AS n_grams
         |  FROM bterms GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(a.n_grams, 0) AS n_grams,
         |       round(CAST(a.s AS DOUBLE), 6) AS logw
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         |LEFT JOIN bagg a USING (doc_id)""".stripMargin),

    "q_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |              % 10000 AS INT) AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 9000 THEN 'train'
        |            WHEN bucket < 9500 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin,

    "q_split_safe" ->
      """WITH fam AS (
        |  SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS family_id
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, family_id,
        |         CAST(CAST(('0x' || substr(md5(CAST(family_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |              % 10000 AS INT) AS bucket
        |  FROM fam
        |)
        |SELECT doc_id, family_id, bucket,
        |       CASE WHEN bucket < 9000 THEN 'train'
        |            WHEN bucket < 9500 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin,

    // boundaries rounded to 6 decimals on BOTH sides before the
    // strictly-greater compare, so the cut points are bit-identical
    // cross-engine; quantile_cont mirrors Spark's exact percentile
    // (same interpolation — already pinned by q_percentiles)
    "q_quantile_buckets" ->
      """WITH b AS (
        |  SELECT [round(quantile_cont(n_chars, 0.1), 6), round(quantile_cont(n_chars, 0.2), 6),
        |          round(quantile_cont(n_chars, 0.3), 6), round(quantile_cont(n_chars, 0.4), 6),
        |          round(quantile_cont(n_chars, 0.5), 6), round(quantile_cont(n_chars, 0.6), 6),
        |          round(quantile_cont(n_chars, 0.7), 6), round(quantile_cont(n_chars, 0.8), 6),
        |          round(quantile_cont(n_chars, 0.9), 6)] AS bs
        |  FROM documents
        |)
        |SELECT d.doc_id, d.n_chars,
        |       CAST(len(list_filter(b.bs, x -> d.n_chars > x)) AS INT) AS bucket
        |FROM documents d CROSS JOIN b""".stripMargin,

    "q_source_mix" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
        |                    doc_id ASC) AS INT) AS sample_rank
        |  FROM documents
        |)
        |SELECT doc_id, source, sample_rank FROM r
        |WHERE sample_rank <= CASE source WHEN 'src0' THEN 15 WHEN 'src1' THEN 10
        |                                 WHEN 'src2' THEN 5 ELSE 3 END""".stripMargin,

    "q_rollup" ->
      """SELECT source, lang, CAST(GROUPING(source, lang) AS INT) AS grp,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,

    "q_cube" ->
      """SELECT source, lang, CAST(GROUPING(source, lang) AS INT) AS grp,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin,

    "q_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
        |), r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf DESC, dfq.df_docs ASC, tf.term ASC) AS rn
        |  FROM tf JOIN dfq USING (term)
        |)
        |SELECT doc_id, term, tf, df_docs, CAST(rn AS INT) AS term_rank
        |FROM r WHERE rn <= 5""".stripMargin,

    "q_vocab_prune" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
        |), band AS (
        |  SELECT term FROM tf GROUP BY term
        |  HAVING count(*) >= 2 AND count(*) <= 250
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_terms_kept,
        |         CAST(sum(tf) AS BIGINT) AS n_tokens_kept
        |  FROM tf JOIN band USING (term) GROUP BY 1
        |)
        |SELECT t.doc_id, count(*) AS n_terms_total,
        |       CAST(sum(t.tf) AS BIGINT) AS n_tokens_total,
        |       coalesce(any_value(k.n_terms_kept), 0) AS n_terms_kept,
        |       coalesce(any_value(k.n_tokens_kept), 0) AS n_tokens_kept
        |FROM tf t LEFT JOIN kept k USING (doc_id)
        |GROUP BY t.doc_id""".stripMargin,

    "q_clean_seeded" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text
        |              ELSE text || ' <b>contact</b> user' || doc_id ||
        |                   '@example.com or https://ex.org/d/' || doc_id
        |         END AS text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |           '<[^>]*>', ' ', 'g'),
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |           'https?://[^\s]+', '<URL>', 'g'),
        |           '\s+', ' ', 'g')) AS clean_text
        |  FROM d
        |)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars_clean,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls
        |FROM c""".stripMargin,

    "q_pii" ->
      (s"""WITH ${piiSeedCte("d")}
         |, ${piiChainCtes("d", "")}
         |SELECT doc_id,
         |       regexp_replace(r3, '$piiIdRunSql', '<ID>', 'g') AS pii_text,
         |       $piiCountCols
         |FROM s3""".stripMargin),

    "q_domains" ->
      (s"""WITH ${domainSeedCte("d")}, h AS (
        |  SELECT doc_id,
        |         regexp_extract_all(lower(text), 'https?://([a-zA-Z0-9.-]+)', 1) AS hosts
        |  FROM d
        |)
        |SELECT doc_id,
        |       CAST(len(hosts) AS INT) AS n_urls,
        |       CAST(len(list_distinct(hosts)) AS INT) AS n_domains,
        |       array_to_string(list_sort(list_distinct(hosts)), ',') AS domains_csv,
        |       len(list_intersect(hosts, ['bad0.spam.io', 'bad1.spam.io'])) > 0 AS blocked
        |FROM h""".stripMargin),

    // same oracle as q_domains — the join variant must produce the
    // identical result set on the identical seeded inputs.
    "q_domains_join" ->
      (s"""WITH ${domainSeedCte("d")}, h AS (
        |  SELECT doc_id,
        |         regexp_extract_all(lower(text), 'https?://([a-zA-Z0-9.-]+)', 1) AS hosts
        |  FROM d
        |)
        |SELECT doc_id,
        |       CAST(len(hosts) AS INT) AS n_urls,
        |       CAST(len(list_distinct(hosts)) AS INT) AS n_domains,
        |       array_to_string(list_sort(list_distinct(hosts)), ',') AS domains_csv,
        |       len(list_intersect(hosts, ['bad0.spam.io', 'bad1.spam.io'])) > 0 AS blocked
        |FROM h""".stripMargin),

    "q_temp_mix" ->
      """WITH g AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, n_tokens,
        |         CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5), 6)
        |              AS DECIMAL(38,6)) AS wq
        |  FROM g
        |), n AS (
        |  SELECT source, n_tokens,
        |         round(CAST(n_tokens AS DOUBLE) /
        |               CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS natural_share,
        |         round(CAST(wq AS DOUBLE) /
        |               CAST(sum(wq) OVER () AS DOUBLE), 6) AS weight
        |  FROM w
        |)
        |SELECT source, n_tokens, natural_share, weight,
        |       CASE WHEN natural_share > 0
        |            THEN round(weight / natural_share, 6) END AS oversample
        |FROM n""".stripMargin,

    "q_dup_matrix" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 17 = 0
        |              THEN 'shared boilerplate ' || (doc_id % 5)
        |              ELSE text END AS text
        |  FROM documents
        |), m AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS h, source FROM d
        |), cross_pairs AS (
        |  SELECT l.source AS src_a, r.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_families
        |  FROM m l JOIN m r ON l.h = r.h AND l.source < r.source
        |  GROUP BY 1, 2
        |), within AS (
        |  SELECT source AS src_a, source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_families
        |  FROM (
        |    SELECT md5(lower(trim(text))) AS h, source
        |    FROM d GROUP BY 1, 2 HAVING count(*) >= 2
        |  ) GROUP BY 1, 2
        |)
        |SELECT * FROM cross_pairs UNION ALL SELECT * FROM within""".stripMargin,

    "q_source_kl" ->
      """WITH sw AS (
        |  SELECT source,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM sw GROUP BY 1, 2
        |), wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY 1),
        |   st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |   tt AS (SELECT CAST(sum(t) AS BIGINT) AS T FROM wt),
        |   term AS (
        |  SELECT c.source, st.n,
        |         CAST(round((c.c * 1.0 / st.n) *
        |                    log2((c.c * 1.0 * tt.T) / (st.n * 1.0 * wt.t)), 9)
        |              AS DECIMAL(38,9)) AS kl_term
        |  FROM c JOIN wt USING (w) JOIN st USING (source) CROSS JOIN tt
        |)
        |SELECT source, CAST(min(n) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_terms,
        |       CAST(round(sum(kl_term), 6) AS DOUBLE) AS kl_bits
        |FROM term GROUP BY source""".stripMargin,

    "q_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id,
        |         md5(lower(trim(CASE WHEN doc_id % 7 = 0 THEN text || ' v1'
        |                             ELSE text END))) AS old_hash
        |  FROM documents WHERE doc_id % 9 <> 0
        |), n AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS new_hash
        |  FROM documents WHERE doc_id % 10 <> 0
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN old_hash = new_hash THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       old_hash, new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    "q_budget_select" ->
      """WITH l AS (
        |  SELECT doc_id, n_chars,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS tokens,
        |         round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS quality
        |  FROM l
        |)
        |SELECT doc_id, quality, tokens,
        |       sum(tokens) OVER (ORDER BY quality DESC, doc_id ASC
        |                         ROWS UNBOUNDED PRECEDING) <= 50000 AS kept
        |FROM q""".stripMargin,

    "q_cdc_merge" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |         round(value, 6) AS value
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT user_id, ts_us, event_id, event_type, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "q_histogram" ->
      """WITH b AS (
        |  SELECT event_type,
        |         least(greatest(CAST(floor((value - 0.0) / 10.0) AS BIGINT),
        |                        0), 19) AS bin
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, bin, round(0.0 + bin * 10.0, 6) AS bin_lo,
        |       count(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin,

    // mirrors groupedLinearFit's exact-integer moments: HUGEINT sums
    // ≡ Spark's decimal(38,0) sums for all in-range values, and the
    // final double expressions share the identical operation tree
    "q_linear_fit" ->
      """WITH q AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_quantity * 100) AS HUGEINT) AS xq,
        |         CAST(round(l_extendedprice * 100) AS HUGEINT) AS yq
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), m AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         sum(xq) AS sx, sum(yq) AS sy,
        |         sum(xq * xq) AS sxx, sum(xq * yq) AS sxy,
        |         sum(yq * yq) AS syy
        |  FROM q GROUP BY 1, 2
        |)
        |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
        |         round(CAST(n*sxy - sx*sy AS DOUBLE)
        |               / CAST(n*sxx - sx*sx AS DOUBLE), 6) END AS slope,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
        |         round(CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 100)
        |               - (CAST(n*sxy - sx*sy AS DOUBLE)
        |                  / CAST(n*sxx - sx*sx AS DOUBLE))
        |                 * (CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 100)), 6)
        |       END AS intercept,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0
        |                 AND CAST(n*syy - sy*sy AS DOUBLE) <> 0 THEN
        |         round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
        |               / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |       END AS r2
        |FROM m""".stripMargin,

    // mirrors groupedRobustFit round for round: the pilot fit is the
    // q_linear_fit expression tree (rounded 6), each IRLS round
    // recomputes residuals against the previous ROUNDED fit, the
    // scale is the exact median |r|, weights land on the same 1e-6
    // grid, and the weighted moments are HUGEINT ≡ Spark's
    // decimal(38,0); the CTE chain is generated for the same iters=3
    "q_robust_fit" -> robustFitSql(iters = 2),

    "q_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click') AS "click",
        |       count(*) FILTER (WHERE event_type = 'error') AS "error",
        |       count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
        |       count(*) FILTER (WHERE event_type = 'signup') AS "signup",
        |       count(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY user_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH known AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS text_hash
        |  FROM documents WHERE doc_id % 5 <> 0
        |), b AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS text_hash
        |  FROM documents WHERE doc_id % 5 = 0
        |)
        |SELECT b.doc_id, b.text_hash,
        |       (k.text_hash IS NOT NULL) AS is_known
        |FROM b LEFT JOIN known k USING (text_hash)""".stripMargin,

    // near-dup ingest replay: fingerprints per slice, banded cross
    // candidates (multiplicity harmless under min), brute intra-batch
    // pairs (the fresh batch is the small side — test-SF baseline)
    "q_dedup_incr_near" ->
      (s"WITH ${simhashFpCte("k", "doc_id % 5 <> 0")},\n" +
        s"${simhashFpCte("n", "doc_id % 5 = 0")},\n" +
        simhashIncrMatchCtes +
        """
           |SELECT f.doc_id, cm.dup_known AS dup_of_known,
           |       im.dup_batch AS dup_of_batch,
           |       (cm.dup_known IS NULL AND im.dup_batch IS NULL) AS keep
           |FROM fpn f
           |LEFT JOIN cm ON f.doc_id = cm.nid
           |LEFT JOIN im ON f.doc_id = im.nid""".stripMargin),

    // unified ingest replay: the exact leg is q_dedup_incremental's
    // hash join, the near legs are q_dedup_incr_near's shared match
    // CTEs — composed over the same slices.
    "q_dedup_ingest" ->
      (s"WITH ${simhashFpCte("k", "doc_id % 5 <> 0")},\n" +
        s"${simhashFpCte("n", "doc_id % 5 = 0")},\n" +
        simhashIncrMatchCtes +
        """, known AS (
           |  SELECT DISTINCT md5(lower(trim(text))) AS text_hash
           |  FROM documents WHERE doc_id % 5 <> 0
           |), bh AS (
           |  SELECT doc_id, md5(lower(trim(text))) AS text_hash
           |  FROM documents WHERE doc_id % 5 = 0
           |)
           |SELECT b.doc_id, b.text_hash,
           |       (k2.text_hash IS NOT NULL) AS is_known,
           |       cm.dup_known AS dup_of_known,
           |       im.dup_batch AS dup_of_batch,
           |       (k2.text_hash IS NULL AND cm.dup_known IS NULL
           |          AND im.dup_batch IS NULL) AS keep
           |FROM bh b
           |LEFT JOIN known k2 USING (text_hash)
           |LEFT JOIN cm ON b.doc_id = cm.nid
           |LEFT JOIN im ON b.doc_id = im.nid""".stripMargin),

    "q_hop_windows" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, event_type FROM events
        |), h AS (
        |  SELECT (us // 3600000000) * 3600000000 AS w_start_us, event_type
        |  FROM e
        |  UNION ALL
        |  SELECT ((us // 3600000000) - 1) * 3600000000 AS w_start_us, event_type
        |  FROM e
        |)
        |SELECT w_start_us, w_start_us + 7200000000 AS w_end_us,
        |       event_type, count(*) AS n
        |FROM h GROUP BY 1, 2, 3""".stripMargin,

    // ORDER BY the truncated µs value, not raw ts: under a ns parquet
    // contract Spark orders by the µs truncation, and sub-µs order
    // must not break ties differently across engines
    "q_debounce" ->
      """WITH b AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id)
        |           AS prev_gap_us
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, ts_us, prev_gap_us,
        |       (prev_gap_us IS NULL OR prev_gap_us > 1800000000) AS kept
        |FROM b""".stripMargin,

    "q_scd2" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         round(value, 6) AS value
        |  FROM events
        |)
        |SELECT user_id, ts_us, event_id, value,
        |       ts_us AS valid_from_us,
        |       lead(ts_us) OVER w AS valid_to_us,
        |       (lead(ts_us) OVER w IS NULL) AS is_current
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99,
        |       count(value) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, count(value) AS n,
        |       CAST(sum(CAST(round(value, 3) AS DECIMAL(30,3))) AS DOUBLE) AS sum_val,
        |       min(value) AS min_val, max(value) AS max_val
        |FROM events GROUP BY event_type""".stripMargin,

    "q_wrtds_local" -> wrtdsLocalOracleSql(),

    // buster replay over the exact-green l2 residuals: per-series
    // median/MAD/robust-z recomputed by DuckDB from the SAME 6-dp-grid
    // residual values (both engines interpolate even-count medians as
    // lower + (upper-lower)·0.5 — identical IEEE shape), spike
    // threshold |z| ≥ 4 compared on bit-identical doubles. max_abs_z
    // rounds an already de-gridded quotient (the lmScore-tail rule).
    // med/mad attach by LEFT join: a series whose residuals are ALL
    // NULL has no median row but must still emit (n_resid=0,
    // n_spikes=0, max_abs_z NULL) exactly as the engine does.
    // Residual source: supportDays=30 over the even-user_id series
    // half — the spike rule is kernel-independent, so the full
    // 90-day kernel (q_wrtds_local's 14.6 s) is not paid twice per
    // bench pass while the buster arithmetic stays exactly oracled.
    "q_buster_check" ->
      (s"WITH loc AS (\n${wrtdsLocalOracleSql(30.0, "WHERE user_id % 2 = 0")}\n)" +
        """, med AS (
          |  SELECT user_id, median(l2_resid) AS rmed
          |  FROM loc WHERE l2_resid IS NOT NULL GROUP BY user_id
          |), mad AS (
          |  SELECT l.user_id, median(abs(l.l2_resid - m.rmed)) AS rmad
          |  FROM loc l JOIN med m USING (user_id)
          |  WHERE l.l2_resid IS NOT NULL GROUP BY l.user_id
          |), z AS (
          |  SELECT l.user_id, l.l2_resid,
          |         (l.l2_resid - m.rmed) / (1.4826 * d.rmad + 1e-9) AS zv
          |  FROM loc l LEFT JOIN med m USING (user_id)
          |            LEFT JOIN mad d USING (user_id)
          |)
          |SELECT user_id,
          |       CAST(count(l2_resid) AS BIGINT) AS n_resid,
          |       CAST(COALESCE(SUM(CASE WHEN abs(zv) >= 4.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_spikes,
          |       round(max(abs(zv)), 6) AS max_abs_z
          |FROM z GROUP BY user_id""".stripMargin),

    // q_wrtds semi-oracle: exact structural counts (the support
    // predicate mirrors the engine's IEEE shapes — square vs the
    // ln-1000 literal, never exp) + in-band assertions TRUE.
    "q_wrtds_check" ->
      (seriesCte +
        """, b AS (
          |  SELECT user_id, value, epoch_us(ts) AS us,
          |         min(epoch_us(ts)) OVER (PARTITION BY user_id) AS mnus
          |  FROM dd
          |), t AS (
          |  SELECT user_id, us, value, (us - mnus) / 86400000000.0 AS t FROM b
          |), sup AS (
          |  SELECT i.user_id, i.us, count(*) AS cnt
          |  FROM t i JOIN t j ON i.user_id = j.user_id
          |   AND i.value IS NOT NULL AND j.value IS NOT NULL
          |   AND ((j.t - i.t) / 90.0) * ((j.t - i.t) / 90.0) < 6.907755278982137
          |  GROUP BY 1, 2
          |)
          |SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM dd) AS n_rows,
          |  (SELECT CAST(count(value) AS BIGINT) FROM dd) AS n_val,
          |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM dd) AS n_series,
          |  (SELECT CAST(count(*) AS BIGINT) FROM sup WHERE cnt >= 30) AS n_support,
          |  TRUE AS pred_cov_ok, TRUE AS resid_exact_ok,
          |  TRUE AS resid_rms_ok""".stripMargin),

    "q_dedup_minhash" -> {
      // Kirsch-Mitzenmacher double hashing mirrored from the engine:
      // one md5 of the shingle-hash string -> (h1, h2); sig_i = min(h1
      // + i*h2); band key = arithmetic mix of the row signatures
      val sigs = (0 until 12).map(i =>
        s"min(h1 + $i * h2) AS sig_$i").mkString(",\n         ")
      val bandRows = (0 until 6).map { b =>
        val Seq(p0, p1) = (0 until 2).map(r => s"sig_${b * 2 + r}")
        s"SELECT doc_id, $b AS band, xor(($p0 % ${1L << 61}) * 2, $p1) AS key FROM sg"
      }.mkString("\n  UNION ALL ")
      shingleCte(2) +
        s""", shh AS (
           |  SELECT doc_id,
           |         md5(CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS VARCHAR)) AS hex
           |  FROM sh
           |), sh2 AS (
           |  SELECT doc_id,
           |         CAST(('0x' || substr(hex, 1, 15)) AS BIGINT) AS h1,
           |         CAST(('0x' || substr(hex, 16, 11)) AS BIGINT) AS h2
           |  FROM shh
           |), sg AS (
           |  SELECT doc_id,
           |         $sigs
           |  FROM sh2 GROUP BY doc_id
           |), bk AS (
           |  $bandRows
           |), cd AS (
           |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
           |), sz AS (
           |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
           |), iv AS (
           |  SELECT cd.id_a, cd.id_b, count(*) AS inter
           |  FROM cd JOIN sh a ON cd.id_a = a.doc_id
           |          JOIN sh b ON cd.id_b = b.doc_id AND a.shingle = b.shingle
           |  GROUP BY cd.id_a, cd.id_b
           |)
           |SELECT iv.id_a, iv.id_b,
           |       round(iv.inter * 1.0 / (sa.n + sb.n - iv.inter), 6) AS jaccard
           |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
           |WHERE iv.inter * 1.0 / (sa.n + sb.n - iv.inter) >= 0.5""".stripMargin
    },

    "q_dedup_simhash" ->
      (s"WITH $simhashCteBody\n" +
        """SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
          |FROM cd WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin),

    // the capped twin replays the df prune itself: per-(chunk, value)
    // counts over ch, keys over the cap dropped before the self-join
    // (cd — the uncapped candidate table — is simply left unused)
    "q_dedup_simhash_capped" ->
      (s"WITH $simhashCteBody, cdf AS (\n" +
        s"""  SELECT c, v, count(*) AS df FROM ch GROUP BY c, v
           |), chc AS (
           |  SELECT ch.doc_id, ch.simhash, ch.c, ch.v
           |  FROM ch JOIN cdf USING (c, v) WHERE cdf.df <= $SimhashMaxChunkDf
           |), cdc AS (
           |  SELECT DISTINCT x.doc_id AS id_a, x.simhash AS ha,
           |                  y.doc_id AS id_b, y.simhash AS hb
           |  FROM chc x JOIN chc y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
           |)
           |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
           |FROM cdc WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin),

    // connected components over the simhash pair graph: min reachable
    // id per node via a recursive transitive closure (UNION dedups ->
    // terminates), mirroring the engine's min-label propagation.
    "q_dedup_clusters" ->
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        """  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |)
          |SELECT id AS doc_id, min(r) AS cluster_id, (min(r) = id) AS is_keeper
          |FROM reach GROUP BY id""".stripMargin),

    "q_novelty" ->
      (shingleCte(3) +
        """, dfq AS (
          |  SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle
          |), per AS (
          |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |         CAST(SUM(CASE WHEN dfq.dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          |  FROM sh JOIN dfq USING (shingle) GROUP BY sh.doc_id
          |)
          |SELECT d.doc_id,
          |       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
          |       CAST(coalesce(per.n_novel, 0) AS BIGINT) AS n_novel,
          |       CASE WHEN coalesce(per.n_grams, 0) > 0
          |            THEN per.n_novel * 1.0 / per.n_grams END AS novelty
          |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin),

    // near-dup families via the q_dedup_clusters recursive closure,
    // routed by the same family-id hash as q_split_safe
    "q_split_safe_near" ->
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        """  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |), cl AS (
          |  SELECT id AS doc_id, min(r) AS family_id FROM reach GROUP BY id
          |), h AS (
          |  SELECT doc_id, family_id,
          |         CAST(CAST(('0x' || substr(md5(CAST(family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket
          |  FROM cl
          |)
          |SELECT doc_id, family_id, bucket,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM h""".stripMargin),

    // frozen-family incremental split: known-side (doc_id % 4 <> 0)
    // families via the recursive closure over known-only pairs; batch
    // components over batch-only pairs; batch↔known matches off the
    // same chunk-candidate table (cd holds ALL chunk-sharing pairs,
    // filtered by side); a component inherits the min matched known
    // family, else mints its own min-id family. Same family-id hash
    // routing as q_split_safe / q_split_safe_near.
    "q_split_safe_incr" ->
      (s"WITH RECURSIVE $simhashCteBody, $incrFamilyCtes, h AS (\n" +
        """  SELECT asg.doc_id, asg.family_id, asg.is_new_family, fp.simhash,
          |         CAST(CAST(('0x' || substr(md5(CAST(asg.family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket
          |  FROM asg LEFT JOIN fp ON fp.doc_id = asg.doc_id
          |)
          |SELECT doc_id, family_id, is_new_family, simhash, bucket,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM h""".stripMargin),

    // the incremental curation verdict driver-checked end to end: the
    // SAME frozen-family chain as q_split_safe_incr (incrFamilyCtes,
    // one definition) plus the SAME gate CTEs as q_corpus_filter /
    // q_curation_e2e (qualityLangGateCtes) — keeper = founder,
    // NULL-text batch docs get explicit failing gate bits.
    "q_curation_incr" ->
      (s"WITH RECURSIVE $simhashCteBody, $incrFamilyCtes, $qualityLangGateCtes, f AS (\n" +
        """  SELECT asg.doc_id, asg.family_id,
          |         coalesce(l.lang_ok, FALSE) AS lang_ok,
          |         coalesce(q.quality_ok, FALSE) AS quality_ok,
          |         asg.doc_id = asg.family_id AS is_keeper,
          |         CAST(CAST(('0x' || substr(md5(CAST(asg.family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket,
          |         fp.simhash
          |  FROM asg LEFT JOIN q USING (doc_id) LEFT JOIN l USING (doc_id)
          |       LEFT JOIN fp ON fp.doc_id = asg.doc_id
          |)
          |SELECT doc_id, family_id, lang_ok, quality_ok, is_keeper,
          |       is_keeper AND quality_ok AND lang_ok AS keep,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split,
          |       simhash
          |FROM f""".stripMargin),

    "q_embed_pairs" ->
      (normCte +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), p AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |         ${safeCosSql(dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} AS cos0
           |  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |)
           |SELECT id_a, id_b, round(cos0, 6) AS cosine FROM p WHERE cos0 >= 0.2""".stripMargin),

    // components over the cosine-pair graph: same recursive closure as
    // q_dedup_clusters, over the q_embed_pairs generator (pair set
    // already proven hash-exact, closure is integer-domain).
    "q_embed_clusters" ->
      (normCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), pr AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |  WHERE ${safeCosSql(dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} >= 0.2
           |), e AS (
           |  SELECT id_a AS a, id_b AS b FROM pr
           |  UNION ALL SELECT id_b, id_a FROM pr
           |), reach(id, r) AS (
           |  SELECT vec_id, vec_id FROM embeddings
           |  UNION
           |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
           |)
           |SELECT id AS vec_id, min(r) AS cluster_id, (min(r) = id) AS is_keeper
           |FROM reach GROUP BY id""".stripMargin),

    // margin mining replay: both kNN directions by raw-cosine rank,
    // 6-dp candidate cosines summed in exact DECIMAL(38,6), one
    // double conversion in the denominator, margin top-1 per source
    "q_margin_mine" ->
      (marginPoolsCte(4) + ", " +
        marginChainCtes("b", lsh = false, nk = 4, bits = 4, minMargin = 1.2) +
        "\nSELECT src_id, tgt_id, cosine, round(marg, 6) AS margin FROM mmb"),

    "q_margin_mine_lsh" ->
      (marginPoolsCte(4) + ", " +
        marginChainCtes("l", lsh = true, nk = 4, bits = 4, minMargin = 1.2) +
        "\nSELECT src_id, tgt_id, cosine, round(marg, 6) AS margin FROM mml"),

    "q_margin_mine_recall" ->
      (marginPoolsCte(4) + ", " +
        marginChainCtes("b", lsh = false, nk = 4, bits = 4, minMargin = 1.2) +
        ", " + marginChainCtes("l", lsh = true, nk = 4, bits = 4, minMargin = 1.2) +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_brute,
          |       CAST(COALESCE(SUM(CASE WHEN l.tgt_id = b.tgt_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_agree,
          |       (CAST(COALESCE(SUM(CASE WHEN l.tgt_id = b.tgt_id THEN 1 ELSE 0 END), 0) AS BIGINT) * 100
          |          >= CAST(count(*) AS BIGINT) * 40) AS agree_ok
          |FROM mmb b LEFT JOIN mml l ON b.src_id = l.src_id""".stripMargin),

    // IVF agreement semi-oracle: the brute margin count is exact SQL,
    // agree_ok is the in-band bound assertion (the annRecallOracleSql
    // pattern; the quantizer itself is strictly oracled in q_ann_ivf)
    "q_margin_mine_ivf_recall" ->
      (marginPoolsCte(4) + ", " +
        marginChainCtes("b", lsh = false, nk = 4, bits = 4, minMargin = 1.2) +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_brute, TRUE AS agree_ok
          |FROM mmb""".stripMargin),

    "q_knn_label" ->
      (s"""WITH n AS (
         |  SELECT vec_id, label, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |)""".stripMargin +
        s""", u AS (SELECT vec_id, embedding, nrm FROM n WHERE label >= 2
           |), l AS (SELECT vec_id, embedding, nrm, label FROM n WHERE label < 2
           |), p AS (
           |  SELECT u.vec_id AS uid, l.vec_id AS lid, l.label AS lab,
           |         ${safeCosSql(dotSql("u.embedding", "l.embedding"), "u.nrm * l.nrm")} AS cos0
           |  FROM u, l
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY uid ORDER BY cos0 DESC, lid ASC) AS rk FROM p
           |), v AS (
           |  SELECT uid, lab, count(*) AS nv FROM r WHERE rk <= 5 GROUP BY uid, lab
           |), w2 AS (
           |  SELECT *, row_number() OVER (PARTITION BY uid ORDER BY nv DESC, lab ASC) AS vr FROM v
           |)
           |SELECT uid AS vec_id, lab AS label_pred, CAST(nv AS BIGINT) AS votes
           |FROM w2 WHERE vr = 1""".stripMargin),

    // same pinned-seed cell CTE as q_dedup_semantic; per-cell rank =
    // the verbatim priority formula (unit weight), NOT a bare
    // hash-asc sort — CAST(h+1 AS DOUBLE) can collide distinct
    // 60-bit hashes above 2^53, and only the identical formula
    // guarantees the identical tie-break.
    "q_cluster_sample" ->
      (semanticCellsCte(16) +
        s""", pr AS (
           |  SELECT vec_id, cell,
           |         CAST(1 AS DOUBLE) * 1.152921504606846976e18
           |           / CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) AS priority
           |  FROM cells
           |)
           |SELECT vec_id, cell, sample_rank FROM (
           |  SELECT vec_id, cell, CAST(row_number() OVER (PARTITION BY cell
           |    ORDER BY priority DESC, vec_id ASC) AS INT) AS sample_rank
           |  FROM pr
           |) WHERE sample_rank <= 10""".stripMargin),

    "q_dedup_semantic" ->
      (semanticCellsCte(16) +
        s""", pr AS (
           |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
           |  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
           |  JOIN n na ON na.vec_id = ca.vec_id
           |  JOIN n nb2 ON nb2.vec_id = cb.vec_id
           |  WHERE ${safeCosSql(dotSql("na.embedding", "nb2.embedding"), "na.nrm * nb2.nrm")} >= 0.35
           |), d AS (
           |  SELECT id_b, min(id_a) AS dup_of FROM pr GROUP BY id_b
           |)
           |SELECT c.vec_id, c.cell, d.dup_of, (d.dup_of IS NULL) AS keep
           |FROM cells c LEFT JOIN d ON d.id_b = c.vec_id""".stripMargin),

    "q_dedup_semantic_recall" ->
      (semanticCellsCte(16) +
        s""", tp AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM n a JOIN n b ON a.vec_id < b.vec_id
           |  WHERE ${safeCosSql(dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} >= 0.35
           |), tc AS (
           |  SELECT tp.id_a, tp.id_b, ca.cell AS cella, cb.cell AS cellb
           |  FROM tp JOIN cells ca ON ca.vec_id = tp.id_a
           |          JOIN cells cb ON cb.vec_id = tp.id_b
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_true,
           |       CAST(COALESCE(SUM(CASE WHEN cella = cellb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_caught,
           |       (CAST(COALESCE(SUM(CASE WHEN cella = cellb THEN 1 ELSE 0 END), 0) AS BIGINT) * 100
           |          >= CAST(count(*) AS BIGINT) * 10) AS recall_ok
           |FROM tc""".stripMargin),

    "q_ann_brute" ->
      (normCte +
        s""", p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |)
           |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rk AS INT) AS rank
           |FROM r WHERE rk <= 5""".stripMargin),

    // the brute top-5 structural counts are exact SQL; recall_ok is
    // the in-band bound assertion (one shared oracle for both recall
    // semi-oracles — see annRecallOracleSql)
    // the full IVF / PQ chains INCLUDING quantizer training: the
    // deterministic driver-side Lloyd replays in unrolled SQL (the
    // q_bpe_train pattern for floats — see lloydCtes), so the two
    // long-declared no-oracle contracts flip strict
    "q_ann_ivf" -> ivfOracleSql,
    "q_ann_pq" -> pqOracleSql,

    "q_ann_ivf_recall" -> annRecallOracleSql,
    "q_ann_pq_recall" -> annRecallOracleSql,
    "q_rproj_recall" -> annRecallOracleSql,

    // JL projection replay: the SAME driver-computed ±1.0 literals
    // the Spark plan bakes in, fold order = graft_dot's.
    "q_rproj" ->
      (s"""WITH s(k, sv) AS (VALUES
         |         $rprojSignsSqlValues)
         |SELECT e.vec_id, s.k,
         |       list_sum(list_transform(generate_series(1, $RprojInDims),
         |                               i -> CAST(e.embedding[i] AS DOUBLE) * sv[i])) AS y
         |FROM embeddings e CROSS JOIN s""".stripMargin),

    // retrieval stage ≡ q_ann_brute at k=20; rerank score mirrors the
    // Spark expression tree: round6(cos)·0.8 + (max single-dim
    // interaction / norms)·0.2, re-ranked (score desc, vec_id asc)
    "q_ann_rerank" ->
      (normCte +
        s""", p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |), cand AS (
           |  SELECT query_id, vec_id, round(cos0, 6) AS retrieval_cosine
           |  FROM r WHERE rk <= 20
           |), sc AS (
           |  SELECT cand.query_id, cand.vec_id, cand.retrieval_cosine,
           |         cand.retrieval_cosine * 0.8 +
           |         (CASE WHEN q.nrm * c.nrm > 0 THEN
           |            list_max(list_transform(generate_series(1, len(q.embedding)),
           |              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
           |            / (q.nrm * c.nrm) ELSE -2.0 END) * 0.2 AS score
           |  FROM cand JOIN n q ON cand.query_id = q.vec_id
           |            JOIN n c ON cand.vec_id = c.vec_id
           |), rr AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk FROM sc
           |)
           |SELECT query_id, vec_id, retrieval_cosine,
           |       round(score, 6) AS rerank_score, CAST(rk AS INT) AS rank
           |FROM rr WHERE rk <= 5""".stripMargin),

    "q_ann_lsh" ->
      (normCte +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM nb q JOIN nb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |)
           |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rk AS INT) AS rank
           |FROM r WHERE rk <= 5""".stripMargin),

    "q_decontaminate" ->
      (shingleCte(3) +
        """, hh AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
          |), tr AS (SELECT DISTINCT doc_id, h FROM hh WHERE doc_id % 29 <> 0),
          |   be AS (SELECT DISTINCT doc_id AS bench_id, h FROM hh WHERE doc_id % 29 = 0)
          |SELECT tr.doc_id, be.bench_id, count(*) AS shared
          |FROM tr JOIN be ON tr.h = be.h
          |GROUP BY tr.doc_id, be.bench_id
          |HAVING count(*) >= 2""".stripMargin),

    // the bloom-prefiltered variant is EXACT (false positives only
    // waste verify probes) — same oracle as q_decontaminate
    "q_decontaminate_bloom" ->
      (shingleCte(3) +
        """, hh AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
          |), tr AS (SELECT DISTINCT doc_id, h FROM hh WHERE doc_id % 29 <> 0),
          |   be AS (SELECT DISTINCT doc_id AS bench_id, h FROM hh WHERE doc_id % 29 = 0)
          |SELECT tr.doc_id, be.bench_id, count(*) AS shared
          |FROM tr JOIN be ON tr.h = be.h
          |GROUP BY tr.doc_id, be.bench_id
          |HAVING count(*) >= 2""".stripMargin),

    "q_decontaminate_semantic" ->
      (normCte +
        s""", tb AS (
           |  SELECT t.vec_id AS train_id,
           |         ${safeCosSql(dotSql("t.embedding", "b.embedding"), "t.nrm * b.nrm")} AS cos0
           |  FROM n t JOIN n b
           |    ON t.vec_id % 29 <> 0 AND b.vec_id % 29 = 0
           |   AND t.vec_id <> b.vec_id
           |)
           |SELECT train_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
           |       round(max(cos0), 6) AS max_cos
           |FROM tb WHERE cos0 >= 0.3 GROUP BY train_id""".stripMargin),

    "q_source_stats" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_unique,
        |       round(1.0 - count(DISTINCT md5(lower(trim(text)))) * 1.0 / count(*), 6) AS dup_rate,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        |FROM documents GROUP BY source""".stripMargin,

    // integer-exact centroid cosine: 3-dp element quantization, all
    // sums/products BIGINT, one int->double conversion at the end
    "q_embed_drift" ->
      """WITH el AS (
        |  SELECT d.source, t.i AS dim,
        |         CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000.0, 0) AS BIGINT) AS iv
        |  FROM embeddings e
        |  JOIN documents d ON e.vec_id = d.doc_id,
        |       unnest(range(1, len(e.embedding) + 1)) AS t(i)
        |), bysrc AS (
        |  SELECT source, dim, CAST(sum(iv) AS BIGINT) AS sv,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM el GROUP BY 1, 2
        |), corpus AS (
        |  SELECT dim, CAST(sum(iv) AS BIGINT) AS sc FROM el GROUP BY 1
        |), agg AS (
        |  SELECT source, min(n) AS n_vecs,
        |         sum(CAST(sv AS HUGEINT) * sc) AS dot,
        |         sum(CAST(sv AS HUGEINT) * sv) AS ss,
        |         sum(CAST(sc AS HUGEINT) * sc) AS cc
        |  FROM bysrc JOIN corpus USING (dim) GROUP BY 1
        |)
        |SELECT source, n_vecs,
        |       CASE WHEN ss > 0 AND cc > 0 THEN
        |         round(CAST(dot AS DOUBLE) /
        |               (sqrt(CAST(ss AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))), 6)
        |       END AS drift_cos
        |FROM agg""".stripMargin,

    "q_ann_lsh_probe" -> {
      val probeList = ("bucket" +: (0 until 8).map(j =>
        s"xor(bucket, ${1L << j})")).mkString(", ")
      (normCte +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), qp AS (
           |  SELECT vec_id, embedding, nrm, unnest([$probeList]) AS probe
           |  FROM nb WHERE vec_id < 10
           |), p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM qp q JOIN nb c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |)
           |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rk AS INT) AS rank
           |FROM r WHERE rk <= 5""".stripMargin)
    },

    "q_sample_stratified" ->
      """SELECT doc_id, lang AS stratum,
        |       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS INT) AS bucket,
        |       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS INT)
        |         < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END) AS kept
        |FROM documents""".stripMargin,

    "q_topk_quality" ->
      """WITH wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents
        |), a AS (
        |  SELECT doc_id, count(*) AS wc, count(DISTINCT w) AS dw,
        |         sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS sc
        |  FROM wd GROUP BY doc_id
        |), q AS (
        |  SELECT doc_id,
        |         round((least(CAST(wc AS DOUBLE) / 100.0, 1.0)
        |               + least(CAST(sc AS DOUBLE) / wc * 5.0, 1.0)
        |               + least(CAST(dw AS DOUBLE) / wc * 2.0, 1.0)) / 3.0, 6) AS quality_score
        |  FROM a
        |), j AS (
        |  SELECT d.doc_id, d.lang, q.quality_score FROM documents d
        |  JOIN q ON d.doc_id = q.doc_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id ASC) AS rk
        |  FROM j
        |)
        |SELECT doc_id, lang, quality_score, CAST(rk AS INT) AS rank
        |FROM r WHERE rk <= 5""".stripMargin,

    "q_embed_quant" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings
        |), sc AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN maxabs > 0 THEN 127.0 / maxabs END AS s FROM m
        |), qq AS (
        |  SELECT vec_id, embedding, s,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * s) AS INT)) AS q
        |  FROM sc
        |)
        |SELECT vec_id, round(s, 6) AS scale, array_to_string(q, ',') AS q,
        |       round(list_sum(list_transform(generate_series(1, len(embedding)),
        |         i -> (CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) / s)
        |            * (CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) / s)))
        |         / len(embedding), 9) AS mse
        |FROM qq""".stripMargin,

    "q_pack_batches" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 16 AS shard,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, shard, n_tokens,
        |       CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS batch
        |FROM c""".stripMargin,

    "q_pack_bucketed" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 16 AS shard,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT *, CAST(ntile(4) OVER (PARTITION BY shard
        |           ORDER BY n_tokens, doc_id) AS INT) AS len_bucket
        |  FROM t
        |), c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard, len_bucket
        |           ORDER BY n_tokens, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b
        |)
        |SELECT doc_id, shard, len_bucket, n_tokens,
        |       CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS batch
        |FROM c""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS tokens_ws,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS tokens_re
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      """WITH wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents
        |), a AS (
        |  SELECT doc_id, count(*) AS word_count, count(DISTINCT w) AS distinct_words,
        |         avg(length(w)) AS avg_word_len,
        |         sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS stop_count
        |  FROM wd GROUP BY doc_id
        |)
        |SELECT doc_id, word_count, distinct_words,
        |       round(avg_word_len, 6) AS avg_word_len,
        |       round(CAST(stop_count AS DOUBLE) / word_count, 6) AS stop_ratio,
        |       round(CAST(distinct_words AS DOUBLE) / word_count, 6) AS diversity,
        |       round((least(CAST(word_count AS DOUBLE) / 100.0, 1.0)
        |             + least(CAST(stop_count AS DOUBLE) / word_count * 5.0, 1.0)
        |             + least(CAST(distinct_words AS DOUBLE) / word_count * 2.0, 1.0)) / 3.0, 6) AS quality_score
        |FROM a""".stripMargin,

    "q_lang_id" ->
      """WITH wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents
        |), a AS (
        |  SELECT doc_id, count(*) AS n,
        |         sum(CASE WHEN w IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS h_de,
        |         sum(CASE WHEN w IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS h_en,
        |         sum(CASE WHEN w IN ('el','la','de','y','es') THEN 1 ELSE 0 END) AS h_es,
        |         sum(CASE WHEN w IN ('le','la','les','et','est') THEN 1 ELSE 0 END) AS h_fr
        |  FROM wd GROUP BY doc_id
        |), s AS (
        |  SELECT doc_id,
        |         CAST(h_de AS DOUBLE)/n AS s_de, CAST(h_en AS DOUBLE)/n AS s_en,
        |         CAST(h_es AS DOUBLE)/n AS s_es, CAST(h_fr AS DOUBLE)/n AS s_fr,
        |         CAST(0 AS DOUBLE)/n AS s_zh
        |  FROM a
        |), s1 AS (
        |  SELECT doc_id, s_es, s_fr, s_zh,
        |         CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END AS bl,
        |         CASE WHEN s_en > s_de THEN s_en ELSE s_de END AS bs
        |  FROM s
        |), s2 AS (
        |  SELECT doc_id, s_fr, s_zh,
        |         CASE WHEN s_es > bs THEN 'es' ELSE bl END AS bl,
        |         CASE WHEN s_es > bs THEN s_es ELSE bs END AS bs
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, s_zh,
        |         CASE WHEN s_fr > bs THEN 'fr' ELSE bl END AS bl,
        |         CASE WHEN s_fr > bs THEN s_fr ELSE bs END AS bs
        |  FROM s2
        |)
        |SELECT doc_id,
        |       CASE WHEN s_zh > bs THEN 'zh' ELSE bl END AS lang_pred,
        |       round(CASE WHEN s_zh > bs THEN s_zh ELSE bs END, 6) AS lang_score
        |FROM s3""".stripMargin,

    // BM25: constants cast to DOUBLE so DuckDB's decimal literals
    // don't diverge from Spark's IEEE arithmetic; per-term scores
    // round to 9 and sum as DECIMAL(38,9) (order-free), rank compares
    // the exact decimal with doc-id ties.
    "q_bm25" -> bm25OracleSql,

    // identical scoring from the maintained postings index — the
    // agreement proof IS the shared oracle (and the shared hash)
    "q_bm25_indexed" -> bm25OracleSql,

    "q_psi_drift" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS window_id,
        |         CAST(least(greatest(floor((value - 0.0) / 50.0), 0.0), 9.0)
        |              AS INT) AS bin
        |  FROM events WHERE value IS NOT NULL
        |), c AS (
        |  SELECT event_type, window_id, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT event_type, window_id, CAST(sum(c) AS BIGINT) AS n
        |  FROM c GROUP BY 1, 2
        |), dense AS (
        |  SELECT w.event_type, w.window_id, b.bin,
        |         coalesce(c.c, 0) AS c, w.n
        |  FROM w CROSS JOIN (SELECT unnest(range(10)) AS bin) b
        |  LEFT JOIN c ON c.event_type = w.event_type
        |             AND c.window_id = w.window_id AND c.bin = b.bin
        |), j AS (
        |  SELECT cur.event_type, cur.window_id,
        |         prev.n AS n_prev, cur.n AS n_cur,
        |         CAST(round(
        |           ((cur.c + 0.5) / (cur.n + 0.5 * 10) -
        |            (prev.c + 0.5) / (prev.n + 0.5 * 10)) *
        |           ln(((cur.c + 0.5) / (cur.n + 0.5 * 10)) /
        |              ((prev.c + 0.5) / (prev.n + 0.5 * 10))), 9)
        |           AS DECIMAL(38,9)) AS t
        |  FROM dense cur JOIN dense prev
        |    ON prev.event_type = cur.event_type
        |   AND prev.window_id = cur.window_id - 1
        |   AND prev.bin = cur.bin
        |)
        |SELECT event_type, window_id, CAST(min(n_prev) AS BIGINT) AS n_prev,
        |       CAST(min(n_cur) AS BIGINT) AS n_cur,
        |       CAST(round(sum(t), 6) AS DOUBLE) AS psi
        |FROM j GROUP BY 1, 2""".stripMargin,

    // identical index/scoring CTEs as q_bm25; the positive pair is
    // (query_id = doc_id) by construction of the query set.
    "q_hard_negatives" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), dt0 AS (
        |  SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM arr
        |), dt AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM dt0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY 1
        |), perdoc AS (
        |  SELECT doc_id, any_value(dl) AS dl FROM dt GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         sum(dl) * CAST(1.0 AS DOUBLE) / count(*) AS avgdl
        |  FROM perdoc
        |), q0 AS (
        |  SELECT doc_id AS query_id, unnest(ws[1:4]) AS term
        |  FROM arr WHERE doc_id < 5
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM q0
        |), scored AS (
        |  SELECT qt.query_id, dt.doc_id,
        |         CAST(round(
        |           ln(CAST(1.0 AS DOUBLE) +
        |              (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) /
        |              (f.df + CAST(0.5 AS DOUBLE))) *
        |           (dt.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |            (dt.tf + CAST(1.2 AS DOUBLE) *
        |             (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |              CAST(0.75 AS DOUBLE) * dt.dl / s.avgdl))), 9)
        |           AS DECIMAL(38,9)) AS ts
        |  FROM qt JOIN dt USING (term) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s
        |), agg AS (
        |  SELECT query_id, doc_id, sum(ts) AS sq
        |  FROM scored GROUP BY 1, 2
        |), r AS (
        |  SELECT query_id, doc_id, sq,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY sq DESC, doc_id ASC) AS INT) AS rank
        |  FROM agg
        |), neg AS (
        |  SELECT query_id, doc_id, sq,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY rank ASC) AS INT) AS neg_rank
        |  FROM r WHERE rank <= 10 AND doc_id <> query_id
        |)
        |SELECT query_id, doc_id, neg_rank,
        |       round(CAST(sq AS DOUBLE), 6) AS score
        |FROM neg WHERE neg_rank <= 5""".stripMargin,

    "q_bm25_capped" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), dt0 AS (
        |  SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM arr
        |), dt AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM dt0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY 1
        |), perdoc AS (
        |  SELECT doc_id, any_value(dl) AS dl FROM dt GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         sum(dl) * CAST(1.0 AS DOUBLE) / count(*) AS avgdl
        |  FROM perdoc
        |), q0 AS (
        |  SELECT doc_id AS query_id, unnest(ws[1:4]) AS term
        |  FROM arr WHERE doc_id < 5
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM q0
        |), cand AS (
        |  SELECT DISTINCT qt.query_id, dt.doc_id
        |  FROM qt
        |  JOIN dfreq f ON f.term = qt.term
        |  CROSS JOIN stats s
        |  JOIN dt ON dt.term = qt.term
        |  WHERE f.df <= 0.77 * s.n_docs
        |), scored AS (
        |  SELECT qt.query_id, dt.doc_id,
        |         CAST(round(
        |           ln(CAST(1.0 AS DOUBLE) +
        |              (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) /
        |              (f.df + CAST(0.5 AS DOUBLE))) *
        |           (dt.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |            (dt.tf + CAST(1.2 AS DOUBLE) *
        |             (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |              CAST(0.75 AS DOUBLE) * dt.dl / s.avgdl))), 9)
        |           AS DECIMAL(38,9)) AS ts
        |  FROM cand
        |  JOIN qt ON qt.query_id = cand.query_id
        |  JOIN dt ON dt.doc_id = cand.doc_id AND dt.term = qt.term
        |  JOIN dfreq f ON f.term = qt.term
        |  CROSS JOIN stats s
        |), agg AS (
        |  SELECT query_id, doc_id, sum(ts) AS sq, count(*) AS n_matched
        |  FROM scored GROUP BY 1, 2
        |), r AS (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY sq DESC, doc_id ASC) AS INT) AS rank,
        |         n_matched, round(CAST(sq AS DOUBLE), 6) AS score
        |  FROM agg
        |)
        |SELECT query_id, doc_id, rank, n_matched, score
        |FROM r WHERE rank <= 10""".stripMargin,

    // trained quality classifier: the oracle re-trains the identical
    // integer fixed-point IRLS trajectory (6 unrolled iterations) and
    // emits the 33-row model. MATERIALIZED CTEs keep it linear.
    "q_quality_train" ->
      (qualityClfCtes(QualityClfDims, QualityClfIters) +
        s"""
           |SELECT CAST(i - 1 AS INT) AS feature_idx, wl[CAST(i AS INT)] AS weight_micro
           |FROM qw$QualityClfIters, unnest(generate_series(1, ${QualityClfDims + 1})) AS t(i)""".stripMargin),

    "q_quality_apply" ->
      (qualityClfCtes(QualityClfDims, QualityClfIters) +
        qualityClfScoreCte(QualityClfDims, QualityClfIters) +
        s"""
           |SELECT z.doc_id, ${qualityClfPqSql("z.zm")} AS score_ppm,
           |       (z.zm >= 0) AS pred, y.y AS y_heur
           |FROM qzf z JOIN qya y USING (doc_id)""".stripMargin),

    "q_quality_eval" ->
      (qualityClfCtes(QualityClfDims, QualityClfIters) +
        qualityClfScoreCte(QualityClfDims, QualityClfIters) +
        """, qpr AS (
          |  SELECT (z.zm >= 0) AS pred, y.y
          |  FROM qzf z JOIN qya y USING (doc_id)
          |  WHERE z.doc_id % 3 <> 0
          |)
          |SELECT CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |       CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |       CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
          |       CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |       (CAST(sum(CASE WHEN pred = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) >
          |        greatest(CAST(sum(y) AS BIGINT), CAST(count(*) - sum(y) AS BIGINT))) AS beats_majority
          |FROM qpr""".stripMargin),

    // bigram-LM bits-per-token; every FP step mirrors the Scala plan
    // (x * 1.0 / y shapes, literal 0.9 / (1.0 - 0.9), per-term
    // round-to-9 then exact DECIMAL(38,9) sum) so the mean is
    // order-free and bit-identical cross-engine.
    "q_lm_score" ->
      (s"""WITH ${lmCtes("")}
         |SELECT d.doc_id,
         |       coalesce(a.n_tokens, 0) AS n_tokens,
         |       coalesce(a.n_oov, 0) AS n_oov,
         |       round(CAST(a.sb AS DOUBLE) / a.n_tokens, 6) AS bits_per_token
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),

    "q_text_clean" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |           '<[^>]*>', ' ', 'g'),
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |           'https?://[^\s]+', '<URL>', 'g'),
        |           '\s+', ' ', 'g')) AS clean_text
        |  FROM documents
        |)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars_clean,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls
        |FROM c""".stripMargin,

    // the e2e composite reuses the shared simhash chain's wd (its
    // definition is byte-identical to q_corpus_filter's) for the
    // quality/language aggregates, the q_split_safe_near family
    // closure for keeper+split, and q_corpus_filter's gate CTEs
    // verbatim — one definition per piece, three green standalone
    // oracles composed.
    "q_curation_e2e" ->
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        s"""  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |), cl AS (
          |  SELECT id AS doc_id, min(r) AS family_id FROM reach GROUP BY id
          |), sb AS (
          |  SELECT doc_id, family_id,
          |         CAST(CAST(('0x' || substr(md5(CAST(family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket
          |  FROM cl
          |), $qualityLangGateCtes
          |SELECT sb.doc_id, sb.family_id,
          |       coalesce(l.lang_ok, FALSE) AS lang_ok,
          |       coalesce(q.quality_ok, FALSE) AS quality_ok,
          |       (sb.doc_id = sb.family_id) AS is_keeper,
          |       ((sb.doc_id = sb.family_id) AND coalesce(q.quality_ok, FALSE)
          |         AND coalesce(l.lang_ok, FALSE)) AS keep,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM sb LEFT JOIN q ON sb.doc_id = q.doc_id LEFT JOIN l ON sb.doc_id = l.doc_id""".stripMargin),

    // LEFT JOIN + coalesce(FALSE) mirrors corpusFilter's NULL-text
    // contract: a doc with no token rows still gets a (failing)
    // verdict instead of vanishing.
    "q_corpus_filter" ->
      (s"""WITH h AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS th FROM documents
        |), k AS (
        |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY th) AS is_keeper FROM h
        |), wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents
        |), $qualityLangGateCtes
        |SELECT k.doc_id, k.is_keeper,
        |       coalesce(q.quality_ok, FALSE) AS quality_ok,
        |       coalesce(l.lang_ok, FALSE) AS lang_ok,
        |       (k.is_keeper AND coalesce(q.quality_ok, FALSE)
        |         AND coalesce(l.lang_ok, FALSE)) AS keep
        |FROM k LEFT JOIN q ON k.doc_id = q.doc_id LEFT JOIN l ON k.doc_id = l.doc_id""".stripMargin),

    // the calibrated composite: the lm / repetition / pii / domain
    // CTEs are the same bodies as their standalone green oracles
    // (renamed k*/r*/p*/d* to avoid collisions); the combiner mirrors
    // TextStats.keepScore's IEEE shapes exactly.
    "q_keep_score" ->
      (s"""WITH ${lmCtes("k")}, klm AS (
         |  SELECT doc_id, round(CAST(sb AS DOUBLE) / n_tokens, 6) AS bits_per_token
         |  FROM kagg
         |), rw AS (
         |  SELECT doc_id, unnest(ws) AS w FROM karr WHERE len(ws) > 0
         |), rwc AS (
         |  SELECT doc_id, w, count(*) AS c FROM rw GROUP BY 1, 2
         |), krep AS (
         |  SELECT doc_id, round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_word_frac
         |  FROM rwc GROUP BY doc_id
         |), ${piiSeedCte("pd")}, ${piiChainCtes("pd", "p")}, kpii AS (
         |  SELECT doc_id,
         |       $piiCountCols
         |  FROM ps3
         |), ${domainSeedCte("dd2")}, kdom AS (
         |  SELECT doc_id,
         |         len(list_intersect(
         |           regexp_extract_all(lower(text), 'https?://([a-zA-Z0-9.-]+)', 1),
         |           ['bad0.spam.io', 'bad1.spam.io'])) > 0 AS blocked
         |  FROM dd2
         |), ks AS (
         |  SELECT d.doc_id,
         |         CASE WHEN klm.bits_per_token IS NULL THEN CAST(0.0 AS DOUBLE)
         |              ELSE greatest(CAST(0.0 AS DOUBLE),
         |                            1.0 - klm.bits_per_token / 16.0)
         |         END AS s_lm,
         |         CASE WHEN krep.dup_word_frac IS NULL THEN CAST(0.0 AS DOUBLE)
         |              ELSE 1.0 - krep.dup_word_frac END AS s_rep,
         |         CASE WHEN coalesce(kpii.n_emails, kpii.n_phones,
         |                            kpii.n_ips, kpii.n_id_runs) IS NULL
         |              THEN CAST(0.0 AS DOUBLE)
         |              ELSE 1.0 / (1.0 + CAST(coalesce(kpii.n_emails, 0)
         |                                     + coalesce(kpii.n_phones, 0)
         |                                     + coalesce(kpii.n_ips, 0)
         |                                     + coalesce(kpii.n_id_runs, 0)
         |                                     AS DOUBLE)) END AS s_pii,
         |         CASE WHEN kdom.blocked IS NULL THEN CAST(0.0 AS DOUBLE)
         |              WHEN kdom.blocked THEN CAST(0.0 AS DOUBLE)
         |              ELSE CAST(1.0 AS DOUBLE)
         |         END AS s_domain
         |  FROM documents d
         |  LEFT JOIN klm USING (doc_id)
         |  LEFT JOIN krep USING (doc_id)
         |  LEFT JOIN kpii USING (doc_id)
         |  LEFT JOIN kdom USING (doc_id)
         |)
         |SELECT doc_id, s_lm, s_rep, s_pii, s_domain,
         |       0.4 * s_lm + 0.3 * s_rep + 0.2 * s_pii + 0.1 * s_domain AS keep_score,
         |       (0.4 * s_lm + 0.3 * s_rep + 0.2 * s_pii + 0.1 * s_domain >= 0.5) AS keep
         |FROM ks""".stripMargin),

    // winnowing replay: packed (hash·2²⁰ + (2²⁰−1−pos)) values in
    // position order, per-window list min, distinct, decode
    "q_winnow" ->
      """WITH w0 AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents
        |), an AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         CAST(('0x' || substr(md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+3], ' ')), 1, 10)) AS BIGINT) AS h40
        |  FROM w0, unnest(range(1, greatest(len(ws) - 3, 0) + 1)) AS t(i)
        |), ar AS (
        |  SELECT doc_id,
        |         list(h40 * 1048576 + (1048575 - pos) ORDER BY pos) AS c
        |  FROM an GROUP BY doc_id
        |), sel AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(c) - 4, 1) + 1),
        |    i -> list_aggregate(c[CAST(i AS INT):CAST(i AS INT) + 4], 'min')))) AS v
        |  FROM ar
        |)
        |SELECT doc_id, CAST(1048575 - (v & 1048575) AS INT) AS pos,
        |       (v >> 20) AS fp
        |FROM sel""".stripMargin,

    // DuckDB's utf8proc nfc_normalize implements the same UAX #15 the
    // engine's java.text.Normalizer kernel does, so the NFC form is
    // exactly replayable; the dirty surface is rebuilt from the SAME
    // UnicodeSuffixes literals the Spark entry uses.
    "q_unicode_norm" ->
      (s"""WITH dirty AS (
         |  SELECT doc_id,
         |         text || list_extract([${UnicodeSuffixes.map(x => s"'$x'").mkString(", ")}],
         |                              CAST(doc_id % 4 AS INT) + 1) AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |       nfc_normalize(t) <> t AS changed,
         |       CAST(length(t) AS INT) AS len_raw,
         |       CAST(length(nfc_normalize(t)) AS INT) AS len_nfc,
         |       md5(nfc_normalize(t)) AS nfc_hash
         |FROM dirty""".stripMargin),

    "q_fingerprint" ->
      (shingleCte(3) +
        """, hh AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
          |), sel AS (
          |  SELECT doc_id, h FROM hh WHERE h % 4 = 0
          |)
          |SELECT doc_id, count(*) AS n_selected,
          |       md5(array_to_string(list_sort(list(CAST(h AS VARCHAR))), ',')) AS fingerprint
          |FROM sel GROUP BY doc_id""".stripMargin),

    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws)+1)) AS i
        |  FROM d WHERE len(ws) > 0
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2
        |), uni AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |         count(*) AS nd, max(c) AS tc
        |  FROM wc GROUP BY 1
        |), bp AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS bg
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |), bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bp GROUP BY 1, 2
        |), bt AS (
        |  SELECT doc_id, max(c) AS tb FROM bc GROUP BY 1
        |)
        |SELECT uni.doc_id, nw AS n_words, nd AS n_distinct_words,
        |       round(1.0 - nd * 1.0 / nw, 6) AS dup_word_frac,
        |       round(tc * 1.0 / nw, 6) AS top_word_frac,
        |       round(CASE WHEN nw >= 2 THEN tb * 1.0 / (nw - 1)
        |                  ELSE 0.0 END, 6) AS top_bigram_frac
        |FROM uni LEFT JOIN bt ON uni.doc_id = bt.doc_id""".stripMargin,

    "q_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, ((length(text)-1)//90)+1)) AS chunk_id
        |  FROM documents WHERE length(text) > 0
        |)
        |SELECT doc_id, chunk_id,
        |       1 + chunk_id*90 AS start_offset,
        |       substr(text, (1 + chunk_id*90)::BIGINT, 120) AS chunk_text
        |FROM c""".stripMargin,

    // CM sketch replay: same 60-bit md5 bucket hash of 'j:word', same
    // depth/width/topK constants as the Spark entry.
    "q_cms_check" ->
      (s"""WITH w AS (
         |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                            x -> x <> '')) AS word
         |  FROM documents
         |), exact AS (
         |  SELECT word, count(*) AS exact_cnt FROM w GROUP BY 1
         |  ORDER BY exact_cnt DESC, word ASC LIMIT $CmsTopK
         |), js AS (
         |  SELECT unnest(range($CmsDepth)) AS j
         |), cells AS (
         |  SELECT j,
         |         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || word), 1, 15)) AS BIGINT)
         |           % $CmsWidth AS bucket,
         |         count(*) AS cnt
         |  FROM w CROSS JOIN js GROUP BY 1, 2
         |), est AS (
         |  SELECT e.word, min(coalesce(c.cnt, 0)) AS est_cnt
         |  FROM exact e CROSS JOIN js
         |  LEFT JOIN cells c ON c.j = js.j
         |    AND c.bucket = CAST(('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || e.word), 1, 15)) AS BIGINT)
         |                     % $CmsWidth
         |  GROUP BY 1
         |)
         |SELECT e.word, e.exact_cnt, s.est_cnt,
         |       s.est_cnt - e.exact_cnt AS overestimate,
         |       s.est_cnt >= e.exact_cnt AS sound
         |FROM exact e JOIN est s USING (word)""".stripMargin),

    "q_vocab" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |)
        |SELECT word, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM w GROUP BY 1
        |ORDER BY n_occurrences DESC, word ASC LIMIT 100""".stripMargin,

    // FULL BPE-training replay (see bpeTrainCtes): every round's
    // argmax pair re-derived in DuckDB off the same vocab table,
    // union'd in rank order. Exhausted rounds contribute no row —
    // the same early-stop as trainBpe's `done`.
    "q_bpe_train" ->
      (bpeTrainCtes(BpeNumMerges) + "\n" +
        (1 to BpeNumMerges).map(k =>
          s"""SELECT $k AS rank, l AS "left", r AS "right", l || r AS merged, w AS weight FROM p$k""")
          .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n)")),

    "q_bpe_train_batched" ->
      (bpeBatchedCtes(BpeNumMerges, BpeBatchSize, BpeCandCap) + "\n" +
        s"""SELECT CAST(row_number() OVER (ORDER BY k ASC, ord ASC) AS INT) AS rank,
           |       l AS "left", r AS "right", l || r AS merged, w AS weight
           |FROM (${(1 to BpeNumMerges / BpeBatchSize).map(k =>
                s"SELECT $k AS k, l, r, w, ord FROM bs$k").mkString("\n  UNION ALL ")}) z""".stripMargin),

    // ENCODE replay: bpeTrainCtes' final vocab table already holds
    // every distinct word's symbols after all learned merges applied
    // in rank order (pinned equivalent to encodeBpe's
    // lowest-rank-first loop), so per-doc counts are one join back
    // onto the (doc, word) count table. Word width is UTF-8 bytes
    // (strlen ≡ octet_length), the one cross-engine-stable width.
    "q_bpe_encode" ->
      (bpeTrainCtes(BpeNumMerges) +
        s"""|, enc AS (SELECT word, CAST(len(syms) AS INT) AS n_toks FROM v$BpeNumMerges),
            |wd AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2)
            |SELECT doc_id,
            |       CAST(sum(cnt) AS BIGINT) AS n_words,
            |       CAST(sum(cnt * n_toks) AS BIGINT) AS n_bpe_tokens,
            |       CAST(sum(cnt * strlen(word)) AS BIGINT) AS n_bytes_tokenized
            |FROM wd JOIN enc USING (word)
            |GROUP BY doc_id""".stripMargin),

    // BPE semi-oracle: exact whitespace-token structural counts + the
    // in-band bound/soundness assertions TRUE. Word width is UTF-8
    // BYTES on both engines (Spark octet_length ≡ DuckDB strlen) —
    // code-unit/code-point counts diverge cross-engine on
    // supplementary-plane characters, byte length never does.
    "q_bpe_check" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS total_words,
        |       CAST(sum(strlen(word)) AS BIGINT) AS total_bytes,
        |       TRUE AS bpe_bounds_ok, TRUE AS merges_ok
        |FROM w""".stripMargin,

    // artifact round-trip companion: corpus structural counts exact,
    // artifact_matches asserted in-band (encode itself is the same
    // declared non-SQL contract as q_bpe_encode)
    "q_bpe_apply" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS total_words,
        |       CAST(sum(strlen(word)) AS BIGINT) AS total_bytes,
        |       TRUE AS artifact_matches
        |FROM w""".stripMargin,

    // exact phi-heavy-hitters: the sketch pass is lossless for the
    // threshold (supportPpm > 1e6/(capacity+1)), so plain exact SQL is
    // the oracle; the integer comparison avoids float phi arithmetic
    "q_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS token
        |  FROM documents
        |), t AS (SELECT count(*) AS total FROM w)
        |SELECT token, count(*) AS n_occurrences
        |FROM w, t GROUP BY token, t.total
        |HAVING count(*) * 1000000 >= t.total * 10000""".stripMargin,

    "q_vocab_bigrams" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws)+1)) AS i
        |  FROM d WHERE len(ws) > 0
        |), bp AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS bigram
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |)
        |SELECT bigram, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM bp GROUP BY 1
        |ORDER BY n_occurrences DESC, bigram ASC LIMIT 100""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |), s AS (
        |  SELECT user_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 21600000000
        |              THEN 1 ELSE 0 END AS opens
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), x AS (
        |  SELECT user_id, us,
        |         CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY us
        |                               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
        |           AS session_idx
        |  FROM s
        |)
        |SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us,
        |       count(*) AS n_events, max(us) - min(us) AS duration_us
        |FROM x GROUP BY user_id, session_idx""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
        |), s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
        |              OVER (PARTITION BY user_id) AS t0 FROM e
        |), s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND us > t0 THEN us END)
        |              OVER (PARTITION BY user_id) AS t1 FROM s1
        |), s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t1 THEN us END)
        |              OVER (PARTITION BY user_id) AS t2 FROM s2
        |)
        |SELECT user_id, min(t0) AS t_view_us, min(t1) AS t_click_us,
        |       min(t2) AS t_purchase_us,
        |       (CASE WHEN min(t0) IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END)
        |         AS stages_completed
        |FROM s3 GROUP BY user_id""".stripMargin,

    "q_asof" ->
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_us,
        |         round(value, 6) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS view_us,
        |         round(max(value), 6) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.purchase_us, l.purchase_value,
        |       r.view_us AS asof_view_us, r.view_value AS asof_view_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.purchase_us >= r.view_us""".stripMargin,

    "q_interval_join" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |), s AS (
        |  SELECT user_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 21600000000
        |              THEN 1 ELSE 0 END AS opens
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), x AS (
        |  SELECT user_id, us,
        |         CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY us
        |                               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
        |           AS session_idx
        |  FROM s
        |), sess AS (
        |  SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us
        |  FROM x GROUP BY user_id, session_idx
        |)
        |SELECT sess.user_id, sess.session_idx, sess.start_us, sess.end_us,
        |       count(*) AS n_matched
        |FROM sess JOIN e ON e.user_id = sess.user_id
        |                AND e.us BETWEEN sess.start_us AND sess.end_us
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q_latest" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |         round(value, 6) AS value
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT user_id, event_type, ts_us, event_id, value
        |FROM r WHERE rn = 1""".stripMargin,

    "q_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(30,2))) AS DOUBLE)
        |         AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(30,2))) AS DOUBLE)
        |         AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_containment" ->
      (shingleCte(2) +
        """, rare AS (
          |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 20
          |), ix AS (
          |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle
          |), cd AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |), sz AS (
          |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
          |), iv AS (
          |  SELECT cd.id_a, cd.id_b, count(*) AS inter
          |  FROM cd JOIN sh a ON cd.id_a = a.doc_id
          |          JOIN sh b ON cd.id_b = b.doc_id AND a.shingle = b.shingle
          |  GROUP BY cd.id_a, cd.id_b
          |)
          |SELECT iv.id_a, iv.id_b, iv.inter,
          |       round(iv.inter * 1.0 / least(sa.n, sb.n), 6) AS containment
          |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
          |WHERE iv.inter * 1.0 / least(sa.n, sb.n) >= 0.8""".stripMargin),

    "q_dedup_keep" ->
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        """  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |), cl AS (
          |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
          |)
          |SELECT cl.doc_id, cl.cluster_id,
          |       count(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
          |       (row_number() OVER (PARTITION BY cl.cluster_id
          |                           ORDER BY d.n_chars DESC, cl.doc_id ASC) = 1)
          |         AS keep
          |FROM cl JOIN documents d ON cl.doc_id = d.doc_id""".stripMargin),

    "q_media_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |       CAST(octet_length(CAST(text AS BLOB)) % 640 AS INT) AS width,
        |       CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 AS INT) AS height,
        |       CAST(octet_length(CAST(text AS BLOB)) % 24 AS INT) AS n_frames,
        |       ascii(substr(text, 1, 1)) AS first_byte
        |FROM documents""".stripMargin,

    "q_media_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id, ((31 * x.g + 17 * y.g + d.doc_id) % 256) AS v
        |  FROM documents d,
        |       LATERAL (SELECT unnest(range(0, 1 + d.doc_id % 16)) AS g) x,
        |       LATERAL (SELECT unnest(range(0, 1 + d.doc_id % 12)) AS g) y
        |)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 16 AS INT) AS width,
        |       CAST(1 + doc_id % 12 AS INT) AS height,
        |       CAST(3 AS INT) AS channels,
        |       CAST(sum(v) AS BIGINT) AS sum_px
        |FROM px GROUP BY doc_id""".stripMargin,

    "q_rolling_time" ->
      (seriesCte +
        """
          |SELECT user_id, epoch_us(ts) AS ts_us,
          |       round(CASE WHEN count(value) OVER wt >= 3
          |             THEN CAST(sum(CAST(round(value, 3) AS DECIMAL(30,3))) OVER wt AS DOUBLE)
          |                  / count(value) OVER wt END, 6) AS tmean
          |FROM dd
          |WINDOW wt AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |              RANGE BETWEEN 21600000000 PRECEDING AND 21600000000 FOLLOWING)""".stripMargin),

    // dHash replay from the closed-form pixel function (PNG lossless ⇒
    // decoded raster ≡ formula): per doc, 8×8 nearest-neighbor samples
    // at (g·w//8, r·h//8), bit r·7+g = gradient sign; brute pair join
    // (test-SF only — the engine side is the bucketed band join).
    "q_media_neardup" -> mediaNeardupOracleSql,

    // JPEG geometry is lossless (closed-form from key = id mod 10⁷ —
    // the engine's synthJpegSource key, mirrored so ids ≥ 10⁷ can
    // never diverge the two sides); err_ok is the spec bound the
    // ENGINE proves by measuring the real lossy decode against the
    // real source (measured global max 42 ≤ tol 48)
    "q_jpeg_meta" ->
      """SELECT doc_id,
        |       CAST(8 * (8 + (doc_id % 10000000) % 5) AS INT) AS width,
        |       CAST(8 * (8 + (doc_id % 10000000) % 3) AS INT) AS height,
        |       CAST(3 AS INT) AS channels,
        |       TRUE AS err_ok
        |FROM documents""".stripMargin,

    // the planted twins (id, id + 10⁷) share one SOURCE image, so the
    // deterministic codec gives byte-identical JPEGs → hamming 0;
    // distinct keys' artifact-laden hashes stay outside maxDist (the
    // strict hash over 3 SFs proves both directions: all twins found,
    // no artifact-driven false pair)
    "q_jpeg_neardup" ->
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
        |       CAST(0 AS INT) AS hamming
        |FROM documents""".stripMargin,

    "q_media_hashes" -> mediaHashesOracleSql,
    "q_video_frames" -> videoFramesOracleSql,
    "q_video_neardup" -> videoNeardupOracleSql,

    "q_audio_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(64 + (doc_id % 12) * 4 AS INT) AS n FROM documents
        |)
        |SELECT doc_id, n AS n_samples, CAST(8000 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(list_sum(list_transform(range(0, CAST(n AS BIGINT)),
        |              i -> ((31*i + doc_id) % 256 - 128) * 256)) AS BIGINT) AS sum_samples
        |FROM dims""".stripMargin,

    "q_audio_neardup" -> audioNeardupOracleSql,

    "q_media_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(CAST(text AS BLOB)) % 24 AS INT) AS n_frames
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       round(CAST(i AS INT) * 1000.0 / 24.0, 6) AS frame_ms
        |FROM m, unnest(CASE WHEN n_frames > 0
        |                    THEN range(0, n_frames, 4)
        |                    ELSE CAST([] AS BIGINT[]) END) AS t(i)""".stripMargin,

    "q_resample" ->
      (seriesCte +
        """
          |SELECT user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |       median(value) AS med, count(value) AS n
          |FROM dd GROUP BY user_id, bucket_us""".stripMargin),

    "q_slice_stats" ->
      (seriesCte +
        """, sl AS (
          |  SELECT user_id, ts, value + 0.5 AS obs_in
          |  FROM dd
          |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |), m2 AS (
          |  SELECT *, (obs_in IS NULL OR obs_in <= 0) AS mask_pre,
          |         CASE WHEN obs_in IS NULL OR obs_in <= 0 THEN NULL ELSE obs_in END AS obs
          |  FROM sl
          |), f2 AS (
          |  SELECT *, coalesce(obs > 100.0, false) AS flagged FROM m2
          |)
          |SELECT user_id, count(*) AS n,
          |       round(100.0 * avg(CASE WHEN obs_in IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS avail_pct,
          |       round(100.0 * avg(CASE WHEN mask_pre THEN 1.0 ELSE 0.0 END), 6) AS mask_pct,
          |       round(100.0 * avg(CASE WHEN flagged AND obs IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS flag_pct
          |FROM f2 GROUP BY user_id""".stripMargin),

    "q_gaussian" -> {
      val wo = "OVER (PARTITION BY user_id ORDER BY ts)"
      def at(o: Int) =
        if (o < 0) s"lag(yf, ${-o}) $wo"
        else if (o > 0) s"lead(yf, $o) $wo"
        else "yf"
      val terms = graft.operators.RollingStats.gaussianWeights(4.0, 16)
      val num = terms.map { case (o, wt) =>
        s"coalesce(${at(o)}, 0.0)*$wt" }.mkString(" + ")
      val den = terms.map { case (o, wt) =>
        s"CASE WHEN ${at(o)} IS NOT NULL THEN $wt ELSE 0.0 END" }.mkString(" + ")
      seriesCte +
        s""", x AS (
           |  SELECT user_id, ts,
           |         CASE WHEN delta_us > 86400000000 THEN NULL ELSE value END AS v
           |  FROM dd
           |), y0 AS (
           |  SELECT *, last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0 FROM x
           |), y1 AS (
           |  SELECT *, first_value(f0 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS yf FROM y0
           |), g AS (
           |  SELECT user_id, ts, v,
           |         ($num) AS num, ($den) AS den
           |  FROM y1
           |)
           |SELECT user_id, epoch_us(ts) AS ts_us,
           |       round(CASE WHEN den > 0 THEN num / den END, 6) AS smooth,
           |       round(v - CASE WHEN den > 0 THEN num / den END, 6) AS resid
           |FROM g""".stripMargin
    },

    "q_sentem_o2" -> sentemOracleSql(400, isNitrate = false),
    "q_sentem_ph" -> sentemOracleSql(410, isNitrate = false),
    "q_sentem_no3" -> sentemOracleSql(2477034, isNitrate = true),

    "q_pipeline" -> pipelineOracle,

    "q_events_all" ->
      (eventsChainsCte +
        """
          |SELECT user_id, 'binary_switch' AS type, epoch_us(start_ts) AS start_us,
          |       epoch_us(end_ts) AS end_us, CAST(NULL AS DOUBLE) AS hours,
          |       epoch_us(pre_t) AS pre_us, epoch_us(post_t) AS post_us, pre_val, post_val
          |FROM bin_ev
          |UNION ALL
          |SELECT user_id, 'flat_values', epoch_us(start_ts), epoch_us(end_ts),
          |       round(hours_raw, 6), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          |FROM flat_ev
          |UNION ALL
          |SELECT user_id, 'flat_slopes', epoch_us(start_ts), epoch_us(end_ts),
          |       round(hours_raw, 6), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          |FROM slope_ev""".stripMargin),

    "q_seasonal_events" ->
      (eventsChainsCte +
        """, g2 AS (
          |  SELECT user_id, ts, v,
          |         CASE WHEN month(ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(ts) IN (6,7,8) THEN 'JJA'
          |              ELSE 'SON' END AS season
          |  FROM xq
          |), a2 AS (
          |  SELECT user_id, season, count(*) AS n_obs, count(*) - count(v) AS n_missing,
          |         min(epoch_us(ts)) AS mn_us, max(epoch_us(ts)) AS mx_us
          |  FROM g2 GROUP BY user_id, season
          |), fcnt AS (
          |  SELECT user_id,
          |         CASE WHEN month(start_ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(start_ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(start_ts) IN (6,7,8) THEN 'JJA'
          |              ELSE 'SON' END AS season, count(*) AS c
          |  FROM flat_ev WHERE hours_raw >= 2.0 GROUP BY user_id, season
          |), scnt AS (
          |  SELECT user_id,
          |         CASE WHEN month(start_ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(start_ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(start_ts) IN (6,8,7) THEN 'JJA'
          |              ELSE 'SON' END AS season, count(*) AS c
          |  FROM slope_ev WHERE hours_raw >= 2.0 GROUP BY user_id, season
          |)
          |SELECT a2.user_id, a2.season, a2.n_obs, a2.n_missing,
          |       greatest(1, CAST(floor((a2.mx_us - a2.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)) AS expected_pts,
          |       round(100.0 * (a2.n_obs - a2.n_missing) / greatest(1, CAST(floor((a2.mx_us - a2.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)), 6) AS coverage_pct,
          |       round(100.0 * a2.n_missing / a2.n_obs, 6) AS nan_pct,
          |       coalesce(f.c, 0) AS flat_values_events,
          |       coalesce(sc2.c, 0) AS flat_slopes_events
          |FROM a2 JOIN st s ON a2.user_id = s.user_id
          |LEFT JOIN fcnt f ON a2.user_id = f.user_id AND a2.season = f.season
          |LEFT JOIN scnt sc2 ON a2.user_id = sc2.user_id AND a2.season = sc2.season""".stripMargin),
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_step_infer" ->
      (seriesCte + stepCte + "\nSELECT user_id, step_us FROM st"),

    "q_dedup_median" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, median(value) AS value,
        |       count(*) AS n_obs
        |FROM events GROUP BY user_id, ts""".stripMargin,

    "q_flat_runs" ->
      (seriesCte +
        """, q AS (
          |  SELECT user_id, ts, round(value/20) AS v FROM dd
          |), fz AS (
          |  SELECT user_id, ts, v,
          |         coalesce(abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts)) <= 0.0, false) AS xb
          |  FROM q
          |)""".stripMargin + markerCtes("f", "user_id", "fz") +
        """
          |SELECT user_id, epoch_us(ts) AS start_us, epoch_us(next_ts) AS end_us,
          |       round((epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0, 6) AS hours,
          |       v AS value
          |FROM fruns
          |WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0""".stripMargin),

    "q_binary_switches" ->
      (seriesCte +
        """, bz AS (
          |  SELECT user_id, ts, value AS v,
          |         coalesce(value IS NOT NULL AND abs(value) <= 1.0, false) AS xb,
          |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
          |         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev_val
          |  FROM dd
          |)""".stripMargin + markerCtes("b", "user_id", "bz", Seq("v")) +
        """
          |SELECT r.user_id, epoch_us(r.ts) AS start_us, epoch_us(e.e_ts) AS end_us,
          |       epoch_us(coalesce(r.prev_ts, r.ts)) AS pre_us,
          |       epoch_us(r.next_ts) AS post_us,
          |       CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END AS pre_val,
          |       r.next_v AS post_val
          |FROM bruns r
          |JOIN (SELECT user_id AS e_uid, rn AS e_rn, ts AS e_ts FROM bi) e
          |  ON r.user_id = e.e_uid AND e.e_rn = r.next_rn - 1
          |WHERE r.xb AND (r.next_rn - r.rn) >= 1
          |  AND (CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) IS NOT NULL
          |  AND r.next_v IS NOT NULL
          |  AND ((CASE WHEN r.prev_ts IS NOT NULL THEN r.prev_val ELSE r.v END) <> 0.0 OR r.next_v <> 0.0)""".stripMargin),

    "q_isolated" ->
      (seriesCte + stepCte +
        """, iz AS (
          |  SELECT user_id, ts, delta_us,
          |         (CASE WHEN value < 10 THEN NULL ELSE value END IS NOT NULL) AS xb
          |  FROM dd
          |)""".stripMargin + markerCtes("i", "user_id", "iz", Seq("delta_us")) +
        """, qual AS (
          |  SELECT r.user_id AS q_uid, r.mkid AS q_mkid
          |  FROM iruns r JOIN st s ON r.user_id = s.user_id
          |  WHERE r.xb AND (r.next_rn - r.rn) <= greatest(1, CAST(floor(1800000000.0 / s.step_us + 0.5) AS BIGINT))
          |    AND r.delta_us > 10800000000 AND r.next_delta_us > 10800000000
          |)
          |SELECT b.user_id, epoch_us(b.ts) AS ts_us, (q.q_mkid IS NOT NULL) AS isolated
          |FROM ii b LEFT JOIN qual q ON b.user_id = q.q_uid AND b.mkid = q.q_mkid""".stripMargin),

    "q_sentinels" ->
      (seriesCte +
        """, s1 AS (
          |  SELECT user_id, ts, CASE WHEN value < 1 THEN -9.0 ELSE value END AS v FROM dd
          |), cnt AS (
          |  SELECT user_id, count(*) AS n,
          |         sum(CASE WHEN v = -9.0 THEN 1 ELSE 0 END) AS c0,
          |         sum(CASE WHEN v = -99.0 THEN 1 ELSE 0 END) AS c1,
          |         sum(CASE WHEN v = -999.0 THEN 1 ELSE 0 END) AS c2,
          |         sum(CASE WHEN v = -9999.0 THEN 1 ELSE 0 END) AS c3
          |  FROM s1 GROUP BY user_id
          |), act AS (
          |  SELECT user_id,
          |         (c0 >= 5 OR (n > 0 AND CAST(c0 AS DOUBLE)/n >= 0.001)) AS a0,
          |         (c1 >= 5 OR (n > 0 AND CAST(c1 AS DOUBLE)/n >= 0.001)) AS a1,
          |         (c2 >= 5 OR (n > 0 AND CAST(c2 AS DOUBLE)/n >= 0.001)) AS a2,
          |         (c3 >= 5 OR (n > 0 AND CAST(c3 AS DOUBLE)/n >= 0.001)) AS a3
          |  FROM cnt
          |)
          |SELECT s1.user_id, epoch_us(s1.ts) AS ts_us,
          |       CASE WHEN (s1.v = -9.0 AND a.a0) OR (s1.v = -99.0 AND a.a1)
          |                 OR (s1.v = -999.0 AND a.a2) OR (s1.v = -9999.0 AND a.a3)
          |            THEN NULL ELSE s1.v END AS v_masked,
          |       coalesce((s1.v = -9.0 AND a.a0) OR (s1.v = -99.0 AND a.a1)
          |                 OR (s1.v = -999.0 AND a.a2) OR (s1.v = -9999.0 AND a.a3), false) AS sentinel_flag
          |FROM s1 JOIN act a ON s1.user_id = a.user_id""".stripMargin),

    "q_qc_suite" ->
      (seriesCte + stepCte +
        """, x AS (
          |  SELECT user_id, ts, delta_us,
          |         CASE WHEN delta_us > 86400000000 THEN NULL ELSE value END AS v
          |  FROM dd
          |), zm AS (
          |  SELECT *, CASE WHEN count(v) OVER wz >= 5 THEN median(v) OVER wz END AS med
          |  FROM x WINDOW wz AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
          |), zd AS (
          |  SELECT *, CASE WHEN count(abs(v - med)) OVER wz >= 5 THEN median(abs(v - med)) OVER wz END AS mad
          |  FROM zm WINDOW wz AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)
          |), base AS (
          |  SELECT user_id, ts, delta_us, v,
          |         coalesce(v < 0.0 OR v > 100.0, false) AS flag_range,
          |         (v IS NULL) AS flag_missing,
          |         coalesce(abs(v - lag(v) OVER wo) >= 5.0, false) AS flag_jumps,
          |         coalesce((CASE WHEN count(v) OVER wv >= 3 THEN var_samp(v) OVER wv END) <= 1e-12, false) AS flag_variance,
          |         coalesce(abs(0.6745 * (v - med) / (CASE WHEN mad = 0.0 THEN NULL ELSE mad END)) >= 4.0, false) AS flag_zscore
          |  FROM zd
          |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts),
          |         wv AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)
          |), pz AS (
          |  SELECT user_id, ts, v,
          |         coalesce(abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts)) <= 0.0, false) AS xb
          |  FROM x
          |)""".stripMargin + markerCtes("p", "user_id", "pz") +
        """, pq AS (
          |  SELECT r.user_id AS q_uid, r.mkid AS q_mkid FROM pruns r
          |  WHERE r.xb AND (epoch_us(r.next_ts) - epoch_us(r.ts)) / 3600000000.0 >= 2.0
          |), pmask AS (
          |  SELECT b.user_id, b.ts, (q.q_mkid IS NOT NULL) AS in_run
          |  FROM pi b LEFT JOIN pq q ON b.user_id = q.q_uid AND b.mkid = q.q_mkid
          |), pm2 AS (
          |  SELECT user_id, ts,
          |         (in_run OR coalesce(lag(in_run) OVER (PARTITION BY user_id ORDER BY ts), false)) AS flag_plateau
          |  FROM pmask
          |), iz AS (
          |  SELECT user_id, ts, delta_us, (v IS NOT NULL) AS xb FROM x
          |)""".stripMargin + markerCtes("i", "user_id", "iz", Seq("delta_us")) +
        """, iqual AS (
          |  SELECT r.user_id AS q_uid, r.mkid AS q_mkid
          |  FROM iruns r JOIN st s ON r.user_id = s.user_id
          |  WHERE r.xb AND (r.next_rn - r.rn) <= greatest(1, CAST(floor(1800000000.0 / s.step_us + 0.5) AS BIGINT))
          |    AND r.delta_us > 10800000000 AND r.next_delta_us > 10800000000
          |), imsk AS (
          |  SELECT b.user_id, b.ts, (q.q_mkid IS NOT NULL) AS flag_isolated
          |  FROM ii b LEFT JOIN iqual q ON b.user_id = q.q_uid AND b.mkid = q.q_mkid
          |)
          |SELECT b.user_id, epoch_us(b.ts) AS ts_us,
          |       b.flag_range, b.flag_missing,
          |       p.flag_plateau AS flag_constants, p.flag_plateau,
          |       b.flag_variance, b.flag_zscore, b.flag_jumps,
          |       i.flag_isolated, b.flag_zscore AS flag_unilof,
          |       CASE WHEN b.flag_range OR b.flag_missing OR p.flag_plateau OR b.flag_variance
          |              OR b.flag_zscore OR b.flag_jumps OR i.flag_isolated THEN 255 ELSE 0 END AS qc_flag
          |FROM base b
          |JOIN pm2 p ON b.user_id = p.user_id AND b.ts = p.ts
          |JOIN imsk i ON b.user_id = i.user_id AND b.ts = i.ts""".stripMargin),

    "q_rolling_slope" ->
      (seriesCte + slopeCte +
        "\nSELECT user_id, epoch_us(ts) AS ts_us, round(slope, 9) AS slope FROM s"),

    "q_flat_slopes" ->
      (seriesCte + slopeCte +
        """, sz AS (
          |  SELECT user_id, ts, coalesce(abs(slope) <= 0.05, false) AS xb FROM s
          |)""".stripMargin + markerCtes("g", "user_id", "sz") +
        """
          |SELECT user_id, epoch_us(ts) AS start_us, epoch_us(next_ts) AS end_us,
          |       round((epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0, 6) AS hours
          |FROM gruns
          |WHERE xb AND (epoch_us(next_ts) - epoch_us(ts)) / 3600000000.0 >= 2.0""".stripMargin),

    "q_decimal_uniformity" ->
      (seriesCte +
        """, fin AS (
          |  SELECT user_id, value FROM dd WHERE value IS NOT NULL
          |), pb AS (
          |  SELECT user_id, CAST(floor((value % 1.0) * 10) AS INT) AS bin, count(*) AS h
          |  FROM fin GROUP BY user_id, CAST(floor((value % 1.0) * 10) AS INT)
          |), tot AS (
          |  SELECT user_id, CAST(sum(h) AS BIGINT) AS n_finite, count(*) AS present,
          |         CAST(sum(h) AS DOUBLE) / 10 AS e
          |  FROM pb GROUP BY user_id
          |)
          |SELECT pb.user_id,
          |       any_value(t.n_finite) AS n_finite,
          |       round(sum(pow(pb.h - t.e, 2) / t.e) + (10 - any_value(t.present)) * any_value(t.e), 6) AS chisq
          |FROM pb JOIN tot t ON pb.user_id = t.user_id
          |GROUP BY pb.user_id""".stripMargin),

    "q_dominant_decimal" ->
      (seriesCte +
        """, fin AS (
          |  SELECT user_id, CAST(round((value % 1.0) * 100) AS INT) AS code
          |  FROM dd WHERE value IS NOT NULL
          |), cnt AS (
          |  SELECT user_id, code, count(*) AS c FROM fin GROUP BY user_id, code
          |), tot AS (
          |  SELECT user_id, CAST(sum(c) AS BIGINT) AS total FROM cnt GROUP BY user_id
          |), rk AS (
          |  SELECT cnt.user_id, cnt.code, cnt.c, t.total,
          |         row_number() OVER (PARTITION BY cnt.user_id ORDER BY cnt.c DESC, cnt.code ASC) AS rk
          |  FROM cnt JOIN tot t ON cnt.user_id = t.user_id
          |)
          |SELECT user_id, code AS dom, CAST(c AS DOUBLE) / total AS dom_frac
          |FROM rk WHERE rk = 1""".stripMargin),

    "q_quant_step" ->
      (seriesCte +
        """, q0 AS (
          |  SELECT user_id, ts, round(value/5)*5 AS v FROM dd
          |), dq AS (
          |  SELECT user_id, abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts)) AS d FROM q0
          |), dpos AS (
          |  SELECT user_id, d FROM dq WHERE d > 0
          |), qs AS (
          |  SELECT user_id, quantile_cont(d, 0.1) AS q10, quantile_cont(d, 0.25) AS q25,
          |         quantile_cont(d, 0.5) AS q50
          |  FROM dpos GROUP BY user_id
          |), cand AS (
          |  SELECT user_id, 0 AS pos, q10 AS cand FROM qs
          |  UNION ALL SELECT user_id, 1, q25 FROM qs
          |  UNION ALL SELECT user_id, 2, q50 FROM qs
          |  UNION ALL SELECT user_id, 3, q50/2 FROM qs
          |  UNION ALL SELECT user_id, 4, q50/3 FROM qs
          |  UNION ALL SELECT user_id, 5, q50/4 FROM qs
          |  UNION ALL SELECT user_id, 6, q50/5 FROM qs
          |  UNION ALL SELECT user_id, 7, q50/6 FROM qs
          |  UNION ALL SELECT user_id, 8, q50/7 FROM qs
          |  UNION ALL SELECT user_id, 9, q50/8 FROM qs
          |  UNION ALL SELECT user_id, 10, q50/9 FROM qs
          |), hit AS (
          |  SELECT c.user_id, c.pos, c.cand,
          |         avg(CASE WHEN abs(d.d / c.cand - round(d.d / c.cand)) <= 1e-3 THEN 1.0 ELSE 0.0 END) AS hit
          |  FROM cand c JOIN dpos d ON c.user_id = d.user_id
          |  GROUP BY c.user_id, c.pos, c.cand
          |), rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY hit DESC, pos ASC) AS rk FROM hit
          |)
          |SELECT user_id, CASE WHEN hit > 0.7 THEN round(cand, 6) END AS quant_step,
          |       (hit > 0.7) AS is_quantized
          |FROM rk WHERE rk = 1""".stripMargin),

    "q_seasonal_summary" ->
      (seriesCte + stepCte +
        """, g AS (
          |  SELECT user_id, ts,
          |         CASE WHEN delta_us > 7200000000 THEN NULL ELSE value END AS value_clean,
          |         CASE WHEN month(ts) IN (12,1,2) THEN 'DJF'
          |              WHEN month(ts) IN (3,4,5) THEN 'MAM'
          |              WHEN month(ts) IN (6,7,8) THEN 'JJA'
          |              ELSE 'SON' END AS season
          |  FROM dd
          |), a AS (
          |  SELECT user_id, season, count(*) AS n_obs,
          |         count(*) - count(value_clean) AS n_missing,
          |         min(epoch_us(ts)) AS mn_us, max(epoch_us(ts)) AS mx_us
          |  FROM g GROUP BY user_id, season
          |)
          |SELECT a.user_id, a.season, a.n_obs, a.n_missing,
          |       greatest(1, CAST(floor((a.mx_us - a.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)) AS expected_pts,
          |       round(100.0 * (a.n_obs - a.n_missing) / greatest(1, CAST(floor((a.mx_us - a.mn_us + s.step_us) / s.step_us + 0.5) AS BIGINT)), 6) AS coverage_pct,
          |       round(100.0 * a.n_missing / a.n_obs, 6) AS nan_pct
          |FROM a JOIN st s ON a.user_id = s.user_id""".stripMargin)
  )
}
