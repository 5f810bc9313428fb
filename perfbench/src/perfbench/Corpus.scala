package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextStats}

/** Curation of a seeded corpus: TextStats.curationPipeline,
  * Dedup.minHashLsh and Similarity.bruteForceTopK, each written out.
  */
final class CorpusWorkload(spark: SparkSession, dataDir: String) extends Workload {
  private val truth = Json.read(s"$dataDir/truth.json")
  private val nDocs = truth.get("docs").asLong
  private val nVectors = truth.get("vectors").asLong
  private val nQueries = truth.get("queries").asLong
  private val k = truth.get("k").asInt
  private val families = Json.elems(truth.get("families")).map(Json.elems(_).map(_.asLong))
  private val plantedPairs =
    Json.elems(truth.get("planted_pairs")).map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  private val mustDrop =
    (Json.elems(truth.get("foreign")) ++ Json.elems(truth.get("low_quality"))).map(_.asLong)
  private val neighbours =
    Json.fields(truth.get("neighbours")).map { case (q, v) => q.toLong -> v.asLong }.toMap

  val layers: Set[String] = Set("ext", "spark", "trace", "warmup")
  def inputRows: Long = nDocs
  val inputBytes: Long = Seq("documents", "embeddings", "queries")
    .map(n => new java.io.File(s"$dataDir/$n.parquet").length).sum

  private def docs = spark.read.parquet(s"$dataDir/documents.parquet")
  private def outputs: Seq[(String, () => DataFrame)] = Seq(
    "curation" -> (() => TextStats.curationPipeline(docs, "doc_id", "text")),
    "minhash" -> (() => Dedup.minHashLsh(docs, "doc_id", "text")),
    "topk" -> (() => Similarity.bruteForceTopK(
      spark.read.parquet(s"$dataDir/queries.parquet"),
      spark.read.parquet(s"$dataDir/embeddings.parquet"), "id", "vec", k,
      excludeSelf = false)))

  def op(out: String): Unit = outputs.foreach { case (name, build) =>
    build().write.parquet(s"$out/$name")
  }

  def tracedOp(out: String, t: Tracer, lm: LayerMetrics): Unit = {
    t.span("ext") {
      outputs.foreach { case (name, build) =>
        t.span(s"ext.$name")(build().write.parquet(s"$out/$name"))
        lm.span(s"ext.$name", t.spans.last)
      }
    }
    lm.sameWorkS = t.spans.last.wallS
    val candidates = spark.read.parquet(s"$out/minhash").select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    lm.put("ext.minhash.candidate_pairs", candidates.length.toDouble)
    lm.put("ext.minhash.precision",
      candidates.count(plantedPairs).toDouble / math.max(candidates.length, 1))
    lm.put("ext.topk.pairs_scored", (nQueries * nVectors).toDouble)
  }

  def check(out: String, lm: Option[LayerMetrics]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val cur = spark.read.parquet(s"$out/curation")
      .select("doc_id", "family_id", "is_keeper", "keep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toMap
    if (cur.size != nDocs) bad += s"curation emitted ${cur.size} docs of $nDocs"
    val keepersOf = cur.values.filter(_._2).groupBy(_._1).map { case (f, ks) => f -> ks.size }
    families.foreach { fam =>
      val ids = fam.flatMap(cur.get).map(_._1).distinct
      if (ids.size != 1 || keepersOf.getOrElse(ids.head, 0) != 1)
        bad += s"planted family ${fam.mkString(",")} has families $ids, not one keeper"
    }
    val kept = mustDrop.filter(d => cur.get(d).exists(_._3))
    if (kept.nonEmpty) bad += s"foreign or low-quality docs kept: ${kept.take(5).mkString(",")}"

    val candidates = spark.read.parquet(s"$out/minhash").select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val familyPairs = families.flatMap(f => f.combinations(2).map(p => (p.min, p.max)))
    val missed = familyPairs.filterNot(candidates)
    if (missed.nonEmpty) bad += s"exact-duplicate pairs missing from minhash: ${missed.take(5)}"

    val top = spark.read.parquet(s"$out/topk")
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    if (top.length != nQueries * k) bad += s"topk emitted ${top.length} rows, want ${nQueries * k}"
    val first = top.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    val wrong = neighbours.filter { case (q, v) => !first.get(q).contains(v) }
    if (wrong.nonEmpty) bad += s"planted neighbour not ranked first for ${wrong.size} queries"
    bad.result()
  }

  def corrupt(out: String): Unit = Fs.replaceParquet(spark,
    spark.read.parquet(s"$out/curation").withColumn("is_keeper", lit(true)),
    s"$out/curation")
}
