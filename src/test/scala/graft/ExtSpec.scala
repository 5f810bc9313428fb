package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, RepetitionTwin, Sampling, Similarity, TextStats}

class ExtSpec extends SparkTestBase {

  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup keeps the smallest id per normalized text") {
    val d = docs((1L, "Hello  World"), (2L, "hello  world"), (3L, "other text"))
    val out = Dedup.exact(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("is_duplicate")).toSeq == Seq(false, true, false))
    assert(out(1).getAs[Long]("keeper_id") == 1L)
  }

  test("minhash LSH finds a planted near-duplicate, skips unrelated") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val out = Dedup.minHashLsh(docs((1L, base), (2L, nearDup), (3L, other)),
      "doc_id", "text", k = 2, numHashes = 12, bands = 6, threshold = 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id_a") == 1L && out.head.getAs[Long]("id_b") == 2L)
    assert(out.head.getAs[Double]("jaccard") > 0.8)
  }

  test("simhash of identical docs is equal; near-dup within small hamming") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base), (2L, base), (3L, base + " zz"))
    val fp = Dedup.simHash(d, "doc_id", "text").orderBy("doc_id")
      .collect().map(_.getAs[Long]("simhash"))
    assert(fp(0) == fp(1))
    assert(java.lang.Long.bitCount(fp(0) ^ fp(2)) <= 6)
  }

  test("simHashIncremental: known near-dup wins over batch dup; unique kept") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val known = docs((1L, base), (2L, (100 to 160).map(i => s"v$i").mkString(" ")))
    // SimHash is scale-invariant in the word counts, so doubling /
    // tripling the text keeps the fingerprint bit-identical: 10 and
    // 11 are hamming-0 variants of known 1 (and 11 of earlier batch
    // 10); 12 is unrelated — the only keeper.
    val fresh = docs(
      (10L, base + " " + base),
      (11L, base + " " + base + " " + base),
      (12L, (200 to 260).map(i => s"u$i").mkString(" ")))
    val out = Dedup.simHashIncremental(fresh, known, "doc_id", "text",
      maxDist = 3).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("keep")).toSeq == Seq(false, false, true))
    assert(out(0).getAs[Long]("dup_of_known") == 1L)
    assert(out(0).isNullAt(out(0).fieldIndex("dup_of_batch")))
    assert(out(1).getAs[Long]("dup_of_known") == 1L)
    assert(out(1).getAs[Long]("dup_of_batch") == 10L)
    assert(out(2).isNullAt(out(2).fieldIndex("dup_of_known")))
  }

  test("substringSpans: planted repeated spans found with exact bounds") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ") // 20-token span
    val shortRun = (1 to 9).map(i => s"r$i").mkString(" ") // 9-token span
    val a = (1 to 5).map(i => s"a$i").mkString(" ") + " " + shared +
      " " + (6 to 10).map(i => s"a$i").mkString(" ") + " " + shortRun
    val b = (1 to 3).map(i => s"b$i").mkString(" ") + " " + shared +
      " " + shortRun + " " + (4 to 8).map(i => s"b$i").mkString(" ")
    val c = (100 to 140).map(i => s"c$i").mkString(" ") // unrelated
    val out = Dedup.substringSpans(docs((1L, a), (2L, b), (3L, c)),
      "doc_id", "text", minLen = 8, maxDf = 20)
      .orderBy("a_start").collect()
    // two maximal spans between docs 1 and 2, on different diagonals:
    // `shared` at a[5..24] / b[3..22] (len 20), `shortRun` at
    // a[30..38] / b[23..31] (len 9); doc 3 pairs with nothing
    assert(out.length == 2, out.mkString(";"))
    assert(out.forall(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 2L))
    assert(out(0).getAs[Int]("a_start") == 5 &&
      out(0).getAs[Int]("b_start") == 3 &&
      out(0).getAs[Long]("span_len") == 20L)
    assert(out(1).getAs[Int]("a_start") == 30 &&
      out(1).getAs[Int]("b_start") == 23 &&
      out(1).getAs[Long]("span_len") == 9L)
    // sub-minLen shared runs are invisible: 7 shared tokens, no row
    val p = (1 to 7).map(i => s"p$i").mkString(" ")
    val none = Dedup.substringSpans(
      docs((1L, "x1 x2 x3 x4 " + p + " x5 x6 x7 x8"),
        (2L, "y1 y2 y3 y4 " + p + " y5 y6 y7 y8")),
      "doc_id", "text", minLen = 8, maxDf = 20).count()
    assert(none == 0L)
  }

  test("winnowFingerprints: matches the reference algorithm; shared runs share a print") {
    import scala.collection.mutable
    // independent reference implementation of rightmost-min winnowing
    def reference(text: String, k: Int, w: Int): Set[(Int, Long)] = {
      val words = text.trim.toLowerCase.split("\\s+").toSeq
      if (words.length < k) return Set.empty
      val hs = (0 to words.length - k).map { p =>
        val gram = words.slice(p, p + k).mkString(" ")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(gram.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          md.take(5).map(b => f"$b%02x").mkString, 16) // 10 hex = 40 bits
      }
      val sel = mutable.Set[(Int, Long)]()
      val n = hs.length
      val starts = 0 to math.max(n - w, 0)
      starts.foreach { i =>
        val win = (i until math.min(i + w, n))
        val minH = win.map(hs).min
        val p = win.filter(q => hs(q) == minH).max // rightmost tie
        sel += ((p, hs(p)))
      }
      sel.toSet
    }
    val t1 = (1 to 30).map(i => s"w${i % 13}").mkString(" ")
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // w+k-1 = 8 tokens
    val t2 = "x1 x2 x3 " + shared + " x4 x5"
    val t3 = "y1 y2 " + shared + " y3 y4 y5"
    val out = TextStats.winnowFingerprints(
      docs((1L, t1), (2L, t2), (3L, t3)), "doc_id", "text", k = 4, w = 5)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rows) =>
        d -> rows.map(r => (r.getAs[Int]("pos"), r.getAs[Long]("fp"))).toSet
      }
    Seq(1L -> t1, 2L -> t2, 3L -> t3).foreach { case (d, t) =>
      assert(out(d) == reference(t, 4, 5), s"doc $d winnow mismatch")
    }
    // the winnowing guarantee: a shared run of w+k-1 tokens must share
    // at least one fingerprint VALUE between the two docs
    val fps2 = out(2L).map(_._2)
    val fps3 = out(3L).map(_._2)
    assert((fps2 & fps3).nonEmpty, "shared 8-token run shares no fingerprint")
    // short doc (< k tokens) emits nothing; k <= doc < w+k-1 winnows
    // its single short window
    val tiny = TextStats.winnowFingerprints(
      docs((1L, "a b c"), (2L, "a b c d e")), "doc_id", "text", k = 4, w = 5)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    assert(!tiny.contains(1L))
    assert(tiny(2L).length == 1) // 2 grams, one window, one min
  }

  test("removeDupSpans: later doc loses the planted span, first occurrence keeps it") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val a = "a1 a2 " + shared + " a3" // doc 1: first occurrence — untouched
    val b = "b1 " + shared + " b2 b3" // doc 2: span at pos 1..20 — removed
    val c = "c1 c2 c3"                // unrelated, short — untouched
    val d = docs((1L, a), (2L, b), (3L, c))
    val spans = Dedup.substringSpans(d, "doc_id", "text", minLen = 8, maxDf = 20)
    val out = Dedup.removeDupSpans(d, "doc_id", "text", spans)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 23L &&
      out(0).getAs[Long]("n_kept") == 23L)
    assert(out(0).getAs[String]("text_dedup") == ("a1 a2 " + shared + " a3"))
    assert(out(1).getAs[Long]("n_tokens") == 23L &&
      out(1).getAs[Long]("n_kept") == 3L)
    assert(out(1).getAs[String]("text_dedup") == "b1 b2 b3")
    assert(out(2).getAs[Long]("n_kept") == 3L)
    // span union across pairs: doc 3 embeds doc 1's span (pos 0..19)
    // AND doc 2's span (pos 20..29) — 30 distinct removed positions
    val s2 = (21 to 30).map(i => s"s$i").mkString(" ")
    val e = docs((1L, shared), (2L, s2), (3L, shared + " " + s2 + " tail"))
    val sp2 = Dedup.substringSpans(e, "doc_id", "text", minLen = 8, maxDf = 20)
    val out2 = Dedup.removeDupSpans(e, "doc_id", "text", sp2)
      .orderBy("doc_id").collect()
    assert(out2(2).getAs[Long]("n_tokens") == 31L)
    assert(out2(2).getAs[Long]("n_kept") == 1L)
    assert(out2(2).getAs[String]("text_dedup") == "tail")
  }

  test("cosine helpers: orthogonal=0, identical=1; topK ranks correctly") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb.filter($"vec_id" === 0), emb,
      "vec_id", "embedding", k = 2).orderBy("rank").collect()
    assert(top(0).getAs[Long]("vec_id") == 2L) // colinear
    assert(top(0).getAs[Double]("cosine") == 1.0)
    assert(top(1).getAs[Long]("vec_id") == 3L)
  }

  test("sign-LSH bucket groups same-orthant vectors") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(emb.filter($"vec_id" === 0), emb,
      "vec_id", "embedding", k = 5).collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSet == Set(1L)) // 2 in other bucket
  }

  test("multi-probe LSH recall dominates single-probe at equal bucket count") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = hits(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    val single = hits(Similarity.lshTopK(queries, emb, "vec_id", "embedding", 5))
    val multi = hits(Similarity.lshTopKMultiProbe(queries, emb, "vec_id", "embedding", 5))
    val rSingle = (brute & single).size.toDouble / brute.size
    val rMulti = (brute & multi).size.toDouble / brute.size
    assert(rMulti >= rSingle, s"multi-probe $rMulti < single $rSingle")
    assert(rMulti > rSingle, s"1-bit flips must add candidates on this corpus ($rMulti)")
  }

  test("pq ann: codes in range, shortlist recall vs brute force") {
    // PQ's production shape is shortlist-then-exact-rerank: the
    // recall contract is "true top-k survives in the ADC top-K
    // shortlist", not "ADC rank == exact rank" (random uniform
    // vectors are PQ's adversarial case — all cosines cluster near 0)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val model = Similarity.trainPq(emb, "embedding", m = 8, ksub = 32)
    assert(model.codebooks.length == 8 && model.codebooks.forall(_.length == 32))
    val enc = Similarity.encodePq(emb, "embedding", model)
      .select("pq_codes").collect()
    assert(enc.length == 500)
    enc.foreach { r =>
      val codes = r.getSeq[Int](0)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 32))
    }
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val shortlist = Similarity.pqTopK(queries, emb, "vec_id", "embedding", 20, model)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(shortlist.size == 200)
    val recall = (brute & shortlist).size.toDouble / brute.size
    // top-20 of 500 candidates (4%) must retain most of the true top-5
    assert(recall >= 0.5, s"PQ shortlist recall $recall")
  }

  test("ivf ann finds neighbors with decent recall vs brute force") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(ivf.size == 50) // 10 queries x top-5
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // probing half the cells
  }

  test("pngPerceptualHash: decoded dhash matches the pixel formula; " +
      "hammingPairs finds brightness-shift near-dups") {
    import spark.implicits._
    // independent reimplementation of the fingerprint from the pixel
    // FORMULA (no codec): the operator must reproduce it from the
    // actually-decoded raster — the same lossless-PNG contract
    // q_media_decode pins.
    def expected(id: Long): (Long, Long) = {
      val w = (1 + id % 16).toInt; val h = (1 + id % 12).toInt
      def p(gx: Int, r: Int): Long =
        (31L * (gx * w / 8) + 17L * (r * h / 8) + id) % 256
      var dh = 0L; var ah = 0L; var sum = 0L
      for (r <- 0 until 8; g <- 0 until 7) sum += p(g, r)
      for (r <- 0 until 8; g <- 0 until 7) {
        if (p(g + 1, r) > p(g, r)) dh |= 1L << (r * 7 + g)
        if (p(g, r) * 56 > sum) ah |= 1L << (r * 7 + g)
      }
      (dh, ah)
    }
    val ids = Seq(0L, 16L, 123L, 171L, 443L)
    val fp = Multimodal.pngPerceptualHash(ids.toDF("doc_id"), "doc_id")
      .orderBy("doc_id").collect()
    ids.zip(fp).foreach { case (id, row) =>
      val (dh, ah) = expected(id)
      assert(row.getAs[Long]("dhash") == dh, s"dhash($id)")
      assert(row.getAs[Long]("ahash") == ah, s"ahash($id)")
      assert(row.getAs[Int]("width") == (1 + id % 16).toInt)
    }
    // 0 and 16 are both w=1 strips: no horizontal gradients anywhere,
    // so their dhashes are identical — a distance-0 pair; 123 (15×4)
    // has rich gradients and must NOT pair with the strips.
    val pairs = Dedup.hammingPairs(
      Multimodal.pngPerceptualHash(ids.toDF("doc_id"), "doc_id")
        .select("doc_id", "dhash"),
      "doc_id", "dhash", nChunks = 4, chunkBits = 14, maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 16L)))
    assert(!pairs.exists(p => p._1 == 123L || p._2 == 123L))
  }

  test("wavRoundTripMeta + wavFingerprint: decoded facts match the sample " +
      "formula; hammingPairs finds gain-shift audio near-dups") {
    import spark.implicits._
    // independent reimplementation from the sample FORMULA (no codec):
    // the operators must reproduce it from the actually-DECODED WAV
    // stream — the lossless-PCM contract, the audio twin of the
    // q_media_decode lossless-PNG contract.
    def expected(id: Long): (Int, Long, Long) = {
      val n = (64 + (id % 12) * 4).toInt
      def v(i: Int): Long = (31L * i + id) % 256 - 128
      var sum = 0L
      (0 until n).foreach(i => sum += v(i) * 256)
      var f = 0L
      for (j <- 0 until 56) {
        val p0 = j * (n - 1) / 56; val p1 = (j + 1) * (n - 1) / 56
        if (v(p1) > v(p0)) f |= 1L << j
      }
      (n, sum, f)
    }
    val ids = Seq(0L, 123L, 252L, 264L, 443L)
    val meta = Multimodal.wavRoundTripMeta(ids.toDF("doc_id"), "doc_id")
      .orderBy("doc_id").collect()
    ids.zip(meta).foreach { case (id, row) =>
      val (n, sum, _) = expected(id)
      assert(row.getAs[Int]("n_samples") == n, s"n_samples($id)")
      assert(row.getAs[Int]("sample_rate") == 8000)
      assert(row.getAs[Int]("channels") == 1)
      assert(row.getAs[Long]("sum_samples") == sum, s"sum_samples($id)")
    }
    val fp = Multimodal.wavFingerprint(ids.toDF("doc_id"), "doc_id")
      .orderBy("doc_id").collect()
    ids.zip(fp).foreach { case (id, row) =>
      assert(row.getAs[Long]("afp") == expected(id)._3, s"afp($id)")
    }
    // 252/264 share 0's probe grid (n = 64) with samples shifted by a
    // near-multiple of 256 — delta signs flip only at moved wraps:
    // distances 1/2/3. 123 (n = 76) and 443 (n = 108) pair with none.
    val pairs = Dedup.hammingPairs(
      Multimodal.wavFingerprint(ids.toDF("doc_id"), "doc_id")
        .select("doc_id", "afp"),
      "doc_id", "afp", nChunks = 4, chunkBits = 14, maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 252L), (0L, 264L), (252L, 264L)), s"pairs=$pairs")
  }

  test("marginMine suppresses the hub: best-margin partner beats best-cosine hub") {
    import spark.implicits._
    // tgt 10 is a hub (diagonal — close to EVERYTHING, the highest
    // raw cosine for src 1), but its own dense neighborhood inflates
    // the margin denominator; the true partners 11/12 win by margin.
    val src = Seq(
      (1L, Array(0.75f, 0.65f, 0.3f)),
      (2L, Array(0.2f, 0.9f, 0.4f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (10L, Array(1.0f, 1.0f, 1.0f)), // hub
      (11L, Array(1.0f, 0.0f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f)),
      (13L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    // raw cosine top-1 for src 1 IS the hub
    val raw = Similarity.bruteForceTopK(src.filter($"vec_id" === 1), tgt,
      "vec_id", "embedding", k = 1).head()
    assert(raw.getAs[Long]("vec_id") == 10L)
    val mined = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 2, minMargin = 1.0)
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("tgt_id"))
      .toMap
    assert(mined == Map(1L -> 11L, 2L -> 12L), s"mined=$mined")
  }

  test("marginMine with LSH retrieval: bucketed pairs agree with brute on real data") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val src = emb.filter(col("label") < 2)
    val tgt = emb.filter(col("label") >= 2)
    val brute = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = 1.2)
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("tgt_id")).toMap
    val lsh = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = 1.2, retrieve = Similarity.lshRetriever(4))
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("tgt_id")).toMap
    assert(brute.nonEmpty, "brute margin mining found no pairs at sf0.001")
    val agree = brute.count { case (s, t) => lsh.get(s).contains(t) }
    assert(agree * 100 >= brute.size * 40,
      s"LSH margin agreement $agree/${brute.size} below 40%")
    val rep = Similarity.marginMineAgreement(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = 1.2, Similarity.lshRetriever(4), minPct = 40).head()
    assert(rep.getAs[Long]("n_brute") == brute.size.toLong)
    assert(rep.getAs[Long]("n_agree") == agree.toLong)
    assert(rep.getAs[Boolean]("agree_ok"))
  }

  test("semanticDedup: pinned-seed cells, keep-first within-cell prune") {
    import spark.implicits._
    // seeds (nSeeds=2) are ids 0,1: x-axis and y-axis. 2,3 are near
    // the x seed (dups of 0), 4 near the y seed (dup of 1), 5 lands in
    // cell 0 but far from everything (keeper).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)),
      (4L, Array(0.1f, 0.9f, 0.0f)),
      (5L, Array(-1.0f, -2.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nSeeds = 2, tau = 0.8).orderBy("vec_id").collect()
    assert(out.map(_.getAs[Long]("cell")).toSeq == Seq(0L, 1L, 0L, 0L, 1L, 0L))
    assert(out.map(_.getAs[Boolean]("keep")).toSeq ==
      Seq(true, true, false, false, false, true))
    assert(out(2).getAs[Long]("dup_of") == 0L) // min earlier id, not 3
    assert(out(4).getAs[Long]("dup_of") == 1L)
    assert(out(5).isNullAt(out(5).fieldIndex("dup_of")))
  }

  test("knnLabel: majority of k nearest labeled neighbors, integer tie-breaks") {
    import spark.implicits._
    // labeled: two x-axis docs labeled 7, one y-axis doc labeled 3.
    // unlabeled 100 points along x → neighbors (k=3) are both 7s + the
    // 3 → majority 7 with 2 votes; 101 points along y → votes split
    // 1/1/1 across {7,7,3} → grouped as 7:2? No: neighbors are the
    // SAME three docs for k=3 of 3 — majority is still 7 (2 votes).
    // So pin the vote semantics with k=1 instead for 101.
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), 7),
      (2L, Array(0.9f, 0.1f), 7),
      (3L, Array(0.0f, 1.0f), 3)).toDF("vec_id", "embedding", "label")
    val unlabeled = Seq(
      (100L, Array(1.0f, 0.05f)),
      (101L, Array(0.05f, 1.0f))).toDF("vec_id", "embedding")
    val k3 = Similarity.knnLabel(unlabeled, labeled, "vec_id", "embedding",
      "label", k = 3).orderBy("vec_id").collect()
    assert(k3(0).getAs[Int]("label_pred") == 7 && k3(0).getAs[Long]("votes") == 2L)
    assert(k3(1).getAs[Int]("label_pred") == 7 && k3(1).getAs[Long]("votes") == 2L)
    val k1 = Similarity.knnLabel(unlabeled, labeled, "vec_id", "embedding",
      "label", k = 1).orderBy("vec_id").collect()
    assert(k1(0).getAs[Int]("label_pred") == 7 && k1(0).getAs[Long]("votes") == 1L)
    assert(k1(1).getAs[Int]("label_pred") == 3 && k1(1).getAs[Long]("votes") == 1L)
  }

  test("marginMine with IVF retrieval: trained-quantizer path agrees with brute") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val src = emb.filter(col("label") < 2)
    val tgt = emb.filter(col("label") >= 2)
    val brute = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = 1.2)
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("tgt_id")).toMap
    val ivf = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = 1.2,
      retrieve = Similarity.ivfRetriever(nlist = 8, nprobe = 4))
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("tgt_id")).toMap
    val agree = brute.count { case (s, t) => ivf.get(s).contains(t) }
    assert(agree * 100 >= brute.size * 30,
      s"IVF margin agreement $agree/${brute.size} below 30%")
  }

  test("margin-LSH agreement on CLUSTERED embeddings reaches the >=90% regime") {
    import spark.implicits._
    // The committed iid-uniform testdata is ANN's adversarial case:
    // agreement there is 55-64% (q_margin_mine_recall, bound 40). On
    // embeddings with actual cluster structure — the case retrieval
    // bucketing exists for — the bucketed path must reproduce brute
    // almost exactly. Fixture: 16 clusters whose centers are ±5 sign
    // patterns on the 4 LSH dims (cluster id = bucket id by
    // construction), members perturbed by small deterministic noise
    // on the tail dims; even ids = src pool, odd = tgt pool.
    val rows = (0 until 400).map { i =>
      val c = i % 16
      val v = Array.tabulate(16) { j =>
        if (j < 4) (if (((c >> j) & 1) == 1) 5.0f else -5.0f)
        else ((i * 31 + j * 17) % 13 - 6) / 6.0f
      }
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.marginMineAgreement(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, minMargin = 1.0,
      retrieve = Similarity.lshRetriever(4), minPct = 90).collect()(0)
    assert(out.getAs[Long]("n_brute") > 50L,
      s"fixture too sparse: n_brute=${out.getAs[Long]("n_brute")}")
    assert(out.getAs[Boolean]("agree_ok"),
      s"clustered agreement ${out.getAs[Long]("n_agree")}/${out.getAs[Long]("n_brute")} below 90%")
  }

  test("assignCells: native NearestSeedCell kernel ≡ HOF twin") {
    import spark.implicits._
    // real corpus, three seed counts spanning degenerate (nc = k) and
    // genuinely two-level shapes
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    for (nSeeds <- Seq(2, 16, 40)) {
      val nat = Similarity.assignCells(emb, "vec_id", "embedding", nSeeds)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hof = Similarity.assignCellsHof(emb, "vec_id", "embedding", nSeeds)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(nat == hof, s"native/HOF divergence at nSeeds=$nSeeds")
    }
    // adversarial fixture: zero-norm vector (also a SEED), null vector
    val fix = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)), // zero-norm: every cosine -2.0
      (3L, Array(-1.0f, 0.5f, 0.25f)),
      (4L, Array(0.9f, 0.1f, 0.0f)),
      (5L, null.asInstanceOf[Array[Float]]), // null vector
      (6L, Array(0.1f, 0.9f, 0.0f))).toDF("vec_id", "embedding")
    val nat = Similarity.assignCells(fix, "vec_id", "embedding", 4)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = Similarity.assignCellsHof(fix, "vec_id", "embedding", 4)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat == hof)
    // zero-norm and null vectors land in the smallest coarse seed's
    // smallest fine cell, deterministically
    assert(nat(2L) == 0L && nat(5L) == 0L)
    // ragged fixture: a LENGTH-MISMATCHED seed (array columns carry no
    // fixed length) must LOSE against every real candidate on both
    // forms — the native kernel pins its cosine to -2.0 and the HOF
    // twin coalesces the NULL dot to the same -2.0; under the
    // pre-coalesce HOF the NULL negcos struct field sorted FIRST and
    // the ragged seed silently WON every assignment (caught in the
    // round-14 close-out review)
    val ragged = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.5f, 0.5f)), // ragged: 2 dims among 3-dim corpus
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val natR = Similarity.assignCells(ragged, "vec_id", "embedding", 3)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hofR = Similarity.assignCellsHof(ragged, "vec_id", "embedding", 3)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(natR == hofR, s"native/HOF divergence on ragged seed:\n$natR\nvs\n$hofR")
    // the 3-dim vectors must never be assigned to the ragged seed 1
    assert(natR(0L) != 1L && natR(2L) != 1L && natR(3L) != 1L)
  }

  test("ivf nearCells: native NearestCells kernel ≡ HOF twin") {
    import spark.implicits._
    // handcrafted centroids with a deliberate exact tie (cells 1 and 2
    // are identical) so the lower-cell tie rule is exercised, plus a
    // null vector and a length-mismatched vector (every fold null in
    // the HOF form → cells 0..keep-1)
    val cents = Array(
      Array(1.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0),
      Array(0.5, 0.5, 0.0))
    val vecs = Seq(
      (0L, Array(0.9f, 0.1f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.1f)), // ties cells 1/2 exactly
      (2L, Array(0.2f, 0.2f, 0.9f)),
      (3L, null.asInstanceOf[Array[Float]]),
      (4L, Array(1.0f, 0.0f)), // length mismatch
      (5L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    for (keep <- Seq(1, 2, 4, 7)) { // 7 > nlist exercises the clamp
      val nat = vecs.select(col("vec_id"), Similarity.nearCellsTest(
          cents, col("embedding"), keep).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val hof = vecs.select(col("vec_id"), Similarity.nearCellsHof(
          cents, col("embedding"), keep).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(nat == hof, s"native/HOF divergence at keep=$keep:\n$nat\nvs\n$hof")
    }
    // non-finite inputs: a NaN centroid makes d2 NaN for every row
    // against that cell, an Inf vector element makes d2 Inf (and NaN
    // against the NaN cell). The native kernel's total-order
    // comparisons must sort these exactly where the HOF twin's
    // array_sort puts them (NaN greatest) — under primitive < a NaN
    // first sample froze into the buffer as an unbeatable entry and
    // blocked every later finite centroid (caught in review, r14)
    val nanCents = Array(
      Array(Double.NaN, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0))
    val nfVecs = Seq(
      (0L, Array(0.0f, 1.0f, 0.0f)),
      (1L, Array(Float.PositiveInfinity, 0.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    for (keep <- Seq(1, 2, 3)) {
      val nat = nfVecs.select(col("vec_id"), Similarity.nearCellsTest(
          nanCents, col("embedding"), keep).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val hof = nfVecs.select(col("vec_id"), Similarity.nearCellsHof(
          nanCents, col("embedding"), keep).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(nat == hof,
        s"native/HOF divergence on non-finite input at keep=$keep:\n$nat\nvs\n$hof")
      // the finite vector must prefer the finite cells over the NaN cell
      if (keep == 1) assert(nat(0L) == Seq(1))
    }
    // and on the real corpus with Lloyd-shaped arbitrary centroids
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val wide = Array.tabulate(8)(c => Array.tabulate(64)(j =>
      math.sin(c * 17 + j) * 0.3))
    val n2 = emb.select(col("vec_id"), Similarity.nearCellsTest(
        wide, col("embedding"), 2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val h2 = emb.select(col("vec_id"), Similarity.nearCellsHof(
        wide, col("embedding"), 2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(n2 == h2)
  }

  test("semanticDedup: zero-norm vector assigns deterministically, never pairs") {
    import spark.implicits._
    // id 2 is the all-zero vector: every cosine with it is undefined
    // (0/0). The engine pins undefined cosines to -2.0, so it lands in
    // the smallest seed's cell by the tie rule and never forms a
    // τ-pair — identical semantics to the oracle's CASE guard (without
    // the guard, Spark's array_sort and DuckDB's ORDER BY DESC order
    // the NaN opposite ways and the cell assignment diverges).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nSeeds = 2, tau = 0.8).orderBy("vec_id").collect()
    assert(out(2).getAs[Long]("cell") == 0L) // all cosines -2.0 → tie → seed 0
    assert(out(2).getAs[Boolean]("keep")) // never a τ-pair
    assert(out(2).isNullAt(out(2).fieldIndex("dup_of")))
    assert(out(3).getAs[Long]("dup_of") == 0L) // real pairs unaffected
  }

  test("hammingPairs: nChunks=1 is exact fingerprint equality; bad chunkBits rejected") {
    import spark.implicits._
    val fp = Seq((1L, 42L), (2L, 42L), (3L, 43L)).toDF("doc_id", "h")
    val out = Dedup.hammingPairs(fp, "doc_id", "h",
      nChunks = 1, chunkBits = 8, maxDist = 0).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id_a") == 1L &&
      out.head.getAs[Long]("id_b") == 2L &&
      out.head.getAs[Int]("hamming") == 0)
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(fp, "doc_id", "h", nChunks = 1, chunkBits = 64,
        maxDist = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(fp, "doc_id", "h", nChunks = 2, chunkBits = 0,
        maxDist = 1)
    }
  }

  test("hammingPairsCapped: hot band pruned; cold-chunk pairs survive a hot smallest chunk") {
    import spark.implicits._
    // planted flood: 21 identical fingerprints heat all four of their
    // chunk keys past the cap; docs 1/2 share the flood's chunk-0
    // value (0xEF) but differ from it everywhere else, and differ
    // from EACH OTHER by one bit in chunk 1
    val flood = (100L to 120L).map(i => (i, 0xDEADBEEFL))
    val fp = (flood :+ ((1L, 0x111111EFL)) :+ ((2L, 0x111111EFL ^ (1L << 8))))
      .toDF("doc_id", "h")
    val capped = Dedup.hammingPairsCapped(fp, "doc_id", "h",
      nChunks = 4, chunkBits = 8, maxDist = 3, maxChunkDf = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // flood pairs are gone, and the (1,2) pair SURVIVES via its cold
    // chunks 2/3 even though its smallest shared chunk is heated by
    // the flood — the reason the capped form dedups by distinct, not
    // by the smallest-shared-chunk trick
    assert(capped == Seq((1L, 2L, 1)))
    // the uncapped form pays the flood: 21·20/2 pairs + the real one
    assert(Dedup.hammingPairs(fp, "doc_id", "h", 4, 8, 3).count() == 211L)
    // with no hot keys the two forms are row-identical
    val cold = fp.filter(col("doc_id") < 100L)
    val cSet = Dedup.hammingPairsCapped(cold, "doc_id", "h", 4, 8, 3, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val uSet = Dedup.hammingPairs(cold, "doc_id", "h", 4, 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cSet == uSet && cSet.nonEmpty)
  }

  test("jpeg round trip is genuinely lossy, bounded, and twin-deterministic") {
    import spark.implicits._
    // direct codec pins, no Spark: the codec really degrades pixels
    // (lossy), within the tol the q_jpeg_meta oracle states, and the
    // planted twin (key construction) decodes byte-identically
    val errs = (0L until 768L).map { id => // full (w,h,cell) synth period
      val (s, d) = Multimodal.jpegRoundTripForTest(id)
      assert(d.getWidth == s.getWidth && d.getHeight == s.getHeight)
      Multimodal.jpegMaxErr(s, d)
    }
    assert(errs.max > 0, "JPEG round trip was lossless — not a lossy test")
    assert(errs.max <= 48, s"max error ${errs.max} exceeds the oracle tol")
    // perceptual chain: twins hamming-0 through REAL artifacts;
    // distinct keys separated
    val ids = Seq(1L, 2L, 3L, 10000001L).toDF("doc_id")
    val fp = Multimodal.jpegPerceptualHash(ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(fp(1L) == fp(10000001L))
    assert(fp(1L) != fp(2L) && fp(2L) != fp(3L))
    // and the decode is genuinely artifact-laden for these very ids
    val (s1, d1) = Multimodal.jpegRoundTripForTest(1L)
    assert(Multimodal.jpegMaxErr(s1, d1) > 0)
  }

  test("dedupIngest: exact + near verdicts in one call, keep only when all clear") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val known = docs((1L, base), (2L, (100 to 160).map(i => s"v$i").mkString(" ")))
    val fresh = docs(
      (10L, base), // exact copy of known 1: is_known AND near-dup
      (11L, base + " " + base), // near-dup only (simhash scale-invariant)
      (12L, (200 to 260).map(i => s"u$i").mkString(" "))) // unique
    val out = Dedup.dedupIngest(fresh, known, "doc_id", "text", maxDist = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("is_known"))
    assert(out(0).getAs[Long]("dup_of_known") == 1L)
    assert(!out(0).getAs[Boolean]("keep"))
    assert(!out(1).getAs[Boolean]("is_known")) // doubled text ≠ exact
    assert(out(1).getAs[Long]("dup_of_known") == 1L)
    assert(out(1).getAs[Long]("dup_of_batch") == 10L)
    assert(!out(1).getAs[Boolean]("keep"))
    assert(!out(2).getAs[Boolean]("is_known"))
    assert(out(2).isNullAt(out(2).fieldIndex("dup_of_known")))
    assert(out(2).getAs[Boolean]("keep"))
    // agrees with the two single-axis operators it unifies
    val exact = Dedup.dedupAgainstKnown(fresh, known, "doc_id", "text")
      .orderBy("doc_id").collect()
    val near = Dedup.simHashIncremental(fresh, known, "doc_id", "text",
      maxDist = 3).orderBy("doc_id").collect()
    out.zip(exact).foreach { case (u, e) =>
      assert(u.getAs[Boolean]("is_known") == e.getAs[Boolean]("is_known"))
      assert(u.getAs[String]("text_hash") == e.getAs[String]("text_hash"))
    }
    out.zip(near).foreach { case (u, n) =>
      assert(u.get(u.fieldIndex("dup_of_known")) ==
        n.get(n.fieldIndex("dup_of_known")))
      assert(u.get(u.fieldIndex("dup_of_batch")) ==
        n.get(n.fieldIndex("dup_of_batch")))
    }
  }

  test("dedupIngest: persisted known-side indexes reproduce the recompute path") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val known = docs((1L, base), (2L, (100 to 160).map(i => s"v$i").mkString(" ")))
    val fresh = docs((10L, base), (12L, (200 to 260).map(i => s"u$i").mkString(" ")))
    val fpK = Dedup.simHash(known, "doc_id", "text")
    val hashIdx = known
      .select(Dedup.normHash(col("text")).as("text_hash")).distinct()
    val viaIndexes = Dedup.dedupIngest(fresh, known, "doc_id", "text",
      maxDist = 3, knownFp = Some(fpK), knownIndex = Some(hashIdx))
      .orderBy("doc_id").collect()
    val recomputed = Dedup.dedupIngest(fresh, known, "doc_id", "text",
      maxDist = 3).orderBy("doc_id").collect()
    assert(viaIndexes.toSeq == recomputed.toSeq)
    // a sloppy caller's duplicate-row index must not fan out the join
    val viaDupIndex = Dedup.dedupIngest(fresh, known, "doc_id", "text",
      maxDist = 3, knownIndex = Some(hashIdx.union(hashIdx)))
      .orderBy("doc_id").collect()
    assert(viaDupIndex.toSeq == recomputed.toSeq)
    // the index-only entry point (no corpus-text argument at all)
    // produces the identical verdicts
    val indexed = Dedup.dedupIngestIndexed(fresh, fpK, hashIdx,
      "doc_id", "text", maxDist = 3).orderBy("doc_id").collect()
    assert(indexed.toSeq == recomputed.toSeq)
  }

  test("quality classifier: learns a separable stopword rule, model round-trips") {
    // stop-dense docs (y=1) vs stopword-free docs (y=0): linearly
    // separable in hashed count space, so 6 diagonal-Newton rounds
    // must classify every doc correctly; 20 docs so the per-bucket
    // Hessians are populated
    val d = docs((1 to 20).map { i =>
      val t = if (i % 2 == 0) "the a of and in the a"
              else s"alpha$i beta$i gamma delta epsilon zeta eta"
      (i.toLong, t)
    }: _*)
    val model = TextStats.trainQualityClassifier(d, "doc_id", "text")
    val rows = model.orderBy("feature_idx").collect()
    assert(rows.length == 33)
    assert(rows.map(_.getAs[Int]("feature_idx")).toSeq == (0 to 32))
    val applied = TextStats.applyQualityClassifier(d, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    applied.foreach { r =>
      val want = r.getAs[Long]("doc_id") % 2 == 0
      assert(r.getAs[Boolean]("pred") == want, s"doc ${r.getAs[Long]("doc_id")}")
      assert((r.getAs[Long]("y_heur") == 1L) == want)
      // score_ppm is the micro sigmoid of the SAME zm the pred used
      assert(r.getAs[Long]("score_ppm") >= 0L &&
        r.getAs[Long]("score_ppm") <= 1000000L)
    }
    // eval on the odd half: all correct, 10 docs all y=0 there -> the
    // model must beat the 10-of-10 majority... it can't (equal), so
    // eval on the full set instead: 20 correct > majority 10
    val ev = TextStats.evalQualityClassifier(
      TextStats.applyQualityClassifier(d, "doc_id", "text", model),
      lit(true)).collect()(0)
    assert(ev.getAs[Long]("tp") == 10L && ev.getAs[Long]("tn") == 10L)
    assert(ev.getAs[Long]("fp") == 0L && ev.getAs[Long]("fn") == 0L)
    assert(ev.getAs[Boolean]("beats_majority"))
    // a wrong-size model is rejected, not silently truncated
    intercept[IllegalArgumentException] {
      TextStats.applyQualityClassifier(d, "doc_id", "text",
        model.filter(col("feature_idx") < 10))
    }
  }

  test("quality classifier training is deterministic across partition layouts") {
    val d = docs((1 to 30).map(i =>
      (i.toLong, if (i % 3 == 0) "the a of and in words here"
                 else s"w$i x$i y$i z$i common tail tokens")): _*)
    val w1 = TextStats.trainQualityClassifier(d.repartition(1), "doc_id", "text")
      .orderBy("feature_idx").collect().map(_.getAs[Long]("weight_micro")).toSeq
    val w8 = TextStats.trainQualityClassifier(d.repartition(8), "doc_id", "text")
      .orderBy("feature_idx").collect().map(_.getAs[Long]("weight_micro")).toSeq
    assert(w1 == w8)
    assert(w1.exists(_ != 0L)) // it actually moved off the origin
  }

  test("retriever scoring pins zero-norm cosines to -2.0 (ranked last, never NaN)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f)), // zero-norm: cosine undefined
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(queries, corpus, "vec_id",
      "embedding", k = 3).orderBy("rank").collect()
    // without the safeCosine pin, NaN sorts greatest in Spark's desc
    // rank and the zero vector would win rank 1
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L, 2L))
    assert(out(2).getAs[Double]("cosine") == -2.0)
    // kNN votes: the zero-norm labeled doc is the LAST neighbor, so
    // with k=2 it never out-votes the two real neighbors
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f), 7),
      (2L, Array(0.0f, 0.0f), 3),
      (3L, Array(0.9f, 0.1f), 7)).toDF("vec_id", "embedding", "label")
    val knn = Similarity.knnLabel(queries, labeled, "vec_id", "embedding",
      "label", k = 2).collect()
    assert(knn.head.getAs[Int]("label_pred") == 7 &&
      knn.head.getAs[Long]("votes") == 2L)
  }

  test("simHashIncremental: precomputed known-side index reproduces the recomputed path") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val known = docs((1L, base), (2L, (100 to 160).map(i => s"v$i").mkString(" ")))
    val fresh = docs((10L, base + " " + base),
      (12L, (200 to 260).map(i => s"u$i").mkString(" ")))
    val fpK = Dedup.simHash(known, "doc_id", "text")
    val viaIndex = Dedup.simHashIncremental(fresh, known, "doc_id", "text",
      maxDist = 3, knownFp = Some(fpK)).orderBy("doc_id").collect()
    val recomputed = Dedup.simHashIncremental(fresh, known, "doc_id", "text",
      maxDist = 3).orderBy("doc_id").collect()
    assert(viaIndex.toSeq == recomputed.toSeq)
    assert(viaIndex(0).getAs[Long]("dup_of_known") == 1L)
    assert(viaIndex(1).getAs[Boolean]("keep"))
  }

  test("semanticDedupRecall: every tau-pair here is intra-cell") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)),
      (4L, Array(0.1f, 0.9f, 0.0f)),
      (5L, Array(-1.0f, -2.0f, 5.0f))).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedupRecall(emb, "vec_id", "embedding",
      nSeeds = 2, tau = 0.8, minPct = 10).head()
    // pairs >= 0.8: (0,2) (0,3) (2,3) (1,4) — all within their cell
    assert(r.getAs[Long]("n_true") == 4L)
    assert(r.getAs[Long]("n_caught") == 4L)
    assert(r.getAs[Boolean]("recall_ok"))
  }

  test("token counts and quality signals") {
    val out = TextStats.tokenCounts(docs((1L, "the cat sat, 42 times!")), "doc_id", "text").head()
    assert(out.getAs[Int]("tokens_ws") == 5)
    // [a-z]+ runs: the,cat,sat,times; digits: 42; punct: , ! -> 7
    assert(out.getAs[Int]("tokens_re") == 7)
    val q = TextStats.qualityScore(docs((1L, "the cat the dog")), "doc_id", "text").head()
    assert(q.getAs[Long]("word_count") == 4L)
    assert(q.getAs[Double]("stop_ratio") == 0.5)
    assert(q.getAs[Long]("distinct_words") == 3L)
  }

  test("decontaminate flags shingle overlap with the benchmark, skips clean docs") {
    val bench = docs((100L, "the quick brown fox jumps over the lazy dog"))
    val train = docs(
      (1L, "look the quick brown fox jumps again today"), // shares 3-shingles
      (2L, "completely different content with no overlap at all"))
    val out = Dedup.decontaminate(train, bench, "doc_id", "text",
      k = 3, minShared = 2).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 100L)
    assert(out.head.getLong(2) >= 2) // "the quick brown", "quick brown fox", "brown fox jumps"
  }

  test("decontaminateBloom equals decontaminate (fp-proof verify join)") {
    val bench = docs((100L, "the quick brown fox jumps over the lazy dog"),
      (129L, "pack my box with five dozen liquor jugs today ok"))
    val train = docs(
      (1L, "look the quick brown fox jumps again today"),
      (2L, "completely different content with no overlap at all"),
      (3L, "pack my box with five dozen bright red apples"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bench_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = rows(Dedup.decontaminate(train, bench, "doc_id", "text",
      k = 3, minShared = 2))
    val bloomed = rows(Dedup.decontaminateBloom(train, bench, "doc_id",
      "text", k = 3, minShared = 2, fpp = 0.01))
    assert(exact.nonEmpty && bloomed === exact)
    // a tight filter (high fpp) must still be exact — fps only waste probes
    val sloppy = rows(Dedup.decontaminateBloom(train, bench, "doc_id",
      "text", k = 3, minShared = 2, fpp = 0.5))
    assert(sloppy === exact)
  }

  test("centroidDrift: per-source centroid cosine vs corpus; zero source is NULL") {
    import spark.implicits._
    // A → (1,0), B → (0,1); corpus centroid ∝ (1,1) ⇒ both drift at 1/√2
    val df = Seq(
      ("A", Array(1.0f, 0.0f)), ("A", Array(1.0f, 0.0f)),
      ("B", Array(0.0f, 1.0f)), ("B", Array(0.0f, 1.0f)),
      ("Z", Array(0.0f, 0.0f))).toDF("source", "embedding")
    val out = Similarity.centroidDrift(df, "source", "embedding")
      .orderBy("source").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 2L)
    assert(math.abs(out(0).getDouble(2) - 0.707107) < 1e-9)
    assert(math.abs(out(1).getDouble(2) - 0.707107) < 1e-9)
    assert(out(2).isNullAt(2)) // zero-norm source has no direction
  }

  test("centroidDrift: decimal accumulator overflow is loud, never silent NULL") {
    import spark.implicits._
    // per-dim sums land near int64 max (iv ≈ 9.2e18); the over-dims
    // Σ sc² ≈ 2·8.5e37 = 1.7e38 > 1e38 overflows DECIMAL(38,0) — under
    // ANSI that throws in the sum, with ANSI off the assert_true guard
    // fires on the NULL accumulator. Either way: an error, not a NULL
    // row pretending "no drift".
    val big = 9.2e15f // iv = round(v·1000) ≈ 9.2e18
    val df = Seq(
      ("A", Array(big, big)), ("B", Array(big, big)))
      .toDF("source", "embedding")
    val ex = intercept[Exception] {
      Similarity.centroidDrift(df, "source", "embedding").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m =>
      m.toLowerCase.contains("overflow") || m.contains("centroidDrift")))
  }

  test("semanticDecontaminate flags cosine neighbors of the benchmark only") {
    import spark.implicits._
    // bench = axis e1; train: id 1 ≈ e1 (cos≈0.995), id 2 ⟂ e1,
    // id 3 anti-parallel (cos −1 < threshold)
    val bench = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(10.0f, 1.0f)),
      (2L, Array(0.0f, 2.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(train, bench, "vec_id",
      "embedding", threshold = 0.9).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L)
    assert(out.head.getLong(1) == 1L) // one bench hit
    assert(math.abs(out.head.getDouble(2) - 10.0 / math.sqrt(101.0)) < 1e-6)

    // two bench neighbors aggregate into one row with max_cos
    val bench2 = Seq((100L, Array(1.0f, 0.0f)), (101L, Array(1.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val out2 = Dedup.semanticDecontaminate(train, bench2, "vec_id",
      "embedding", threshold = 0.9).collect()
    assert(out2.length == 1 && out2.head.getLong(1) == 2L)
  }

  test("sourceStats: per-source volume, dup rate, chars and language mix") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaa bbb", "en", "s1"), (2L, "AAA BBB ", "en", "s1"), // exact dups
      (3L, "ccc", "de", "s1"),
      (4L, "ddd eee fff", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextStats.sourceStats(d, "source", "text", "lang")
      .orderBy("source").collect()
    val s1 = out(0)
    assert(s1.getLong(1) == 3 && s1.getLong(2) == 2) // 3 docs, 2 unique
    assert(s1.getDouble(3) == 0.333333) // round(1 - 2/3, 6)
    assert(s1.getLong(4) == 7 + 8 + 3 && s1.getLong(5) == 2)
    val s2 = out(1)
    assert(s2.getLong(1) == 1 && s2.getDouble(3) == 0.0 && s2.getLong(5) == 1)
  }

  test("dupClusters: chain, triangle, singleton resolve to min-id components") {
    import spark.implicits._
    // components: {1,2,3,4} chain, {10,11,12} triangle, {20} singleton
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id_a", "id_b")
    val out = Dedup.dupClusters(ids, pairs, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    graft.core.Caches.unpersistAll()
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (20L, 20L, true)))
  }

  test("dupClusters: a 300-node path converges within the round budget") {
    import spark.implicits._
    // plain neighbor-min needs ~300 rounds on a path; pointer doubling
    // must close it inside the default 25-round budget
    val n = 300
    val ids = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(ids, pairs, "doc_id").collect()
    graft.core.Caches.unpersistAll()
    assert(out.length == n)
    assert(out.forall(_.getLong(1) == 0L), "all nodes must join component 0")
    assert(out.count(_.getBoolean(2)) == 1)
  }

  test("dupClusters: RDD fast path ≡ SQL twin label for label") {
    import spark.implicits._
    // the long-id fast path (RDD loop, fixed partitioner) must emit
    // exactly the SQL loop's labels — chain + clique + bridge +
    // singletons, plus a seeded random slice
    val rnd = new scala.util.Random(7)
    val n = 200
    val edges = ((0L until 60L).map(i => (i, i + 1)) ++ // long chain
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (102L, 60L)) ++
      (1 to 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val ids = (0L until n).toDF("doc_id")
    // NULL endpoints must be ignored by BOTH paths (SQL join
    // semantics drop them; the RDD path must not NPE on getLong)
    val pairs = edges
      .map { case (a, b) =>
        (java.lang.Long.valueOf(a), java.lang.Long.valueOf(b))
      }
      .toDF("id_a", "id_b")
      .unionByName(Seq(
        (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)),
        (java.lang.Long.valueOf(5L), null.asInstanceOf[java.lang.Long]))
        .toDF("id_a", "id_b"))
    val viaRdd = Dedup.dupClustersRdd(ids, pairs, "doc_id", 25)
      .collect().map(_.toString).sorted.toSeq
    graft.core.Caches.unpersistAll()
    val viaSql = Dedup.dupClustersSql(ids, pairs, "doc_id", 25)
      .collect().map(_.toString).sorted.toSeq
    graft.core.Caches.unpersistAll()
    assert(viaRdd == viaSql)
  }

  test("dupClusters: random graphs match a union-find oracle") {
    import spark.implicits._
    // seeded generator → deterministic test; shapes mix sparse random
    // edges (many small components) and a dense slice (one giant one)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 80 + trial * 40
      val edges = (1 to n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).map { i =>
        // component min = root under min-union (parent chain decreases)
        (i.toLong, find(i).toLong)
      }.toMap
      val ids = (0L until n).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      val out = Dedup.dupClusters(ids, pairs, "doc_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.core.Caches.unpersistAll()
      assert(out == expect, s"trial $trial (n=$n) diverged from union-find")
    }
  }

  test("repetitionStats: dup/top-unigram/top-bigram fractions by hand") {
    import spark.implicits._
    // "a a a b": 4 words, 2 distinct, top word a=3/4,
    // bigrams [a a, a a, a b] -> top 2/3
    val d = Seq((1L, "a a a b"), (2L, "x"), (3L, "  ")).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 2, "all-whitespace doc must be dropped")
    val r1 = out(0)
    assert(r1.getLong(1) == 4 && r1.getLong(2) == 2)
    assert(r1.getDouble(3) == 0.5)
    assert(r1.getDouble(4) == 0.75)
    assert(r1.getDouble(5) == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    val r2 = out(1) // single word: no bigrams -> 0.0
    assert(r2.getLong(1) == 1 && r2.getDouble(4) == 1.0 && r2.getDouble(5) == 0.0)
  }

  test("repetitionStats fold and relational formulations agree on real docs") {
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = TextStats.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val b = RepetitionTwin.repetitionStatsRelational(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch: $x vs $y") }
  }

  test("repetitionStats formulations score duplicated doc ids per row") {
    import spark.implicits._
    // a repeated id (pre-dedup ingestion batch) must yield one output
    // row per input row in BOTH formulations — the relational form
    // must not merge term frequencies across the duplicate rows
    val d = Seq((7L, "a a b"), (7L, "c c c d"), (8L, "x y")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "n_words").collect().toSeq
    val a = rows(TextStats.repetitionStats(d, "doc_id", "text"))
    val b = rows(RepetitionTwin.repetitionStatsRelational(d, "doc_id", "text"))
    assert(a.length == 3, s"fold must keep both id-7 rows: $a")
    assert(a == b, s"formulations diverge on duplicate ids: $a vs $b")
  }

  test("per-row minhash signatures equal the shingle-table groupBy aggregation") {
    import spark.implicits._
    // deterministic predicate, not limit(50): limit picks whichever
    // partitions answer first, so two separate jobs could compare
    // different doc sets
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    // historical groupBy formulation (what the oracle SQL still mirrors)
    val sh = Dedup.shinglesHashed(docs, "doc_id", "text", 2)
    val hex = md5(col("sh60").cast("string"))
    val shH = sh
      .withColumn("__h1", conv(substring(hex, 1, 15), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(hex, 16, 11), 16, 10).cast("long"))
    val aggs = (0 until 12).map(i =>
      min(col("__h1") + lit(i.toLong) * col("__h2")).as(s"sig_$i"))
    val viaAgg = shH.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    val viaFold = docs
      .select(col("doc_id"), Dedup.minHashSigArray(col("text"), 2, 12).as("sa"))
      .filter(element_at(col("sa"), 1).isNotNull)
      .select(col("doc_id") +: (0 until 12).map(i =>
        element_at(col("sa"), i + 1).as(s"sig_$i")): _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    graft.core.Caches.unpersistAll()
    assert(viaFold.length == viaAgg.length && viaFold.nonEmpty)
    viaAgg.zip(viaFold).foreach { case (a, f) =>
      assert(a == f, s"signature mismatch for doc ${a.head}")
    }
  }

  test("wordFrequencies: counts, doc frequency, deterministic ties") {
    import spark.implicits._
    val d = Seq((1L, "b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextStats.wordFrequencies(d, "doc_id", "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a and b both occur twice; tie breaks lexicographically (a first)
    assert(out.toSeq == Seq(("a", 2L, 2L), ("b", 2L, 1L)))
  }

  test("distinctiveTerms: tf-desc, df-asc, term-asc ranking by hand") {
    // doc 1: rare=2 (df 1), shared=2 (df 3), common=1 (df 3)
    // -> rank1 rare (tf 2, df 1), rank2 shared (tf 2, df 3), rank3 common
    val d = docs(
      (1L, "rare rare shared shared common"),
      (2L, "shared common other"),
      (3L, "shared common"))
    val out = TextStats.distinctiveTerms(d, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).orderBy("term_rank").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("tf"),
        r.getAs[Long]("df_docs"), r.getAs[Int]("term_rank")))
    assert(out.toSeq == Seq(("rare", 2L, 1L, 1), ("shared", 2L, 3L, 2)))
    // every doc gets at most k rows, ranks are 1..k
    val all = TextStats.distinctiveTerms(d, "doc_id", "text", k = 2)
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("term_rank").as("m"))
      .collect()
    assert(all.forall(r => r.getAs[Long]("n") <= 2 &&
      r.getAs[Int]("m") <= 2))
    // the rank<=k filter must plan as WindowGroupLimit (per-task k-heap
    // before the exchange), not a full sort + post-filter
    val plan = TextStats.distinctiveTerms(d, "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter should push a partial group limit:\n$plan")
  }

  test("approx_count_distinct at rsd=0.01 stays within 4% of exact") {
    import spark.implicits._
    val d = (0 until 20000).map(i => ((i % 5).toString, (i * 7919L) % 3700L))
      .toDF("t", "user_id")
    val got = d.groupBy("t").agg(
        approx_count_distinct(col("user_id"), rsd = 0.01).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .collect()
    assert(got.length == 5)
    got.foreach { r =>
      val a = r.getAs[Long]("approx").toDouble
      val e = r.getAs[Long]("exact").toDouble
      assert(math.abs(a - e) / e < 0.04, s"hll error too big: $a vs $e")
    }
  }

  test("approx_percentile at accuracy 1000 stays inside the rank-error band") {
    // GK sketch contract: rank error <= n/accuracy. Pin each
    // approximate quantile between the exact quantiles at p +- 0.005
    // (5x the guaranteed 1/1000 band — slack for interpolation).
    val ev = sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = ev.groupBy("event_type")
      .agg(
        expr("approx_percentile(value, 0.5, 1000)").as("ap"),
        expr("percentile(value, 0.495)").as("lo"),
        expr("percentile(value, 0.505)").as("hi"),
        count(col("value")).as("n"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (ap, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(ap >= lo && ap <= hi,
        s"${r.getString(0)}: approx p50 $ap outside exact [$lo, $hi]")
    }
  }

  test("dedupAgainstKnown flags normalized matches, passes novel docs") {
    val known = docs((1L, "Hello World"), (2L, "old news"))
    val batch = docs((10L, "  hello world "), // case/trim dup of 1
      (11L, "old news"), (12L, "fresh content"))
    val out = Dedup.dedupAgainstKnown(batch, known, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_known")))
    assert(out.toSeq == Seq((10L, true), (11L, true), (12L, false)))
  }

  test("tf-family plans tokenize the corpus at most twice") {
    // column pruning defeats exchange reuse, so every consumer of the
    // tf table costs a full tokenize pass: pin the pass count so a
    // refactor can't silently reintroduce the 3-pass shape
    val d = docs((1L, "a b c"), (2L, "a b"), (3L, "a x"))
    def tokenizePasses(plan: String): Int =
      "Generate explode".r.findAllIn(plan).length
    val prune = TextStats.pruneVocabulary(d, "doc_id", "text", 2L, 2L)
      .queryExecution.executedPlan.toString
    assert(tokenizePasses(prune) == 2, s"pruneVocabulary plan:\n$prune")
    val tfidf = TextStats.distinctiveTerms(d, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(tokenizePasses(tfidf) == 2, s"distinctiveTerms plan:\n$tfidf")
  }

  test("pruneVocabulary: df band cut, zero-kept docs survive") {
    // df: a=3, b=2, unique1/unique2/unique3=1 each
    // band [2, 2]: keeps b only (a is too common, uniques too rare)
    val d = docs(
      (1L, "a b unique1"),
      (2L, "a b b unique2"),
      (3L, "a unique3"))
    val out = TextStats.pruneVocabulary(d, "doc_id", "text",
        minDf = 2L, maxDf = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms_total"),
        r.getAs[Long]("n_tokens_total"), r.getAs[Long]("n_terms_kept"),
        r.getAs[Long]("n_tokens_kept")))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, 1L, 1L),   // b kept once
      (2L, 3L, 4L, 1L, 2L),   // b kept twice (tf mass, not term count)
      (3L, 2L, 2L, 0L, 0L))) // nothing in band — doc still present
  }

  test("chunkDocs: stride/overlap boundaries and short tail") {
    import spark.implicits._
    val d = Seq((1L, "abcdefghij"), (2L, "")).toDF("doc_id", "text")
    val out = TextStats.chunkDocs(d, "doc_id", "text", chunkSize = 5, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 1L, "abcde"), (1L, 1L, 4L, "defgh"),
      (1L, 2L, 7L, "ghij"), (1L, 3L, 10L, "j")))
  }

  test("chunkDocs: strided prefixes reassemble the original document") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 20L).map(i =>
      (i, rnd.alphanumeric.take(1 + rnd.nextInt(400)).mkString)).toDF("doc_id", "text")
    for ((size, stride) <- Seq((5, 3), (64, 64), (120, 90))) {
      val chunks = TextStats.chunkDocs(docs, "doc_id", "text", size, stride)
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(1)).map(_.getString(3))).toMap
      docs.collect().foreach { r =>
        val (id, t) = (r.getLong(0), r.getString(1))
        val cs = chunks(id)
        val rebuilt = cs.init.map(_.take(stride)).mkString + cs.last
        assert(rebuilt == t, s"doc $id not reassembled at ($size,$stride)")
      }
    }
  }

  test("multimodal decode stub: schema, batching, null handling") {
    import spark.implicits._
    val d = Seq((1L, "hello"), (2L, null.asInstanceOf[String]))
      .toDF("id", "payload")
      .withColumn("media", col("payload").cast("binary"))
    val out = Multimodal.decodeColumn(d, "media").orderBy("id").collect()
    val meta = out(0).getStruct(out(0).fieldIndex("media_meta"))
    assert(meta.getInt(0) == 5) // n_bytes
    assert(meta.getDouble(4) == "hello".getBytes.map(_ & 0xff).sum.toDouble / 5)
    assert(out(1).isNullAt(out(1).fieldIndex("media_meta")))
  }

  test("multimodal decodeColumn routes real PNG bytes through javax.imageio") {
    import spark.implicits._
    // a real 7x3 PNG encoded with the JDK codec; the stub would report
    // width = n_bytes % 640 etc., so real dimensions prove real decode
    val img = new java.awt.image.BufferedImage(
      7, 3, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val d = Seq((1L, png), (2L, "not an image".getBytes))
      .toDF("id", "media")
    val out = Multimodal.decodeColumn(d, "media").orderBy("id").collect()
    val real = out(0).getStruct(out(0).fieldIndex("media_meta"))
    assert(real.getInt(1) == 7 && real.getInt(2) == 3) // decoded w/h
    assert(real.getInt(3) == 1) // n_frames: still image
    val stub = out(1).getStruct(out(1).fieldIndex("media_meta"))
    assert(stub.getInt(1) == "not an image".length % 640) // fallback path
  }

  test("pngRoundTripMeta: decoded metadata matches the closed-form pixel function") {
    import spark.implicits._
    val d = Seq(0L, 5L, 17L, 100L).toDF("doc_id")
    val out = Multimodal.pngRoundTripMeta(d, "doc_id")
      .orderBy("doc_id").collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val w = (1 + id % 16).toInt
      val h = (1 + id % 12).toInt
      val expected = (for (y <- 0 until h; x <- 0 until w)
        yield (31L * x + 17L * y + id) % 256).sum
      assert(r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getInt(3) == 3) // decoded raster bands
      assert(r.getLong(4) == expected, s"sum_px mismatch for id=$id")
    }
  }

  test("gifFrameMeta: every decoded frame matches the closed-form pixel function") {
    import spark.implicits._
    val d = Seq(0L, 5L, 17L, 100L, 255L).toDF("doc_id")
    val out = Multimodal.gifFrameMeta(d, "doc_id")
      .orderBy("doc_id", "frame_idx").collect()
    // frame counts: nf = 2 + id % 5, every frame present exactly once
    val byDoc = out.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rows) =>
      val nf = (2 + id % 5).toInt
      assert(rows.length == nf, s"id=$id decoded ${rows.length} frames, want $nf")
      assert(rows.map(_.getInt(1)).sorted.toSeq == (0 until nf))
      rows.foreach { r =>
        val f = r.getInt(1)
        val w = (1 + id % 16).toInt
        val h = (1 + id % 12).toInt
        val expected = (for (y <- 0 until h; x <- 0 until w)
          yield (31L * x + 17L * y + id + 7L * f) % 256).sum
        assert(r.getInt(2) == nf && r.getInt(3) == w && r.getInt(4) == h)
        assert(r.getLong(5) == expected,
          s"sum_px mismatch id=$id frame=$f: ${r.getLong(5)} vs $expected")
      }
    }
  }

  test("gifFrameHash: consecutive frames are near-dups; hammingPairs finds them") {
    import spark.implicits._
    // id 32: w=1+32%16=1 -> degenerate 1px wide; use ids with real rasters
    val d = Seq(5L, 17L).toDF("doc_id")
    val fp = Multimodal.gifFrameHash(d, "doc_id")
    val rows = fp.orderBy("fkey").collect()
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) * 8 + r.getInt(1)) // fkey packing
      assert((r.getLong(3) & ~((1L << 56) - 1)) == 0L) // 56-bit hash
    }
    // the +7 per-frame brightness shift preserves most gradient signs:
    // consecutive frames of one video must sit within hamming 3
    val pairs = Dedup.hammingPairs(fp.select("fkey", "dhash"), "fkey",
      "dhash", nChunks = 4, chunkBits = 14, maxDist = 3).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- Seq(5L, 17L); f <- 0 until (2 + id % 5).toInt - 1) {
      val (a, b) = (id * 8 + f, id * 8 + f + 1)
      assert(pairSet.contains((a, b)),
        s"consecutive frames $a,$b of video $id not near-dup paired")
    }
  }

  test("df-capped ngram jaccard drops hot-shingle-only pairs, keeps exact scores") {
    // docs 1-2: near-dups via RARE shingles; docs 3-4: overlap ONLY in
    // a shingle shared by every doc (hot), so the cap must not pair them
    val hot = "common common"
    val d = docs(
      (1L, s"$hot a b c d e f g h"),
      (2L, s"$hot a b c d e f g x"),
      (3L, s"$hot p q r"),
      (4L, s"$hot t u v"))
    val exact = Dedup.ngramJaccard(d, "doc_id", "text", k = 2, threshold = 0.1)
      .orderBy("id_a", "id_b").collect()
    val capped = Dedup.ngramJaccardCapped(d, "doc_id", "text", k = 2,
      threshold = 0.1, maxDf = 2)
      .orderBy("id_a", "id_b").collect()
    // capped finds the rare-overlap pair with the SAME exact jaccard
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val e12 = exact.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(capped.head.getAs[Double]("jaccard") == e12.getAs[Double]("jaccard"))
    // the exact baseline DOES see hot-only pairs like (3,4) at low
    // threshold -- asserting the cap is what removed them
    assert(exact.exists(r => r.getLong(0) == 3L && r.getLong(1) == 4L))
  }

  test("prefix-filtered jaccard equals the exact inverted-index baseline") {
    // real corpus slice: the lossless-prefix claim must hold on
    // arbitrary text, not a constructed example
    val d = sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 400)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.ngramJaccard(d, "doc_id", "text", k = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("jaccard"))).toSet
      val prefix = Dedup.ngramJaccardPrefix(d, "doc_id", "text", k = 2,
        threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("jaccard"))).toSet
      assert(prefix == exact, s"prefix-filter lost or invented pairs at t=$t")
      assert(exact.nonEmpty || t > 0.5) // the low thresholds must exercise pairs
    }
  }

  test("prefix index is smaller than the full inverted index") {
    // the prefix table must actually prune: at t=0.5 each doc
    // contributes ~n/2+1 of its n shingles
    val d = docs(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i x"),
      (3L, "p q r s t u v w y z"))
    val sh = Dedup.shinglesHashed(d, "doc_id", "text", 2)
    val full = sh.count()
    // mirror the operator's internal prefix selection
    val dfreq = sh.groupBy("sh60").agg(count(lit(1)).as("__df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val prefixRows = sh.join(dfreq, "sh60")
      .withColumn("__rn", row_number().over(byDoc.orderBy(col("__df"), col("sh60"))))
      .withColumn("__n", count(lit(1)).over(byDoc))
      .filter(col("__rn") <= col("__n") - ceil(col("__n") * lit(0.5) - lit(1e-9)) + 1)
      .count()
    assert(prefixRows < full && prefixRows >= full / 2)
  }

  test("cleanText strips markup, masks emails/urls, collapses whitespace") {
    val d = docs(
      (1L, "Hello <b>world</b>   contact bob@example.com or https://x.io/a?b=1 now"),
      (2L, "plain  text"))
    val c = TextStats.cleanText(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(c(0).getAs[String]("clean_text") ==
      "Hello world contact <EMAIL> or <URL> now")
    assert(c(0).getAs[Int]("n_emails") == 1 && c(0).getAs[Int]("n_urls") == 1)
    assert(c(1).getAs[String]("clean_text") == "plain text")
  }

  test("corpusFilter keeps quality english non-duplicates only") {
    val good = "the cat and the dog of a house in the sun is " +
      (1 to 90).map(i => s"w$i").mkString(" ")
    val german = "der hund und die katze ist das " +
      (1 to 90).map(i => s"g$i").mkString(" ")
    val d = docs((1L, good), (2L, good), (3L, german), (4L, "tiny"))
    val out = TextStats.corpusFilter(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("keep")).toSeq ==
      Seq(true, false, false, false))
    assert(!out(1).getAs[Boolean]("is_keeper")) // duplicate of 1
    assert(!out(2).getAs[Boolean]("lang_ok"))   // german
    assert(!out(3).getAs[Boolean]("quality_ok")) // too short
  }

  test("int8 quantization round-trips within scale resolution") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(2.0f, 2.0f, -2.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(d, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    val q1 = out(0).getSeq[Int](out(0).fieldIndex("q"))
    assert(q1 == Seq(64, -127, 32, 0)) // scale = 127
    // max reconstruction error per element is 0.5/scale
    assert(out(0).getAs[Double]("mse") < math.pow(0.5 / 127.0, 2))
    assert(out(1).getSeq[Int](out(1).fieldIndex("q")) == Seq(127, 127, -127, 64))
  }

  test("packBatches fills token budgets greedily per shard") {
    import spark.implicits._
    // one shard (ids all ≡ 1 mod 16), 10-token docs, budget 25:
    // cum 10/20/30/40/50 -> starts 0/10/20/30/40 -> batches 0,0,0,1,1
    val d = Seq.tabulate(5)(i => (1L + 16L * i, ("w " * 10).trim))
      .toDF("doc_id", "text")
    val out = TextStats.packBatches(d, "doc_id", "text",
      budgetTokens = 25, nShards = 16)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_tokens")).forall(_ == 10))
    assert(out.map(_.getAs[Long]("shard")).distinct.toSeq == Seq(1L))
    assert(out.map(_.getAs[Long]("batch")).toSeq == Seq(0L, 0L, 0L, 1L, 1L))
  }

  test("stratified sampling is deterministic and per-stratum bounded") {
    import spark.implicits._
    val d = (1L to 2000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("doc_id", "lang")
    val out = Sampling.stratifiedSample(d, "doc_id", "lang",
      bps = Map("en" -> 5000, "de" -> 1000), defaultBps = 0)
    val byLang = out.filter(col("kept")).groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash buckets are ~uniform: en keeps ~50%, de ~10%, fr none
    assert(byLang.getOrElse("fr", 0L) == 0L)
    assert(math.abs(byLang("en") / 667.0 - 0.5) < 0.1)
    assert(math.abs(byLang("de") / 667.0 - 0.1) < 0.05)
    // rerun -> identical kept set (no RNG, no partition dependence)
    val again = Sampling.stratifiedSample(d.repartition(7), "doc_id", "lang",
      bps = Map("en" -> 5000, "de" -> 1000), defaultBps = 0)
    assert(out.filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).sorted
      sameElements again.filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).sorted)
  }

  test("fixedSizeSample delivers exactly k per stratum, partition-independent") {
    import spark.implicits._
    val d = (1L to 900L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("doc_id", "lang")
    val out = Sampling.fixedSizeSample(d, "doc_id", "lang", k = 25)
    val counts = out.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 25L, "de" -> 25L, "fr" -> 25L))
    // small stratum: capped at its size
    val small = Sampling.fixedSizeSample(d.filter(col("doc_id") <= 10),
      "doc_id", "lang", k = 25)
    assert(small.count() == 10)
    // rerun on a different layout -> identical membership AND ranks
    val again = Sampling.fixedSizeSample(d.repartition(7), "doc_id", "lang",
      k = 25)
    assert(out.orderBy("stratum", "sample_rank").collect.toSeq ==
      again.orderBy("stratum", "sample_rank").collect.toSeq)
  }

  test("trainValTestSplit is superset-stable and partitions the corpus") {
    import spark.implicits._
    val d = (1L to 2000L).toDF("doc_id")
    val out = Sampling.trainValTestSplit(d, "doc_id",
      trainBps = 9000, valBps = 500)
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L)
    // ~90/5/5 within hash tolerance on 2000 ids
    assert(counts("train") > 1700 && counts("train") < 1900, counts)
    assert(counts("val") > 50 && counts("val") < 170, counts)
    assert(counts("test") > 50 && counts("test") < 170, counts)
    // superset stability: dropping half the corpus never reassigns a doc
    val half = Sampling.trainValTestSplit(
      d.filter(col("doc_id") % 2 === 0), "doc_id", 9000, 500)
    val full = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    half.collect().foreach(r =>
      assert(full(r.getLong(0)) == r.getString(2), s"reassigned: $r"))
  }

  test("mixByQuota hits per-source quotas with hash-rank membership") {
    import spark.implicits._
    val d = (1L to 300L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val out = Sampling.mixByQuota(d, "doc_id", "source",
      Map("src0" -> 7, "src1" -> 4), defaultQuota = 2)
    val counts = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("src0" -> 7L, "src1" -> 4L, "src2" -> 2L))
    // quota larger than the stratum: capped at its size
    val tiny = Sampling.mixByQuota(d.filter(col("doc_id") <= 3), "doc_id",
      "source", Map("src0" -> 10), defaultQuota = 10)
    assert(tiny.count() == 3)
    // membership is the hash-rank prefix: same rows as fixedSizeSample
    // at the same k for a uniform quota
    val uniform = Sampling.mixByQuota(d, "doc_id", "source",
      Map.empty, defaultQuota = 5)
    val fixed = Sampling.fixedSizeSample(d, "doc_id", "source", k = 5)
    assert(uniform.orderBy("source", "sample_rank").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      fixed.orderBy("stratum", "sample_rank").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2))).toSeq)
  }

  test("topKPerStratum keeps k best per stratum with stable ties") {
    import spark.implicits._
    val d = (1L to 30L).map(i => (i, if (i <= 15) "a" else "b", (i % 5).toDouble))
      .toDF("doc_id", "lang", "score")
    val out = Sampling.topKPerStratum(d, "doc_id", "lang", col("score"), k = 3)
      .orderBy("lang", "rank").collect()
    assert(out.length == 6)
    assert(out.filter(_.getString(1) == "a").map(_.getDouble(2)).toSeq == Seq(4.0, 4.0, 4.0))
    // ties broken by smaller doc_id
    assert(out.filter(_.getString(1) == "a").map(_.getLong(0)).toSeq == Seq(4L, 9L, 14L))
  }

  test("frameSamplePlan explodes strided frame indices with timestamps") {
    import spark.implicits._
    val d = Seq((1L, 10), (2L, 0), (3L, 4)).toDF("doc_id", "n_frames")
    val out = Multimodal.frameSamplePlan(d, "doc_id", "n_frames", everyN = 4)
      .orderBy("doc_id", "frame_idx").collect()
    // doc 1: frames 0,4,8; doc 2: none; doc 3: frames 0
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 0), (1L, 4), (1L, 8), (3L, 0)))
    assert(out(1).getAs[Double]("frame_ms") == round4(4 * 1000.0 / 24.0))
  }

  test("lmScore: hand-computed bigram cross-entropy, OOV and empty docs") {
    import spark.implicits._
    // ref = doc 1 "a b a c": uni a:2 b:1 c:1, N=4 V=3;
    // bigrams (a,b):1 (b,a):1 (a,c):1
    val d = Seq((1L, "a b a c", "src0"), (2L, "a b z", "srcX"),
      (3L, "   ", "srcX")).toDF("doc_id", "text", "source")
    val out = TextStats.lmScore(d, "doc_id", "text",
      col("source") === "src0", lambda = 0.9)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    def q9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val pu: Map[String, Double] = Map("a" -> 3.0 / 7, "b" -> 2.0 / 7,
      "c" -> 2.0 / 7, "z" -> 1.0 / 7)
    def bits(p: Double) = q9(-math.log(p) / math.log(2.0))
    // doc 2 "a b z": first 'a' by pu; (a,b) = .9*(1/2)+.1*pu(b);
    // (b,z) = .9*0+.1*pu(z)
    val expected2 = (bits(pu("a")) +
      bits(0.9 * (1.0 / 2) + (1.0 - 0.9) * pu("b")) +
      bits((1.0 - 0.9) * pu("z"))) / 3
    val r2 = out(1)
    assert(r2.getAs[Long]("n_tokens") == 3L)
    assert(r2.getAs[Long]("n_oov") == 1L) // 'z' unseen in ref
    assert(math.abs(r2.getAs[Double]("bits_per_token") -
      expected2.toDouble) < 1e-6)
    // doc 1 scores under its own model; doc 3 is whitespace-only:
    // kept, zero tokens, null score
    assert(out(0).getAs[Long]("n_oov") == 0L)
    val r3 = out(2)
    assert(r3.getAs[Long]("n_tokens") == 0L && r3.isNullAt(3))
  }

  test("leakageSafeSplit keeps exact-dup families in one split") {
    import spark.implicits._
    val d = (1L to 200L).map(i => (i, if (i % 7 == 0) "dup text" else s"text $i"))
      .toDF("doc_id", "text")
    val out = Sampling.leakageSafeSplit(d, "doc_id", "text").collect()
    assert(out.length == 200)
    // every member of the "dup text" family carries the family root (7)
    // and a single common split
    val fam = out.filter(_.getAs[Long]("family_id") == 7L)
    assert(fam.length == 200 / 7)
    assert(fam.map(_.getAs[String]("split")).distinct.length == 1)
    // agrees with the id-hash split for singleton families
    val plain = Sampling.trainValTestSplit(d, "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    out.filter(r => r.getAs[Long]("doc_id") % 7 != 0).foreach { r =>
      assert(r.getAs[String]("split") == plain(r.getAs[Long]("doc_id")))
    }
  }

  test("quantileBuckets: quartiles of 1..8 by hand, boundary ties go low") {
    import spark.implicits._
    val d = (1L to 8L).map(i => (i, i * 10.0)).toDF("doc_id", "v")
    // quartile boundaries of 10..80: p25 = 27.5, p50 = 45, p75 = 62.5
    val out = Sampling.quantileBuckets(d, "doc_id", "v", nBuckets = 4)
      .orderBy("doc_id").collect().map(_.getAs[Int]("bucket")).toSeq
    assert(out == Seq(0, 0, 1, 1, 2, 2, 3, 3))
    // a value EQUAL to a boundary stays in the lower bucket
    val tie = Sampling.quantileBuckets(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("doc_id", "v"),
      "doc_id", "v", nBuckets = 2).orderBy("doc_id")
      .collect().map(_.getAs[Int]("bucket")).toSeq
    // median = 2.0; doc 2 sits exactly on it -> bucket 0
    assert(tie == Seq(0, 0, 1))
  }

  test("bm25TopK: hand-scored ranking, match counts, k cut") {
    import spark.implicits._
    val d = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "durian elderberry fig")).toDF("doc_id", "text")
    val q = Seq((10L, "apple banana")).toDF("query_id", "qtext")
    val out = graft.ext.Retrieval.bm25TopK(d, "doc_id", "text",
      q, "query_id", "qtext", k = 2).orderBy("rank").collect()
    // doc 3 shares no term -> absent; doc 1 matches both terms
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("n_matched"))).toSeq == Seq((1L, 1, 2L), (2L, 2, 1L)))
    // hand score, doc 1: N=3 avgdl=8/3; apple tf=2 df=2, banana tf=1 df=1
    val avgdl = 8.0 / 3
    def idf(df: Int) = math.log(1.0 + (3 - df + 0.5) / (df + 0.5))
    def tfw(tf: Long, dl: Long) =
      tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    val exp1 = idf(2) * tfw(2, 3) + idf(1) * tfw(1, 3)
    assert(math.abs(out(0).getAs[Double]("score") - exp1) < 1e-5)
  }

  test("bm25TopKIndexed: per-slice index union scores exactly like one-shot BM25, " +
      "and the postings survive parquet") {
    import spark.implicits._
    val d = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "durian elderberry fig"), (4L, "banana fig fig"))
      .toDF("doc_id", "text")
    val q = Seq((10L, "apple banana"), (11L, "fig")).toDF("query_id", "qtext")
    val oneShot = graft.ext.Retrieval.bm25TopK(d, "doc_id", "text",
      q, "query_id", "qtext", k = 3).orderBy("query_id", "rank")
      .collect().toSeq
    // append-only index maintenance: two per-slice builds unioned
    val ix = graft.ext.Retrieval
      .bm25Index(d.filter(col("doc_id") <= 2), "doc_id", "text")
      .unionByName(graft.ext.Retrieval
        .bm25Index(d.filter(col("doc_id") > 2), "doc_id", "text"))
    val viaIx = graft.ext.Retrieval.bm25TopKIndexed(ix, q,
      "query_id", "qtext", k = 3).orderBy("query_id", "rank")
      .collect().toSeq
    assert(viaIx == oneShot)
    // and the PERSISTED index drives the identical ranking (the
    // artifact shape a real pipeline reloads per batch)
    val dir = java.nio.file.Files.createTempDirectory("bm25_ix").toString
    try {
      ix.write.mode("overwrite").parquet(dir)
      val viaLoaded = graft.ext.Retrieval.bm25TopKIndexed(
        spark.read.parquet(dir), q, "query_id", "qtext", k = 3)
        .orderBy("query_id", "rank").collect().toSeq
      assert(viaLoaded == oneShot)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    graft.core.Caches.unpersistAll()
  }

  test("bm25TopKCapped: hot terms never generate candidates but still score") {
    import spark.implicits._
    // "the" is in 4/5 docs (df frac 0.8 > 0.5 cap) -> generates no
    // candidates; "zebra" (df 2/5) does. Doc 4 matches ONLY "the" ->
    // absent from the capped result. Docs 1-2 are candidates via
    // "zebra" and their scores still include the "the" term mass.
    val d = Seq((1L, "zebra the lion"), (2L, "zebra the"),
      (3L, "the cat"), (4L, "the dog"), (5L, "fish owl")).toDF("doc_id", "text")
    val q = Seq((10L, "zebra the")).toDF("query_id", "qtext")
    val full = graft.ext.Retrieval.bm25TopK(d, "doc_id", "text",
      q, "query_id", "qtext", k = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    val capped = graft.ext.Retrieval.bm25TopKCapped(d, "doc_id", "text",
      q, "query_id", "qtext", k = 5, dfCapFrac = 0.5).orderBy("rank")
      .collect()
    val ids = capped.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.toSet == Set(1L, 2L), s"expected zebra docs only: $ids")
    // exact-rescore contract: capped score == full score per candidate
    capped.foreach { r =>
      assert(r.getAs[Double]("score") == full(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("n_matched") == 2L) // "the" mass included
    }
  }

  test("hardNegatives: positives removed, neg_rank renumbered contiguously") {
    import spark.implicits._
    val d = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "apple fig"), (4L, "durian elderberry")).toDF("doc_id", "text")
    val q = Seq((10L, "apple banana")).toDF("query_id", "qtext")
    // doc 1 is rank 1 for this query; declare it the known positive
    val pos = Seq((10L, 1L)).toDF("query_id", "doc_id")
    val out = graft.ext.Retrieval.hardNegatives(d, "doc_id", "text",
      q, "query_id", "qtext", pos, kRetrieve = 3, kNeg = 2)
      .orderBy("neg_rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("neg_rank")))
    // rank 1 (the positive) is gone; ranks 2,3 renumber to 1,2
    assert(out.toSeq == Seq((2L, 1), (3L, 2)))
  }

  // independent reimplementation of the 60-bit hash + DLT priority
  private def prio(id: Long, w: Double): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    val h = java.lang.Long.parseLong(hex, 16)
    w * 1.152921504606846976e18 / (h + 1L).toDouble
  }

  test("prioritySample: exact top-k by w/u priority, unbiased tau estimator") {
    import spark.implicits._
    val rows = (1L to 20L).map(i => (i, i * 10L)) :+ (21L, 0L)
    val d = rows.toDF("doc_id", "w")
    val out = Sampling.prioritySample(d, "doc_id", col("w"), k = 5)
      .orderBy("sample_rank").collect()
    assert(out.length == 5)
    // expected: rank by priority desc over the 20 positive-weight rows
    val expect = (1L to 20L).map(i => (i, i * 10.0, prio(i, i * 10.0)))
      .sortBy { case (id, _, p) => (-p, id) }
    val tau = expect(5)._3 // the (k+1)-th priority
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("doc_id") == expect(i)._1)
      assert(r.getAs[Double]("weight") == expect(i)._2)
      assert(r.getAs[Double]("priority") == expect(i)._3) // bit-exact
      assert(r.getAs[Int]("sample_rank") == i + 1)
      assert(r.getAs[Double]("weight_est") == math.max(expect(i)._2, tau))
    }
    // zero-weight row 21 can never appear even with a huge k
    val all = Sampling.prioritySample(d, "doc_id", col("w"), k = 50).collect()
    assert(all.length == 20 && !all.exists(_.getAs[Long]("doc_id") == 21L))
    // underfull sample: tau = 0 so the estimator degrades to w itself
    assert(all.forall(r =>
      r.getAs[Double]("weight_est") == r.getAs[Double]("weight")))
  }

  test("prioritySample: fractional weights (quality scores) are first-class") {
    import spark.implicits._
    val d = Seq((1L, 0.9), (2L, 0.5), (3L, 0.1), (4L, 0.0))
      .toDF("doc_id", "q")
    val out = Sampling.prioritySample(d, "doc_id", col("q"), k = 2)
      .orderBy("sample_rank").collect()
    // nothing truncates to zero: the three positive-score docs compete
    val rows = d.collect()
    val expect = Seq(1L, 2L, 3L).map(i =>
      (i, prio(i, rows.find(_.getLong(0) == i).get.getDouble(1))))
      .sortBy { case (id, p) => (-p, id) }
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == expect.take(2).map(_._1))
    assert(out.head.getAs[Double]("priority") == expect.head._2)
  }

  test("prioritySamplePerStratum keeps the k best of every stratum") {
    import spark.implicits._
    val d = (1L to 12L).map(i => (i, if (i % 2 == 0) "a" else "b", 100L - i))
      .toDF("doc_id", "lang", "w")
    val out = Sampling.prioritySamplePerStratum(d, "doc_id", "lang",
      col("w"), k = 2).collect()
    assert(out.length == 4)
    val byStratum = out.groupBy(_.getAs[String]("stratum"))
    assert(byStratum.keySet == Set("a", "b"))
    byStratum.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("sample_rank")).sorted.toSeq == Seq(1, 2))
      // each stratum's rank-1 really is its max-priority member
      val ids = d.collect().filter(r =>
        r.getAs[String]("lang") == rs.head.getAs[String]("stratum"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("w")))
      val best = ids.map { case (id, w) => (id, prio(id, w)) }
        .sortBy { case (id, p) => (-p, id) }.head._1
      assert(rs.find(_.getAs[Int]("sample_rank") == 1).get
        .getAs[Long]("doc_id") == best)
    }
  }

  test("dsirWeights: target-like docs outscore off-target; row-count stable") {
    import spark.implicits._
    // target (src0) speaks the "t*" vocabulary; raw noise speaks "n*"
    val tgtText = (1 to 30).map(i => s"t${i % 5}").mkString(" ")
    val noise = (1 to 30).map(i => s"n${i % 7}").mkString(" ")
    val d = Seq(
      (1L, "src0", tgtText), (2L, "src0", tgtText),
      (3L, "crawl", tgtText),           // looks like the target
      (4L, "crawl", noise),             // off-target
      (5L, "crawl", "")                 // no tokens
    ).toDF("doc_id", "source", "text")
    val out = Sampling.dsirWeights(d, "doc_id", "text",
      col("source") === "src0", buckets = 256).orderBy("doc_id").collect()
    assert(out.length == 5) // every doc keeps a row
    val logw = out.map(r => Option(r.getAs[java.lang.Double]("logw")))
    // target-profile crawl doc scores strictly above the off-target one
    assert(logw(2).get > logw(3).get)
    // zero-token doc: n_grams 0, logw NULL — kept, not dropped
    assert(out(4).getAs[Long]("n_grams") == 0L && logw(4).isEmpty)
    // 30 unigrams + 29 bigrams
    assert(out(0).getAs[Long]("n_grams") == 59L)
    // deterministic: a rerun is bit-identical
    val rerun = Sampling.dsirWeights(d, "doc_id", "text",
      col("source") === "src0", buckets = 256).orderBy("doc_id").collect()
    assert(out.map(_.toString).toSeq == rerun.map(_.toString).toSeq)
  }

  test("dsirSample: Gumbel top-k is the k largest logw+noise keys") {
    import spark.implicits._
    val tgtText = (1 to 30).map(i => s"t${i % 5}").mkString(" ")
    val noise = (1 to 30).map(i => s"n${i % 7}").mkString(" ")
    val d = ((1L to 4L).map(i => (i, "src0", tgtText)) ++
      (5L to 16L).map(i => (i, "crawl", if (i % 2 == 0) tgtText else noise)) :+
      ((17L, "crawl", ""))).toDF("doc_id", "source", "text")
    val wts = Sampling.dsirWeights(d, "doc_id", "text",
      col("source") === "src0", buckets = 256)
    val out = Sampling.dsirSample(wts, "doc_id", k = 6)
      .orderBy("sample_rank").collect()
    assert(out.length == 6)
    assert(out.map(_.getAs[Int]("sample_rank")).toSeq == (1 to 6))
    // keys are in weakly decreasing order and match the brute ranking
    val keys = out.map(_.getAs[Double]("gumbel_key"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    val brute = wts.filter(col("logw").isNotNull).collect()
      .map { r =>
        val id = r.getAs[Long]("doc_id")
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(15)
        val u = math.min(java.lang.Long.parseLong(hex, 16) + 1L,
          1152921504606846848L).toDouble / 1.152921504606846976e18
        val g = BigDecimal(-math.log(-math.log(u)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        // logw is base-2; Gumbel-max needs nats — same ln-2 scale
        // factor (exact double literal) as the implementation
        val key = BigDecimal(r.getAs[Double]("logw") * 0.6931471805599453 + g)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, key)
      }.sortBy { case (id, k2) => (-k2, id) }
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ==
      brute.take(6).map(_._1).toSeq)
    // zero-token doc is never sampleable
    assert(!out.exists(_.getAs[Long]("doc_id") == 17L))
    // top-k must plan as TakeOrderedAndProject, not a global sort
    val phys = Sampling.dsirSample(wts, "doc_id", k = 6)
      .queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"))
  }

  test("dsirScore(own-corpus model) ≡ dsirWeights bit for bit") {
    import spark.implicits._
    val tgtText = (1 to 30).map(i => s"t${i % 5}").mkString(" ")
    val noise = (1 to 30).map(i => s"n${i % 7}").mkString(" ")
    val d = ((1L to 3L).map(i => (i, "src0", tgtText)) ++
      (4L to 12L).map(i => (i, "crawl", if (i % 2 == 0) tgtText else noise)) :+
      ((13L, "crawl", ""))).toDF("doc_id", "source", "text")
    val viaWeights = Sampling.dsirWeights(d, "doc_id", "text",
      col("source") === "src0", buckets = 256).orderBy("doc_id").collect()
    val viaModel = Sampling.dsirScore(d,
      Sampling.dsirModel(d, "doc_id", "text", col("source") === "src0",
        buckets = 256),
      "doc_id", "text", buckets = 256).orderBy("doc_id").collect()
    assert(viaWeights.map(_.toString).toSeq == viaModel.map(_.toString).toSeq)
  }

  test("dsirModelMerge of disjoint slices ≡ whole-corpus model") {
    import spark.implicits._
    val d = (1L to 20L).map(i =>
      (i, if (i <= 5) "src0" else "crawl",
        (1 to 20).map(j => s"w${(i * 7 + j) % 13}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    def model(df: org.apache.spark.sql.DataFrame) =
      Sampling.dsirModel(df, "doc_id", "text",
        col("source") === "src0", buckets = 64)
    val whole = model(d).orderBy("bucket").collect()
    val merged = Sampling.dsirModelMerge(
      model(d.filter(col("doc_id") % 2 === 0)),
      model(d.filter(col("doc_id") % 2 =!= 0)))
      .orderBy("bucket").collect()
    assert(whole.map(_.toString).toSeq == merged.map(_.toString).toSeq)
  }

  test("dsirScore: cold/empty model gives NULL logw; unseen buckets smooth") {
    import spark.implicits._
    val batch = Seq((1L, "crawl", "alpha beta gamma")).toDF("doc_id", "source", "text")
    val known = Seq((10L, "src0", "the quick brown fox"),
      (11L, "crawl", "unrelated vocabulary entirely")).toDF("doc_id", "source", "text")
    // empty model (zero rows): logw NULL, row kept
    val cold = Sampling.dsirScore(batch,
      Sampling.dsirModel(known.filter(lit(false)), "doc_id", "text",
        col("source") === "src0", buckets = 64),
      "doc_id", "text", buckets = 64).collect()
    assert(cold.length == 1 && cold.head.isNullAt(cold.head.fieldIndex("logw")))
    // warm model, but the batch vocabulary was never seen: every gram
    // reads (0+1)/(N+B) on both sides — finite, NOT null/inf
    val unseen = Sampling.dsirScore(batch,
      Sampling.dsirModel(known, "doc_id", "text",
        col("source") === "src0", buckets = 64),
      "doc_id", "text", buckets = 64).collect()
    assert(unseen.length == 1)
    val lw = unseen.head.getAs[Double]("logw")
    assert(!lw.isNaN && !lw.isInfinite)
    assert(unseen.head.getAs[Long]("n_grams") == 5L) // 3 unigrams + 2 bigrams
  }

  test("dsirScore never registers a caller-materialized model in Caches") {
    import spark.implicits._
    val d = Seq((1L, "src0", "a b c"), (2L, "crawl", "c d e"))
      .toDF("doc_id", "source", "text")
    val model = Sampling.dsirModel(d, "doc_id", "text",
      col("source") === "src0", buckets = 64).cache()
    model.count() // materialize — the carried-artifact state
    Sampling.dsirScore(d, model, "doc_id", "text", buckets = 64).collect()
    graft.core.Caches.unpersistAll()
    // the frozen artifact must survive the operator's cache cleanup:
    // re-registering it would hand its lifetime to unpersistAll and
    // silently un-freeze every subsequent ingest's model
    assert(model.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    model.unpersist()
  }

  test("curationPipeline: family keeper, gate bits, family-stable split") {
    val good = ((1 to 40).map(i => s"tok$i") ++
      Seq("the", "of", "and", "in", "a") ++
      (1 to 60).map(i => s"w$i")).mkString(" ")
    val spanish = Seq.fill(30)("el la de y es").mkString(" ")
    val d = {
      import spark.implicits._
      Seq((1L, Some(good)), (2L, Some(good)), (3L, Some("x y z")),
        (4L, Some(spanish)), (5L, Option.empty[String]))
        .toDF("doc_id", "text")
    }
    val out = TextStats.curationPipeline(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 5) // verdict for EVERY doc, never filtered away
    // NULL text: no token rows, so both gates coalesce to false — the
    // doc fails quality rather than silently vanishing
    assert(!out(4).getAs[Boolean]("quality_ok") &&
      !out(4).getAs[Boolean]("lang_ok") && !out(4).getAs[Boolean]("keep") &&
      out(4).getAs[Long]("family_id") == 5L)
    // doc 1: keeper of the exact-dup family {1,2}, quality+lang ok
    assert(out(0).getAs[Boolean]("keep") &&
      out(0).getAs[Boolean]("is_keeper") &&
      out(0).getAs[Long]("family_id") == 1L)
    // doc 2: same family, not the keeper -> dropped, but SAME split
    assert(!out(1).getAs[Boolean]("keep") &&
      !out(1).getAs[Boolean]("is_keeper") &&
      out(1).getAs[Long]("family_id") == 1L &&
      out(1).getAs[String]("split") == out(0).getAs[String]("split"))
    assert(out(1).getAs[Boolean]("quality_ok") &&
      out(1).getAs[Boolean]("lang_ok")) // dropped ONLY for dedup
    // doc 3: own family keeper but too short
    assert(out(2).getAs[Boolean]("is_keeper") &&
      !out(2).getAs[Boolean]("quality_ok") && !out(2).getAs[Boolean]("keep"))
    // doc 4: spanish -> language gate fires
    assert(!out(3).getAs[Boolean]("lang_ok") && !out(3).getAs[Boolean]("keep"))
  }

  test("clusterBalancedSample keeps k per argmax-cosine cell") {
    import spark.implicits._
    // two well-separated directions; ids 1,2 are the pinned seeds
    val a = Seq(1f, 0f, 0f, 0f); val b = Seq(0f, 0f, 1f, 0f)
    def near(v: Seq[Float], eps: Float) = v.map(_ + eps).updated(1, eps)
    val d = Seq(
      (1L, a), (2L, b),
      (3L, near(a, 0.01f)), (4L, near(a, 0.02f)), (5L, near(a, 0.03f)),
      (6L, near(b, 0.01f)), (7L, near(b, 0.02f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(d, "vec_id", "embedding",
      nSeeds = 2, k = 2).collect()
    val byCell = out.groupBy(_.getAs[Long]("cell"))
    assert(byCell.keySet == Set(1L, 2L))
    // every cell capped at k, ranks contiguous from 1
    byCell.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("sample_rank")).sorted.toSeq == Seq(1, 2))
    }
    // members landed with their own direction's seed
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val expected = if (id == 1L || id == 3L || id == 4L || id == 5L) 1L else 2L
      assert(r.getAs[Long]("cell") == expected, s"vec $id")
    }
  }

  test("randomProject: hand-checked signed sums; rprojSigns deterministic ±1") {
    import spark.implicits._
    val signs = IndexedSeq(IndexedSeq(1.0, -1.0, 1.0), IndexedSeq(-1.0, 1.0, 1.0))
    val d = Seq((1L, Seq(1.0f, 2.0f, 4.0f))).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(d, "embedding", signs)
      .select("proj").head.getSeq[Double](0)
    assert(out == Seq(3.0, 5.0)) // 1-2+4, -1+2+4
    val s1 = Similarity.rprojSigns(8, 4)
    assert(s1 == Similarity.rprojSigns(8, 4))
    assert(s1.length == 4 && s1.forall(_.length == 8))
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(s1.flatten.toSet.size == 2) // both signs occur
  }

  test("rprojTopK: an exact duplicate is its twin's top projected neighbor") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)), (4L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.rprojTopK(d.filter(col("vec_id") === 1), d,
      "vec_id", "embedding", k = 1, Similarity.rprojSigns(4, 4)).collect()
    // identical vectors project identically -> projected cosine 1;
    // any tie at cosine 1 breaks to the smaller id, which is the twin
    assert(out.length == 1 && out.head.getAs[Long]("vec_id") == 2L)
  }

  test("cmSketch: estimates exact when wide, sound (never under) when narrow") {
    val d = docs((1L, "a a a b b c"), (2L, "a b d d d d"))
    // wide grid: 4x1024 over 4 distinct words — collisions are
    // possible in principle but these hashes spread; assert est==exact
    val wide = TextStats.cmSketchCheck(d, "text", depth = 4,
      width = 1024, k = 10).collect()
    assert(wide.length == 4)
    val exact = Map("a" -> 4L, "b" -> 3L, "c" -> 1L, "d" -> 4L)
    wide.foreach { r =>
      assert(r.getAs[Long]("exact_cnt") == exact(r.getAs[String]("word")))
      assert(r.getAs[Long]("est_cnt") == r.getAs[Long]("exact_cnt"))
      assert(r.getAs[Boolean]("sound"))
    }
    // narrow grid: 1x2 forces collisions — soundness is a theorem,
    // and total mass per row is conserved so SOME word overestimates
    val narrow = TextStats.cmSketchCheck(d, "text", depth = 1,
      width = 2, k = 10).collect()
    assert(narrow.forall(_.getAs[Boolean]("sound")))
    assert(narrow.forall(_.getAs[Long]("overestimate") >= 0L))
    assert(narrow.map(_.getAs[Long]("est_cnt")).sum >
      narrow.map(_.getAs[Long]("exact_cnt")).sum)
    // sketch state is bounded by depth*width regardless of input
    assert(TextStats.cmSketch(d, "text", depth = 4, width = 8).count() <= 32)
  }

  test("cmEstimate: absent item estimates its collision mass, never negative") {
    import spark.implicits._
    val d = docs((1L, "x y z"))
    val sketch = TextStats.cmSketch(d, "text", depth = 4, width = 1024)
    val items = Seq("x", "absent-token").toDF("word")
    val out = TextStats.cmEstimate(sketch, items, "word", depth = 4,
      width = 1024).orderBy("word").collect()
    assert(out.find(_.getAs[String]("word") == "x")
      .get.getAs[Long]("est_cnt") == 1L)
    assert(out.find(_.getAs[String]("word") == "absent-token")
      .get.getAs[Long]("est_cnt") >= 0L)
  }

  test("normalizeUnicode: NFC composes, reorders, leaves ligatures; NFKC folds") {
    import spark.implicits._
    val decomposedCafe = "café"          // e + combining acute
    val misordered = "ȩ́"           // acute(230) BEFORE cedilla(202)
    val ligature = "ﬁle"                  // ﬁ ligature
    val fullwidth = "ＡＢ"             // full-width AB
    val d = Seq((1L, decomposedCafe), (2L, misordered), (3L, ligature),
      (4L, fullwidth), (5L, "plain ascii")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextStats.normalizeUnicode(col("text"), "NFC").as("nfc"),
        TextStats.normalizeUnicode(col("text"), "NFKC").as("nfkc"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("nfc") == "café")
    // canonical reordering puts cedilla first, then composes e+cedilla
    // to U+0229 and stacks the acute — exactly what java.text and
    // utf8proc both produce under UAX #15
    assert(out(1).getAs[String]("nfc").head == 'ȩ')
    assert(out(1).getAs[String]("nfc").length == 2) // U+0229 + U+0301
    // NFC never touches compatibility forms; NFKC folds them
    assert(out(2).getAs[String]("nfc") == ligature)
    assert(out(2).getAs[String]("nfkc") == "file")
    assert(out(3).getAs[String]("nfkc") == "AB")
    assert(out(4).getAs[String]("nfc") == "plain ascii")
  }

  test("normalizeUnicode is idempotent and null-safe") {
    import spark.implicits._
    val d = Seq((1L, Some("café")), (2L, None))
      .toDF("doc_id", "text")
    val once = TextStats.normalizeUnicode(col("text"), "NFC")
    val out = d.select(col("doc_id"), once.as("n1"),
        TextStats.normalizeUnicode(once, "NFC").as("n2"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("n1") == out(0).getAs[String]("n2"))
    assert(out(1).getAs[String]("n1") == null &&
      out(1).getAs[String]("n2") == null)
  }

  test("unicodeNormAudit flags changed docs and counts code points") {
    import spark.implicits._
    val d = Seq((1L, "abc café"), (2L, "clean")).toDF("doc_id", "text")
    val out = TextStats.unicodeNormAudit(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("changed"))
    // e + combining acute (2 code points) composes to é (1)
    assert(out(0).getAs[Int]("len_raw") == 9 &&
      out(0).getAs[Int]("len_nfc") == 8)
    assert(!out(1).getAs[Boolean]("changed"))
    assert(out(1).getAs[Int]("len_raw") == 5 &&
      out(1).getAs[Int]("len_nfc") == 5)
  }

  test("graft_sorted_intersect_count ≡ size(array_intersect) on sorted arrays") {
    import spark.implicits._
    // random long arrays with duplicates, shared values, disjoint
    // values, empties, null ELEMENTS and null ARRAYS — sorted
    // ascending (the caller contract) before both forms
    val rnd = new scala.util.Random(42)
    def arr(): Seq[java.lang.Long] = {
      val n = rnd.nextInt(40)
      Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(25).toLong)) ++
        (if (rnd.nextInt(5) == 0) Seq(null.asInstanceOf[java.lang.Long]) else Nil)
    }
    val rows = (1 to 200).map(i => (i.toLong, arr(), arr())) ++ Seq(
      (201L, Seq.empty[java.lang.Long], Seq(java.lang.Long.valueOf(1L))),
      (202L, null.asInstanceOf[Seq[java.lang.Long]], Seq(java.lang.Long.valueOf(1L))),
      (203L, Seq[java.lang.Long](null.asInstanceOf[java.lang.Long], 3L),
        Seq[java.lang.Long](null.asInstanceOf[java.lang.Long], 3L, 9L)))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), sort_array(col("a")).as("a"), sort_array(col("b")).as("b"))
    val out = df.select(col("id"),
      call_function("graft_sorted_intersect_count", col("a"), col("b")).as("nat"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"),
      // size() maps a NULL array to -1 under legacy=false? No: it
      // yields NULL; normalize both to an Option for the compare
      array_intersect(col("a"), col("b")).isNull.as("refNull")).collect()
    out.foreach { r =>
      val nat = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val ref = if (r.getBoolean(3)) None else Some(r.getLong(2))
      assert(nat == ref, s"id=${r.getLong(0)}: native $nat vs array_intersect $ref")
    }
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
