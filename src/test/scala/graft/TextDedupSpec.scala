package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.Delta
import graft.operators.{Corpus, Dedup, JdkImageCodec, JdkWavCodec, Multimodal, TextOps, VectorOps}

class TextDedupSpec extends AnyFunSuite {
  import TestSpark._

  /** All-pairs containment: the exactness reference for the prefix
    * kernel that serves q85/q131. [[Dedup.pairOverlap]] scored with
    * the containment measure written out independently of the
    * engine's. */
  private def bruteContainment(docs: org.apache.spark.sql.DataFrame,
      threshold: Double = Dedup.ContainmentThreshold) = {
    val (ca, cb) = (col("i") * lit(1.0) / col("na"),
      col("i") * lit(1.0) / col("nb"))
    Dedup.pairOverlap(Dedup.shingleFpsFrom(docs), "fp")
      .filter(greatest(ca, cb) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        ca.as("containment_a"), cb.as("containment_b"))
      .orderBy("doc_a", "doc_b")
  }

  test("token stats: totals consistent (distinct <= tokens, lengths add up)") {
    val rows = TextOps.tokenStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTok = r.getLong(r.fieldIndex("n_tokens"))
      val nDis = r.getLong(r.fieldIndex("n_distinct_tokens"))
      val totLen = r.getLong(r.fieldIndex("total_token_len"))
      assert(nDis <= nTok)
      // tokens + single separators == n_chars for space-joined text
      assert(totLen <= r.getLong(r.fieldIndex("n_chars_actual")))
    }
  }

  test("quality score in [0,1], ratios in [0,1]") {
    TextOps.qualityScore(spark, sf).collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("uniq_ratio")) >= 0.0)
      assert(r.getDouble(r.fieldIndex("uniq_ratio")) <= 1.0)
      assert(r.getDouble(r.fieldIndex("quality")) >= 0.0)
      assert(r.getDouble(r.fieldIndex("quality")) <= 1.0)
    }
  }

  test("langid covers every document with a deterministic prediction") {
    val out = TextOps.langId(spark, sf)
    assert(out.count() === Tables.documents(spark, sf).count())
    assert(out.filter(col("predicted_lang").isNull).count() === 0)
  }

  test("fingerprint: md5 hex shape, unique per distinct text") {
    val fp = TextOps.fingerprint(spark, sf).collect()
    fp.foreach(r => assert(r.getString(1).matches("[0-9a-f]{32}")))
    val distinctTexts = Tables.documents(spark, sf)
      .select(countDistinct(
        regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .collect()(0).getLong(0)
    assert(fp.map(_.getString(1)).distinct.length.toLong === distinctTexts)
  }

  test("fp-Jaccard == string-Jaccard on the fixture corpus (collision drift guard)") {
    // Threshold 0: EVERY overlapping pair is compared, so a single
    // 32-bit fingerprint collision anywhere in the corpus — which
    // would inflate some pair's intersection — fails this, not just
    // collisions that push a pair over the q45 threshold.
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) ->
          math.round(r.getDouble(2) * 1e9)).toMap
    val viaStrings = asMap(Dedup.jaccardPairsStrings(spark, sf, 0.0))
    val viaFps = asMap(Dedup.jaccardPairsFps(spark, sf, 0.0))
    assert(viaFps === viaStrings,
      "hashed-shingle Jaccard must equal string-shingle Jaccard on the " +
        "fixtures; a mismatch means a 32-bit fp collision is biasing q45")
  }

  test("q51 refuses at 10x amplification instead of going quadratic") {
    val amplified = Tables.embeddings(spark, sf)
      .withColumn("rep", explode(sequence(lit(0), lit(39))))
      .withColumn("vec_id", col("vec_id") * 40 + col("rep"))
      .drop("rep")   // 500 × 40 = 20,000 > MaxExactVectors
    val e = intercept[IllegalArgumentException] {
      VectorOps.embeddingNearDupsFrom(VectorOps.vecsFrom(amplified))
    }
    assert(e.getMessage.contains("ivfAssign"),
      "refusal must point the caller at the IVF scale path")
    // and the un-amplified fixture still runs (guard is a ceiling,
    // not a rewrite of the baseline semantics)
    assert(VectorOps.embeddingNearDups(spark, sf).count() > 0)
  }

  test("q45 frequency cutoff drops hot shingles but leaves the fixture intact") {
    val docs = Tables.documents(spark, sf)
    // default cutoff (256): nothing in the fixture reaches it — rows
    // identical to an effectively-unbounded cutoff
    val bounded = Dedup.jaccardPairsFrom(docs).collect()
    val unbounded = Dedup.jaccardPairsFrom(docs, maxDocFreq = Int.MaxValue)
      .collect()
    assert(bounded.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
           unbounded.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // a poisoned corpus — every doc shares one boilerplate sentence —
    // is exactly the Σd² blowup; with the cutoff the hot shingles
    // vanish from the join and the planted near-dup pairs survive
    val poisoned = docs.withColumn("text",
      concat(lit("terms of service apply to all content here "), col("text")))
    val pairs = Dedup.jaccardPairsFrom(poisoned, maxDocFreq = 64)
    val clean = Dedup.jaccardPairsFrom(docs, maxDocFreq = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clean.subsetOf(got),
      "cutoff must keep the genuine near-dup pairs while bounding the join")
  }

  test("q130 prefix filtering == q45 brute force, bit-for-bit, across " +
       "thresholds and corpora (the exactness claim)") {
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val docs = Tables.documents(spark, sf)
    // fixture corpus at the production threshold, the q45 baseline
    // threshold, and a loose one (a loose τ lengthens prefixes —
    // different pruning, same answer)
    for (t <- Seq(Dedup.PrefixJaccardThreshold, Dedup.JaccardThreshold, 0.3))
      assert(asRows(Dedup.prefixJaccardPairsFrom(docs, threshold = t)) ===
             asRows(Dedup.jaccardPairsFrom(docs, threshold = t)),
        s"prefix filtering must reproduce brute force exactly at t=$t")
    // seeded random corpus over a tiny vocabulary: dense overlap
    // structure with many BORDERLINE pairs — exactly where an
    // off-by-one prefix length (a too-eager ceil) silently drops a
    // pair that sits at the threshold
    val rnd = new scala.util.Random(20260816L)
    val vocab = Vector("sun", "wind", "grid", "load", "peak", "volt",
      "amp", "watt", "node", "line")
    // base docs + clones with 0–4 point mutations: a spread of true
    // Jaccard values straddling both thresholds under test
    val randomDocs = spark.createDataFrame(
      (0L until 40L).flatMap { i =>
        val len = 8 + rnd.nextInt(15)
        val base = Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
        val clones = (1 to 1 + rnd.nextInt(2)).map { c =>
          val mutated = (0 until rnd.nextInt(5)).foldLeft(base) {
            (w, _) => w.updated(rnd.nextInt(len),
              vocab(rnd.nextInt(vocab.size)))
          }
          (i * 10 + c, mutated.mkString(" "))
        }
        (i * 10, base.mkString(" ")) +: clones
      }).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val brute = asRows(Dedup.jaccardPairsFrom(randomDocs, threshold = t))
      assert(brute.nonEmpty,
        "random corpus must produce pairs or the test proves nothing")
      assert(asRows(Dedup.prefixJaccardPairsFrom(randomDocs,
        threshold = t)) === brute,
        s"prefix filtering diverged from brute force at t=$t")
    }
    // hot-shingle cutoff shares q45's universe: the poisoned-corpus
    // equality must survive a cutoff that actually fires
    val poisoned = docs.withColumn("text",
      concat(lit("terms of service apply to all content here "), col("text")))
    assert(asRows(Dedup.prefixJaccardPairsFrom(poisoned, maxDocFreq = 64)) ===
           asRows(Dedup.jaccardPairsFrom(poisoned, maxDocFreq = 64)),
      "q130 must apply the doc-frequency cutoff to the same universe as q45")
  }

  test("q131 prefix containment == q85 brute force, bit-for-bit, and " +
       "catches the subset pairs LSH structurally misses") {
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val docs = Tables.documents(spark, sf)
    assert(asRows(Dedup.prefixContainmentPairsFrom(docs)) ===
           asRows(bruteContainment(docs)),
      "prefix containment must reproduce brute force exactly on the fixture")
    // base docs + TRUNCATED clones: a short doc wholly inside a much
    // longer one — near-1 containment, low Jaccard. This is the pair
    // family banded MinHash under-recalls (the q90 documented miss)
    // and the asymmetric prefix lemma must still catch exactly.
    val rnd = new scala.util.Random(20260816L)
    val vocab = Vector("sun", "wind", "grid", "load", "peak", "volt",
      "amp", "watt", "node", "line")
    val subsetDocs = spark.createDataFrame(
      (0L until 40L).flatMap { i =>
        val len = 20 + rnd.nextInt(20)
        val base = Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
        // a prefix-slice clone (subset) and a point-mutated clone
        val cut = 5 + rnd.nextInt(len - 6)
        Seq((i * 10, base.mkString(" ")),
          (i * 10 + 1, base.take(cut).mkString(" ")),
          (i * 10 + 2, base.updated(rnd.nextInt(len),
            vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      }).toDF("doc_id", "text")
    for (t <- Seq(0.8, 0.5)) {
      val brute = asRows(bruteContainment(subsetDocs, threshold = t))
      assert(brute.nonEmpty, s"subset corpus must produce pairs at t=$t")
      assert(asRows(Dedup.prefixContainmentPairsFrom(subsetDocs,
        threshold = t)) === brute,
        s"prefix containment diverged from brute force at t=$t")
    }
    // the subset corpus must actually contain the adversarial family:
    // a pair with containment ≥ 0.8 whose Jaccard sits below 0.5
    val cont = Dedup.prefixContainmentPairsFrom(subsetDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.jaccardPairsFrom(subsetDocs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((cont -- jac).nonEmpty,
      "expected high-containment/low-Jaccard subset pairs in the corpus")
  }

  test("q132 incremental prefix-Jaccard == full q130 recompute over " +
       "the new snapshot; carried verdicts come from the store") {
    val docs = Tables.documents(spark, sf)
    val prev = Corpus.snapshotPrev(docs)
    val cur = Corpus.snapshotCur(docs)
    val diff = Corpus.snapshotDiffDerived(docs)
    val prevFps = Dedup.shingleFpsFrom(prev)
    val prevPass = Dedup.prefixJaccardPairsFrom(prev,
      threshold = Dedup.PrefixJaccardThreshold)
    def asRows(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val inc = asRows(Dedup.incrementalPrefixJaccardOf(
      prevFps, prevPass, cur, Delta(diff, "doc_id")).collect())
    val full = asRows(Dedup.prefixJaccardPairsFrom(cur,
      threshold = Dedup.PrefixJaccardThreshold).collect())
    assert(full.nonEmpty, "snapshot must keep near-dup pairs")
    assert(inc === full,
      "maintained table must equal the rebuild-from-scratch bit-for-bit")
    // sentinel poison: corrupt ONE clean carried pair's stored value;
    // the incremental output must carry the poison — proof it reads
    // the store instead of recomputing the clean slice
    import org.apache.spark.sql.functions.{col, when, lit}
    val dirtyIds = diff.filter(col("status") =!= "unchanged")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val victim = inc.find(p =>
        !dirtyIds.contains(p._1) && !dirtyIds.contains(p._2))
      .getOrElse(fail("fixture snapshot has no clean carried pair"))
    val poisoned = prevPass.withColumn("jaccard",
      when(col("doc_a") === victim._1 && col("doc_b") === victim._2,
        lit(0.987654)).otherwise(col("jaccard")))
    val got = Dedup.incrementalPrefixJaccardOf(prevFps, poisoned, cur, Delta(diff, "doc_id"))
      .filter(col("doc_a") === victim._1 && col("doc_b") === victim._2)
      .collect()
    assert(got.length === 1 && got.head.getDouble(2) === 0.987654,
      "carried verdict must come from the stored table (sentinel)")
  }

  test("q132 cutoff flips mark affected docs dirty: maintained == " +
       "rebuild when the diff pushes a shingle across the cutoff") {
    // tiny cutoff (2) + a 12-token boilerplate block on docs {7, 8, 9}:
    // doc 7 is removed by the snapshot filter (%19==7), so the 10
    // boiler-internal shingles' df crosses 3 → 2 — hot in prev, kept
    // in cur — and the kept universes of the UNTOUCHED docs 8 and 9
    // change. Their 20-token bodies differ in exactly the last word,
    // tuned so the pair sits at J=0.739 over the prev universe (below
    // τ=0.8, not stored) and J=0.818 over the cur universe (above τ):
    // a carry that misses the flip omits the pair the rebuild emits.
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val boiler = (0 until 12).map(j => s"b$j").mkString(" ")
    val sharedBody = (0 until 19).map(j => s"body$j").mkString(" ")
    val corpus = ((0L until 60L).map { i =>
      val text =
        if (i == 7L) s"$boiler seven only ${(0 until 18).map(j => s"s$j").mkString(" ")}"
        else if (i == 8L) s"$boiler $sharedBody tail8"
        else if (i == 9L) s"$boiler $sharedBody tail9"
        else s"unique body $i " +
          (0 until 12).map(j => s"u${i}x$j").mkString(" ")
      (i, text)
    }).toDF("doc_id", "text")
    val prev = Corpus.snapshotPrev(corpus)
    val cur = Corpus.snapshotCur(corpus)
    val diff = Corpus.snapshotDiffDerived(corpus)
    val k = 2
    val prevFps = Dedup.shingleFpsFrom(prev)
    val prevPass = Dedup.prefixJaccardPairsFrom(prev, threshold = 0.8,
      maxDocFreq = k)
    def asRows(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val inc = asRows(Dedup.incrementalPrefixJaccardOf(prevFps, prevPass,
      cur, Delta(diff, "doc_id"), threshold = 0.8, maxDocFreq = k).collect())
    val full = asRows(Dedup.prefixJaccardPairsFrom(cur, threshold = 0.8,
      maxDocFreq = k).collect())
    assert(inc === full,
      "a cutoff flip must dirty every doc containing the flipped shingle")
  }

  test("q133 incremental prefix-containment == full q131 recompute over " +
       "the new snapshot; carried verdicts come from the store") {
    val docs = Tables.documents(spark, sf)
    val prev = Corpus.snapshotPrev(docs)
    val cur = Corpus.snapshotCur(docs)
    val diff = Corpus.snapshotDiffDerived(docs)
    val prevFps = Dedup.shingleFpsFrom(prev)
    val prevPass = Dedup.prefixContainmentPairsFrom(prev)
    def asRows(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val inc = asRows(Dedup.incrementalPrefixContainmentOf(
      prevFps, prevPass, cur, Delta(diff, "doc_id")).collect())
    val full = asRows(Dedup.prefixContainmentPairsFrom(cur).collect())
    assert(full.nonEmpty, "snapshot must keep containment pairs")
    assert(inc === full,
      "maintained table must equal the rebuild-from-scratch bit-for-bit")
    // sentinel poison: corrupt ONE clean carried pair's stored value;
    // the incremental output must carry the poison — proof it reads
    // the store instead of recomputing the clean slice
    import org.apache.spark.sql.functions.{col, when, lit}
    val dirtyIds = diff.filter(col("status") =!= "unchanged")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val victim = inc.find(p =>
        !dirtyIds.contains(p._1) && !dirtyIds.contains(p._2))
      .getOrElse(fail("fixture snapshot has no clean carried pair"))
    val poisoned = prevPass.withColumn("containment_a",
      when(col("doc_a") === victim._1 && col("doc_b") === victim._2,
        lit(0.987654)).otherwise(col("containment_a")))
    val got = Dedup.incrementalPrefixContainmentOf(prevFps, poisoned,
        cur, Delta(diff, "doc_id"))
      .filter(col("doc_a") === victim._1 && col("doc_b") === victim._2)
      .collect()
    assert(got.length === 1 && got.head.getDouble(2) === 0.987654,
      "carried verdict must come from the stored table (sentinel)")
  }

  test("q133 cutoff flips dirty the affected docs: maintained == rebuild " +
       "and the untouched pair's stored VALUES go stale under the flip") {
    // the q132 flip corpus: removing doc 7 flips the boilerplate
    // shingles hot → kept, changing the kept universes of UNTOUCHED
    // docs 8 and 9. For containment the (8,9) verdict stays above
    // τ=0.8 on both universes but its VALUES move — a carry that
    // misses the flip emits the stale stored ratios, which the
    // bit-for-bit compare below catches.
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val boiler = (0 until 12).map(j => s"b$j").mkString(" ")
    val sharedBody = (0 until 19).map(j => s"body$j").mkString(" ")
    val corpus = ((0L until 60L).map { i =>
      val text =
        if (i == 7L) s"$boiler seven only ${(0 until 18).map(j => s"s$j").mkString(" ")}"
        else if (i == 8L) s"$boiler $sharedBody tail8"
        else if (i == 9L) s"$boiler $sharedBody tail9"
        else s"unique body $i " +
          (0 until 12).map(j => s"u${i}x$j").mkString(" ")
      (i, text)
    }).toDF("doc_id", "text")
    val prev = Corpus.snapshotPrev(corpus)
    val cur = Corpus.snapshotCur(corpus)
    val diff = Corpus.snapshotDiffDerived(corpus)
    val k = 2
    val prevFps = Dedup.shingleFpsFrom(prev)
    val prevPass = Dedup.prefixContainmentPairsFrom(prev, threshold = 0.8,
      maxDocFreq = k)
    def asRows(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val inc = asRows(Dedup.incrementalPrefixContainmentOf(prevFps,
      prevPass, cur, Delta(diff, "doc_id"), threshold = 0.8, maxDocFreq = k).collect())
    val full = asRows(Dedup.prefixContainmentPairsFrom(cur, threshold = 0.8,
      maxDocFreq = k).collect())
    assert(inc === full,
      "a cutoff flip must dirty every doc containing the flipped shingle")
    // sensitivity guard: the untouched (8,9) pair's stored value must
    // actually DIFFER from its rebuilt value, or this test proves
    // nothing about the flip machinery
    val stale = asRows(prevPass.filter(col("doc_a") === 8L &&
      col("doc_b") === 9L).collect())
    val rebuilt = full.filter(p => p._1 == 8L && p._2 == 9L)
    assert(stale.nonEmpty && rebuilt.nonEmpty,
      "flip corpus must keep the (8,9) pair on both universes")
    assert(stale.head._3 !== rebuilt.head._3,
      "the flip must move the (8,9) containment value, else no signal")
  }

  test("q47 guard truncation is observable: skipped-bucket audit is empty here") {
    assert(Dedup.lshSkippedBuckets(spark, sf).collect().isEmpty,
      "fixture corpus has no mega-buckets; if this fires, q47 recall " +
        "was silently truncated and lshSkippedBuckets shows exactly where")
  }

  test("LSH near-dup pairs == exact Jaccard pairs on the fixture (full recall here)") {
    val exact = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (it verifies)")
    assert(exact === lsh, s"fixture near-dups are J≈0.9+; 4x4 bands must catch all")
  }

  test("MinHash signatures are a Jaccard estimator: agreement tracks exact similarity") {
    val sig = Dedup.minhashSignatures(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (d, rows) =>
        d -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val exact = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(exact.nonEmpty)
    exact.foreach { case ((a, b), j) =>
      val agree = sig(a).zip(sig(b)).count { case (x, y) => x == y } / 16.0
      // E[agree] = J; sd = sqrt(J(1-J)/16) ≈ 0.12 — 0.35 is ~3σ
      assert(math.abs(agree - j) <= 0.35,
        s"pair ($a,$b): jaccard $j but signature agreement $agree")
    }
  }

  test("LSH mega-bucket guard: degenerate identical corpus is skipped, small clusters pass") {
    import spark.implicits._
    def corpus(n: Long) = (0L until n)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    // 200 identical docs: every band bucket holds 200 > MaxBucketDocs —
    // the quadratic bucket is skipped entirely (exact dedup handles
    // identical docs upstream), so no candidate pairs emerge
    assert(Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(corpus(200))).count() === 0)
    // 10 identical docs fit under the cap: all C(10,2) pairs at J=1.0
    assert(Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(corpus(10))).count() === 45)
  }

  test("simhash pairs: full recall at Hamming ≤ 3 while buckets are under the cap") {
    // pigeonhole over 4 bands guarantees recall only while no band
    // bucket exceeds MaxBucketDocs — true at fixture scale (asserted
    // by equality below); beyond it the guard trades recall for
    // boundedness (see Dedup.scala q56 notes)
    val sims = Dedup.simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // brute-force ground truth over all signature pairs
    val expected = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      (a, sa) = sims(i); (b, sb) = sims(j)
      h = sa.zip(sb).count { case (x, y) => x != y }
      if h <= Dedup.HammingMax
    } yield (math.min(a, b), math.max(a, b), h.toLong)).toSet
    val got = Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      "≤3 differing bits cannot touch all 4 bands — recall must be total")
    assert(expected.nonEmpty, "fixture near-dups should collide")
  }

  test("simhash64 pairs: full recall vs brute force; 16-bit bands stay sparse at 10x") {
    val docs = Tables.documents(spark, sf)
    // brute-force ground truth over the 64-bit signatures
    val sims = Dedup.simhash64Sigs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      (a, hiA, loA) = sims(i); (b, hiB, loB) = sims(j)
      h = java.lang.Long.bitCount(hiA ^ hiB) + java.lang.Long.bitCount(loA ^ loB)
      if h <= Dedup.HammingMax
    } yield (math.min(a, b), math.max(a, b), h.toLong)).toSet
    val got = Dedup.simhashPairs64From(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      "≤3 differing bits cannot touch all 4 bands — recall must be total")
    assert(expected.nonEmpty, "fixture near-dups should collide at 64 bits too")
    // the production claim: where q56's 2^8 buckets saturate (~16k
    // docs), 2^16 buckets keep every band bucket under MaxBucketDocs
    // at 10x the fixture corpus — so the guard never truncates
    val amplified = docs
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .withColumn("doc_id", col("doc_id") * 10 + col("rep"))
      .withColumn("text", concat(col("text"), lit(" r"), col("rep")))
      .drop("rep")
    val maxBucket = Dedup.simhash64Sigs(amplified)
      .select(col("doc_id"),
        (col("sig_lo") % 65536).as("b0"), shiftright(col("sig_lo"), 16).as("b1"),
        (col("sig_hi") % 65536).as("b2"), shiftright(col("sig_hi"), 16).as("b3"))
      .selectExpr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_id, band_val)")
      .groupBy("band_id", "band_val").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= Dedup.MaxBucketDocs,
      s"a 16-bit band bucket holds $maxBucket docs at 10x — the " +
        "production parameterization must not rely on the truncation guard")
  }

  test("winnow generator: code-point parity with the declarative plan on non-BMP text") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(spark)
    val docs = Seq(
      (1L, "ab😀cdef ghij 🎉klm nop qrs"), // astral chars
      (2L, "tiny"),                                            // < k code points
      (3L, "Exactly eight plus more normal ascii text here"))
      .toDF("doc_id", "text")
    val norm = docs.select($"doc_id",
      regexp_replace(lower(trim($"text")), "\\s+", " ").as("norm"))
    val gen = norm
      .select($"doc_id", expr("graft_winnow(norm, 8, 4)").as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the declarative reference: code-point positions via Spark's own
    // substring/length (same semantics as the DuckDB oracle)
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.currentRow, 3)
    val ref = norm.filter(length($"norm") >= 8)
      .select($"doc_id", $"norm",
        explode(sequence(lit(1), length($"norm") - 7)).as("pos"))
      .select($"doc_id", $"pos",
        md5(expr("substring(norm, pos, 8)").cast("binary")).as("h"))
      .withColumn("fp", min($"h").over(w))
      .select($"doc_id", $"fp").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gen === ref)
    assert(gen.exists(_._1 == 1L) && !gen.exists(_._1 == 2L))
  }

  test("simhash: near-dup pairs collide, signature is 32 bits") {
    val sims = Dedup.simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sims.values.foreach(s => assert(s.matches("[01]{32}")))
    val pairs = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hams = pairs.map { case (a, b) =>
      sims(a).zip(sims(b)).count { case (x, y) => x != y }
    }
    // J≈0.9 near-dups should have tiny Hamming distance
    assert(hams.forall(_ <= 6), s"hamming distances: ${hams.mkString(",")}")
  }

  test("cosine top-k: ranks ordered by similarity, no self-matches") {
    val rows = VectorOps.cosineTopK(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, g) =>
      assert(g.forall(_.getLong(1) != q))
      val sims = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF assignment: every vector assigned to exactly one existing centroid") {
    val assign = VectorOps.ivfAssign(spark, sf)
    assert(assign.count() === Tables.embeddings(spark, sf).count())
    val cells = assign.select("cell_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(cells.forall(_ % 100 === 0))
  }

  test("IVF top-k search: fitted-codebook recall vs the exact baseline") {
    val exact = VectorOps.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall is partial by design (2 probes of ~5/20 cells); the
    // Lloyd-fitted codebook measured 0.68 (sf0.001) / 0.70 (sf0.01)
    // vs the unfitted seed codebook's 0.66 at equal probe count —
    // the floor pins "fit must not regress below the seeds"
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall collapsed: $recall")
    assert(ivf.nonEmpty)
  }

  test("IVF probe sweep 1..4: recall is monotone in probes (curve in SCALE.md)") {
    // the recall-vs-cost knob: each extra probe scans one more cell's
    // vectors per query (cost ≈ probes/cells of the corpus), buying
    // recall. Measured at sf0.001 (20-cell codebook): 0.38 / 0.68 /
    // 0.74 / 0.88 for probes 1-4 — recorded in SCALE.md; the spec pins
    // monotonicity and the endpoints rather than exact points so a
    // codebook tweak doesn't false-alarm.
    val exact = VectorOps.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val curve = (1 to 4).map { p =>
      val ivf = VectorOps.ivfTopKProbes(spark, sf, p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      p -> (exact.intersect(ivf).size.toDouble / exact.size)
    }
    info(s"recall@probes: ${curve.map { case (p, r) => f"$p:$r%.2f" }.mkString(" ")}")
    curve.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(hi >= lo - 1e-9, s"recall not monotone: $curve")
    }
    assert(curve.head._2 >= 0.3, s"1-probe recall collapsed: $curve")
    assert(curve(1)._2 >= 0.5, s"default 2-probe recall floor: $curve")
    assert(curve.last._2 > curve.head._2,
      s"extra probes must buy recall on the fixture: $curve")
  }

  test("IVF-bucketed near-dup pairs: exact precision, high recall vs q51") {
    val exact = VectorOps.embeddingNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = VectorOps.ivfNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates are verified with the exact kernel → precision is 1
    assert(bucketed.subsetOf(exact),
      s"bucketed path invented pairs: ${bucketed -- exact}")
    // recall: 2-probe cell blocking must catch most geometric
    // neighbors (pairs above the cosine threshold live in nearby
    // Voronoi cells by construction)
    val recall = (exact intersect bucketed).size.toDouble / exact.size
    info(f"ivf near-dup recall: $recall%.2f (${bucketed.size}/${exact.size})")
    assert(exact.nonEmpty && recall >= 0.6,
      s"cell-blocked recall collapsed: $recall")
  }

  test("near-dup probe sweep 1..4: recall monotone, precision stays exact " +
       "(curve in SCALE.md)") {
    // the q69 recall-vs-cost knob (mirrors ivfTopKProbes): each extra
    // probe lands every vector in one more cell, so candidates grow
    // ~linearly while recall climbs toward the exact baseline
    val exact = VectorOps.embeddingNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val curve = (1 to 4).map { p =>
      val pairs = VectorOps.ivfNearDupPairs(spark, sf, p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.subsetOf(exact),
        s"probes=$p invented pairs: ${pairs -- exact}")
      p -> (exact.intersect(pairs).size.toDouble / exact.size)
    }
    info(s"near-dup recall@probes: ${
      curve.map { case (p, r) => f"$p:$r%.2f" }.mkString(" ")}")
    curve.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(hi >= lo - 1e-9, s"recall not monotone: $curve")
    }
    assert(curve(1)._2 >= 0.6, s"default 2-probe recall floor: $curve")
    assert(curve.last._2 >= curve(1)._2,
      s"extra probes past the default must not lose pairs: $curve")
  }

  test("winnowing: near-dup documents share fingerprints; fingerprint sets are compact") {
    val fps = Dedup.winnowFingerprints(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    // winnowing selects ≤ 1 fingerprint per window start → far fewer
    // than one per k-gram
    val doc = Tables.documents(spark, sf).limit(1).collect()(0)
    val n = doc.getAs[Long]("n_chars")
    assert(fps(doc.getAs[Long]("doc_id")).size < n)
    // planted near-dup pairs (Jaccard >= 0.9) must overlap heavily
    Dedup.jaccardPairs(spark, sf).collect().take(5).foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val inter = (fps(a) intersect fps(b)).size.toDouble
      val overlap = inter / math.min(fps(a).size, fps(b).size)
      assert(overlap > 0.5, s"pair ($a,$b) winnow overlap $overlap")
    }
  }

  test("multimodal: frame sampling covers the payload at the stride, hashes slices exactly") {
    val frames = Multimodal.frameSample(spark, sf).collect()
    assert(frames.nonEmpty)
    val docCount = frames.map(_.getLong(0)).distinct.length
    // the stride must actually sample (some doc yields 2+ frames) AND
    // actually skip (no doc yields every frame index)
    assert(frames.length > docCount)
    assert(frames.forall(f => f.getLong(1) % Multimodal.FrameStride == 0))
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = frames.groupBy(_.getLong(0))
    byDoc.foreach { case (id, fs) =>
      val cps = texts(id).codePoints().toArray
      val nFrames = (cps.length + Multimodal.FrameChars - 1) / Multimodal.FrameChars
      val expectIdx = (0 until nFrames by Multimodal.FrameStride).map(_.toLong)
      assert(fs.map(_.getLong(1)).sorted.toSeq === expectIdx)
      fs.foreach { f =>
        val i = f.getLong(1).toInt
        val until = math.min((i + 1) * Multimodal.FrameChars, cps.length)
        val slice = new String(cps, i * Multimodal.FrameChars,
          until - i * Multimodal.FrameChars)
        assert(f.getLong(3) === slice.codePointCount(0, slice.length).toLong)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(slice.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(f.getString(2) === hex)
      }
    }
  }

  test("multimodal: frame partition is exact on non-BMP text (stride 1 covers, hashes match)") {
    import spark.implicits._
    // surrogate-pair characters: UTF-16 length ≠ codepoint count, so a
    // code-unit slicer would split frames mid-character and diverge
    // from the oracle's substr() arithmetic
    val text = ("ab😀c" * 10) + "🍕" // 41 cps, 52 utf-16 units
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val media = Multimodal.mediaTableFrom(docs)
    val all = Multimodal.frameSampleFrom(media, frameChars = 7, stride = 1)
      .collect()
    val cps = text.codePoints().toArray
    assert(all.length === (cps.length + 6) / 7)
    assert(all.map(_.getLong(3)).sum === cps.length.toLong)
    all.foreach { f =>
      val i = f.getLong(1).toInt
      val until = math.min((i + 1) * 7, cps.length)
      val slice = new String(cps, i * 7, until - i * 7)
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(f.getString(2) ===
        md.digest(slice.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
    // strided sampling is exactly the stride-1 row subset
    val strided = Multimodal.frameSampleFrom(media, frameChars = 7, stride = 3)
      .collect().map(_.getLong(1)).toSeq
    assert(strided === all.map(_.getLong(1)).filter(_ % 3 == 0).toSeq)
  }

  test("q128 cross-modal dedup: two videos sharing a duplicated " +
       "segment cluster together; the pair table bridges near-content") {
    import spark.implicits._
    // FrameChars=64, stride=2: a 128-char doc samples exactly frame 0
    // (its first 64 chars). doc 1 and doc 2 share that segment —
    // identical frame content → identical lookup → same-vec edge.
    val seg = "A" * 64
    val docs = Seq(
      (1L, seg + ("b" * 64)),
      (2L, seg + ("c" * 64)),
      (3L, ("d" * 64) + ("e" * 64))).toDF("doc_id", "text")
    val frames = Multimodal.frameSampleFrom(Multimodal.mediaTableFrom(docs))
    val embs = (0L until 997L).map(i => (i, Seq(0.1f), 0)) // only MAX(vec_id)+1 matters
      .toDF("vec_id", "embedding", "label")
    val noPairs = Seq.empty[(Long, Long)].toDF("vec_a", "vec_b")
    val kept = Multimodal.crossModalKeepFrom(frames, embs, noPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // docs 1/2 cluster (keeper = min id 1); doc 3 untouched
    assert(kept.toSeq === Seq((1L, 1L), (3L, 1L)))
    // near-content: publish a vec pair connecting doc 3's frame
    // content to the shared segment's content — all three now cluster
    def vecOf(md5hex: String): Long =
      java.lang.Long.parseLong(md5hex.substring(0, 8), 16) % 997L
    val byDoc = frames.collect()
      .map(r => r.getLong(0) -> vecOf(r.getString(2))).toMap
    val bridge = Seq((math.min(byDoc(1L), byDoc(3L)),
      math.max(byDoc(1L), byDoc(3L)))).toDF("vec_a", "vec_b")
    val keptBridged = Multimodal
      .crossModalKeepFrom(frames, embs, bridge)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keptBridged.toSeq === Seq((1L, 1L)))
  }

  test("q128 codec seam: a custom MediaCodec drops into the cross-" +
       "modal dedup without touching the dedup machinery") {
    import spark.implicits._
    import graft.operators.{MediaCodec, StubCodec}
    // a codec whose "encoder" maps EVERY frame to vector 0: all
    // framed videos become same-content duplicates, so the keep must
    // collapse to the min doc_id — a behavior the stub codec would
    // never produce on these distinct texts
    object AllSameCodec extends MediaCodec {
      def decode(p: Array[Byte]) = StubCodec.decode(p)
      def frames(m: org.apache.spark.sql.DataFrame, fc: Int, st: Int) =
        StubCodec.frames(m, fc, st)
      def frameVecs(fr: org.apache.spark.sql.DataFrame,
                    em: org.apache.spark.sql.DataFrame) =
        fr.select($"doc_id", lit(0L).as("vec_id")).distinct()
    }
    val docs = Seq((7L, "x" * 64), (8L, "y" * 64), (9L, "z" * 64))
      .toDF("doc_id", "text")
    val frames = Multimodal.frameSampleFrom(Multimodal.mediaTableFrom(docs))
    val embs = (0L until 997L).map(i => (i, Seq(0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val noPairs = Seq.empty[(Long, Long)].toDF("vec_a", "vec_b")
    // stub codec: three distinct contents, nothing clusters
    val stubKept = Multimodal.crossModalKeepFrom(frames, embs, noPairs)
      .collect().map(_.getLong(0)).toSet
    assert(stubKept === Set(7L, 8L, 9L))
    // custom codec: everything is the same content, min id survives
    val kept = Multimodal
      .crossModalKeepFrom(frames, embs, noPairs, AllSameCodec)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(7L))
  }

  test("q128 docs-per-vector guard: a pathologically shared frame " +
       "content (one vec_id in 150 videos) is skipped — its quadratic " +
       "edge family never materializes; under-cap content still dedups") {
    import spark.implicits._
    // 150 videos all opening with the same 64-char intro slate (each
    // doc is exactly one frame), plus two videos sharing a DIFFERENT
    // under-cap segment, plus one singleton.
    val slate = "S" * 64
    val seg = "Q" * 64
    val popular = (1L to 150L).map(i => (i, slate))
    val docs = (popular ++ Seq((200L, seg), (201L, seg),
      (300L, "z" * 64))).toDF("doc_id", "text")
    val frames = Multimodal.frameSampleFrom(Multimodal.mediaTableFrom(docs))
    val embs = (0L until 997L).map(i => (i, Seq(0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val noPairs = Seq.empty[(Long, Long)].toDF("vec_a", "vec_b")
    // the audit view names exactly the slate's vec_id at occupancy 150
    val skipped = Multimodal.crossModalSkippedVecsFrom(frames, embs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def vecOf(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 997L
    }
    assert(skipped.toSeq === Seq((vecOf(slate), 150L)))
    // without the guard sameVec would emit 150*149/2 = 11175 pairs and
    // collapse the popular family to one keeper; WITH it the oversized
    // vec_id contributes zero edges — all 150 stay kept — while the
    // under-cap pair (200, 201) still dedups to its min id
    val kept = Multimodal.crossModalKeepFrom(frames, embs, noPairs)
      .collect().map(_.getLong(0)).toSet
    assert((1L to 150L).forall(kept.contains))
    assert(kept.contains(200L) && !kept.contains(201L))
    assert(kept.contains(300L))
    assert(kept.size === 152)
    // an oversized vec_id must not bridge through the pair table
    // either: publish a pair touching the slate's content — still no
    // popular-family edges
    val other = vecOf(seg)
    val bridge = Seq((math.min(vecOf(slate), other),
      math.max(vecOf(slate), other))).toDF("vec_a", "vec_b")
    val keptB = Multimodal.crossModalKeepFrom(frames, embs, bridge)
      .collect().map(_.getLong(0)).toSet
    assert((1L to 150L).forall(keptB.contains))
    assert(keptB.size === 152)
  }

  test("q128 on the fixture: deterministic, keepers are cluster " +
       "minima, frame counts match q66") {
    val a = Multimodal.crossModalKeep(spark, sf).collect()
    val b = Multimodal.crossModalKeep(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.nonEmpty)
    val nf = Multimodal.frameSample(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    a.foreach(r => assert(nf(r.getLong(0)) === r.getLong(1)))
    val keptIds = a.map(_.getLong(0)).toSet
    val total = graft.Tables.documents(spark, sf).count()
    assert(keptIds.size <= total)
  }

  test("multimodal: resize preserves aspect ratio and respects the bounding box") {
    val rows = Multimodal.mediaResize(spark, sf).collect()
    assert(rows.nonEmpty)
    var shrunk = 0
    rows.foreach { r =>
      val (w, h, ow, oh) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val m = math.max(w, h)
      if (m <= Multimodal.ResizeMaxDim) assert(ow === w && oh === h)
      else {
        shrunk += 1
        assert(math.max(ow, oh) === Multimodal.ResizeMaxDim.toLong)
        // integer floor of the exact aspect-preserving scale
        assert(ow === w * Multimodal.ResizeMaxDim / m)
        assert(oh === h * Multimodal.ResizeMaxDim / m)
      }
    }
    // stub dims span 64..127, so both branches must actually occur
    assert(shrunk > 0 && shrunk < rows.length)
  }

  test("multimodal: typed mapPartitions decode agrees with the DataFrame metadata path") {
    val typed = Multimodal.decodeMedia(spark, sf).collect()
      .map(m => m.doc_id -> m).toMap
    val df = Multimodal.mediaMeta(spark, sf).collect()
    assert(df.length === typed.size)
    df.foreach { r =>
      val m = typed(r.getLong(0))
      assert(m.n_bytes.toLong === r.getLong(1))
      assert(m.head_byte === r.getInt(2))
      assert(m.width.toLong === r.getLong(3))
      assert(m.height.toLong === r.getLong(4))
      assert(m.feature.length === 8)
    }
  }

  test("multimodal: JdkImageCodec decodes a real in-memory PNG through " +
       "the full q52 typed path — true dimensions, gradient feature " +
       "bands, stub default untouched") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // 100×40 vertical gradient: top band black, bottom band white
    val img = new BufferedImage(100, 40, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 40; x <- 0 until 100) {
      val g = math.min(255, y * 255 / 39)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    val media = Seq((1L, png)).toDF("doc_id", "payload")
    val out = Multimodal.decodeMediaFrom(media, JdkImageCodec).collect()
    assert(out.length === 1)
    val m = out.head
    assert(m.width === 100 && m.height === 40,
      "the codec must report the image's TRUE dimensions, not the stub's")
    assert(m.n_bytes === png.length)
    assert(m.feature.length === 8)
    // bands ascend with the gradient, spanning near-black to near-white
    assert(m.feature.head < 0.1f && m.feature.last > 0.85f)
    m.feature.sliding(2).foreach { case Array(a, b) =>
      assert(a < b, s"gradient bands must ascend: ${m.feature.toSeq}")
    }
    // the stub default is untouched: same payload, stub dimensions
    val stub = Multimodal.decodeMediaFrom(media).collect().head
    assert(stub.width === 64 + png.length % 64 &&
      stub.height === 64 + (png.length / 64) % 64)
    // a non-image payload fails loudly, never silently
    val bad = Seq((2L, "just text".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeMediaFrom(bad, JdkImageCodec).collect()
    }
    assert(e.getMessage.contains("JdkImageCodec") ||
      Option(e.getCause).exists(_.getMessage.contains("JdkImageCodec")))
  }

  test("multimodal: JdkWavCodec decodes a real in-memory WAV through " +
       "the full q52 typed path — channels/rate dimensions, RMS time " +
       "bands, stub default untouched") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    // 1 s mono 8 kHz 440 Hz sine whose amplitude steps up by eighth:
    // band b spans exactly 55 full cycles at amplitude (b+1)/8, so
    // its RMS is (b+1)/8/sqrt(2) exactly — an ascending staircase
    val rate = 8000
    val n = 8000
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val band = math.min(7, i * 8 / n)
      val amp = (band + 1) / 8.0
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * amp * 32767)
        .toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val media = Seq((1L, wav)).toDF("doc_id", "payload")
    val out = Multimodal.decodeMediaFrom(media, JdkWavCodec).collect()
    assert(out.length === 1)
    val m = out.head
    assert(m.width === 1 && m.height === rate,
      "the codec must report the stream's TRUE (channels, sample rate)")
    assert(m.n_bytes === wav.length)
    assert(m.feature.length === 8)
    m.feature.zipWithIndex.foreach { case (v, b) =>
      val expected = (b + 1) / 8.0 / math.sqrt(2)
      assert(math.abs(v - expected) < 0.02,
        s"band $b RMS $v must be ~$expected")
    }
    m.feature.sliding(2).foreach { case Array(a, b) =>
      assert(a < b, s"RMS bands must ascend: ${m.feature.toSeq}")
    }
    // the stub default is untouched: same payload, stub dimensions
    val stub = Multimodal.decodeMediaFrom(media).collect().head
    assert(stub.width === 64 + wav.length % 64 &&
      stub.height === 64 + (wav.length / 64) % 64)
    // a non-audio payload fails loudly, never silently
    val bad = Seq((2L, "just text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeMediaFrom(bad, JdkWavCodec).collect()
    }
    assert(e.getMessage.contains("JdkWavCodec") ||
      Option(e.getCause).exists(_.getMessage.contains("JdkWavCodec")))
  }

  test("q82 repeated spans: planted boilerplate flags, unique docs keep, " +
       "partial overlap lands strictly between") {
    import spark.implicits._
    val boiler =
      "this is a long shared boilerplate sentence that repeats everywhere"
    val docs = Seq(
      (1L, boiler),
      (2L, boiler),
      (3L, s"alpha beta gamma delta epsilon zeta eta theta iota $boiler"),
      (4L, "zzz qqq vvv www kkk mmm nnn ppp rrr ttt uuu xxx yyy jjj"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpansFrom(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L)._3 === 1.0 && !out(1L)._4, "full clone must flag")
    assert(out(2L)._3 === 1.0 && !out(2L)._4)
    assert(out(3L)._3 > 0.0 && out(3L)._3 < 1.0,
      "partial boilerplate is a strict mixture")
    assert(out(3L)._2 > 0 && out(3L)._2 < out(3L)._1)
    assert(out(4L)._3 === 0.0 && out(4L)._4, "unique doc keeps clean")
  }

  test("q82 repeated spans: one row per fixture doc, verdicts consistent, " +
       "near-dup clone families light up") {
    val rows = Dedup.repeatedSpans(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "shared <= total")
      assert(r.getBoolean(4) ===
        (r.getDouble(3) <= Dedup.MaxSharedFpFrac))
    }
    assert(rows.exists(!_.getBoolean(4)),
      "the fixture's planted near-dup families must flag")
    assert(rows.exists(_.getBoolean(4)))
  }

  test("q78 label coherence: graft_vec_avg centroid is bit-identical " +
       "to the decimal posexplode mean") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val all = Tables.embeddings(spark, sf)
      .select($"label", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val fast = all.groupBy($"label")
      .agg(expr("graft_vec_avg(v)").as("cv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // the fittedCentroids discipline, label-keyed: round 6dp, sum as
    // DECIMAL (exact, order-independent), divide in double space
    val slow = all
      .select($"label", posexplode($"v").as(Seq("pos", "val")))
      .groupBy($"label", $"pos")
      .agg((sum(round($"val", 6).cast(DecimalType(18, 6)))
        .cast(DoubleType) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(transform(sort_array(collect_list(struct($"pos", $"c"))),
        x => x("c")).as("cv"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(fast.keySet === slow.keySet)
    fast.foreach { case (label, cv) =>
      val ref = slow(label)
      assert(cv.length === ref.length)
      cv.indices.foreach { i =>
        assert(java.lang.Double.doubleToLongBits(cv(i)) ===
               java.lang.Double.doubleToLongBits(ref(i)),
          s"label $label component $i: ${cv(i)} vs ${ref(i)}")
      }
    }
  }

  test("q78 label coherence: one row per vector, flag consistent with " +
       "the gate, and both sides of the gate populated") {
    import spark.implicits._
    val rows = VectorOps.labelCoherence(spark, sf).collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    val sizes = rows.groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    rows.foreach { r =>
      assert(r.getLong(2) === sizes(r.getInt(1)).toLong, "n_label")
      assert(r.getBoolean(4) === (r.getDouble(3) >= VectorOps.CoherenceMin))
      assert(r.getDouble(3) >= -1.000001 && r.getDouble(3) <= 1.000001)
    }
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)),
      "the gate separates the corpus (≈10% antipodal tail)")
  }

  test("q89 incremental dedup == full rebuild over the new snapshot " +
       "on the fixture") {
    import spark.implicits._
    val curDocs = Tables.documents(spark, sf).filter(
      $"doc_id" % graft.operators.Corpus.SnapRemovedMod
        =!= graft.operators.Corpus.SnapRemovedRes)
    val incremental = Dedup.incrementalKeepCorpus(spark, sf).collect()
    val full = Dedup.dedupKeepCorpusFrom(curDocs,
      Dedup.dedupClustersFrom(
        Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(curDocs))
          .select($"doc_a", $"doc_b"))).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q104 incremental canonical keep == full q103 over the new " +
       "snapshot on the fixture") {
    import spark.implicits._
    val curDocs = Tables.documents(spark, sf).filter(
      $"doc_id" % graft.operators.Corpus.SnapRemovedMod
        =!= graft.operators.Corpus.SnapRemovedRes)
    val incremental = Dedup.incrementalCanonicalKeep(spark, sf).collect()
    val full = Dedup.canonicalKeepCorpusFrom(curDocs,
      Dedup.clusterLabels(
        Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(curDocs))
          .select($"doc_a", $"doc_b"))
        .select($"doc_id", $"lbl".as("cluster_id"))).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("publish-once: a warmed q107 consumer launches only the " +
       "presentation read — zero signing/banding/verification jobs") {
    // first access publishes the maintained tables (pays the one
    // shared machinery run, memoized per corpus fingerprint)
    Dedup.incrementalContainment(spark, sf).collect()
    // a re-read must be a sort over the published checkpoint: a
    // couple of scheduler jobs at most. The maintenance chain alone
    // is ~10+ jobs (eager barriers + broadcast builds), so the bound
    // separates the regimes with a wide margin.
    val sc = spark.sparkContext
    sc.setJobGroup("q107-publish-once-pin", "publish-once job pin", false)
    try Dedup.incrementalContainment(spark, sf).collect()
    finally sc.clearJobGroup()
    // the status tracker is fed asynchronously: poll until the
    // group's job list is non-empty AND stable across three
    // consecutive reads 100 ms apart (bounded at 30 s), rather than a
    // fixed sleep (ADVICE r12 — a loaded box could outlast any
    // constant). Stability makes the <=3 upper bound trustworthy —
    // not an artifact of checking before the listener drained.
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def groupJobs() =
      sc.statusTracker.getJobIdsForGroup("q107-publish-once-pin")
    var jobs = groupJobs()
    var stableReads = 0
    while (stableReads < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val next = groupJobs()
      stableReads =
        if (next.nonEmpty && next.sameElements(jobs)) stableReads + 1
        else 0
      jobs = next
    }
    assert(jobs.length <= 3 && jobs.nonEmpty,
      s"expected <=3 read jobs after publish, saw ${jobs.length}")
    // and the logical read is a single published leaf — no file scan
    val leaves = Dedup.incrementalContainment(spark, sf)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 1 &&
      leaves.head.getClass.getSimpleName.contains("LogicalRDD"),
      s"expected one checkpointed leaf, got $leaves")
  }

  test("q89 bucket recovery: deletions that pull an oversized bucket " +
       "under the cap regenerate its never-recorded pairs") {
    import spark.implicits._
    // 66 byte-identical docs land in the same 4 band buckets, all at
    // occupancy 66 > MaxBucketDocs: the prev index recorded NO pairs.
    // Removing 3 brings the buckets to 63 <= cap — the full rebuild
    // clusters all 63, so the incremental path must regenerate the
    // pairs a pure carry-forward would never see.
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    val prevDocs = (1L to 66L).map(_ -> clone)
      .toDF("doc_id", "text")
    val curDocs = (4L to 66L).map(_ -> clone).toDF("doc_id", "text")
    val diff = ((1L to 3L).map(_ -> "removed") ++
      (4L to 66L).map(_ -> "unchanged")).toDF("doc_id", "status")
    val (fps, bands, cand, verified) = Dedup.indexState(prevDocs)
    assert(cand.isEmpty, "all prev buckets are oversized: no pairs stored")
    val kept = Dedup.incrementalKeepCorpusOf(fps, bands, cand, verified,
      curDocs, Delta(diff, "doc_id")).collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(4L), "the recovered bucket must cluster to one keeper")
  }

  test("q89 delta probe: an added doc pairs with stored state without " +
       "re-signing the old corpus") {
    import spark.implicits._
    val original = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val unrelated = (100 to 140).map(i => s"u$i").mkString(" ")
    val prevDocs = Seq(5L -> original, 9L -> unrelated).toDF("doc_id", "text")
    val curDocs = Seq(5L -> original, 9L -> unrelated, 30L -> nearDup)
      .toDF("doc_id", "text")
    val diff = Seq((5L, "unchanged"), (9L, "unchanged"), (30L, "added"))
      .toDF("doc_id", "status")
    val (fps, bands, cand, verified) = Dedup.indexState(prevDocs)
    val kept = Dedup.incrementalKeepCorpusOf(fps, bands, cand, verified,
      curDocs, Delta(diff, "doc_id")).collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(5L, 9L), "cluster {5,30} keeps 5; 9 untouched")
  }

  test("q91 incremental IVF == full reassignment of the new snapshot " +
       "against the frozen sample codebook") {
    val incremental = VectorOps.incrementalIvfAssign(spark, sf).collect()
    val full = VectorOps.fullIvfAssignSample(spark, sf).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q91 carries unchanged assignments forward VERBATIM and " +
       "reassigns only the dirty slice") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val codebook = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "cv")
    // poison the stored assignments with a sentinel cell_id no
    // codebook contains: unchanged vectors must keep it (proof of
    // carry-forward, not reassignment); the changed vector must lose
    // it to a fresh argmin against the real codebook.
    val prevAssign = Seq((1L, -77L, 0.0), (2L, -77L, 0.0),
      (3L, 0L, 0.0), (9L, 1L, 0.0)).toDF("vec_id", "cell_id", "dist2")
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (3L, "changed"),
      (4L, "added"), (9L, "removed")).toDF("vec_id", "status")
    val curVecs = VectorOps.vecsFrom(Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding"))
    val out = VectorOps
      .incrementalIvfAssignOf(prevAssign, curVecs, Delta(diff, "vec_id"), codebook)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === -77L && out(2L) === -77L, "unchanged rows reassigned")
    assert(out(3L) === 1L && out(4L) === 1L, "dirty rows not reassigned")
    assert(!out.contains(9L), "removed vector survived")
  }

  test("q91 codebook stability: the training sample — and so the " +
       "frozen codebook — is identical in both snapshots") {
    val all = VectorOps.vecsFrom(Tables.embeddings(spark, sf))
    val fromPrev = VectorOps.vecSnapshotSample(
      VectorOps.vecSnapshotPrev(all)).collect().map(_.getLong(0)).toSeq
    val fromCur = VectorOps.vecSnapshotSample(
      VectorOps.vecSnapshotCur(all)).collect().map(_.getLong(0)).toSeq
    val direct = VectorOps.vecSnapshotSample(all)
      .collect().map(_.getLong(0)).toSeq
    assert(fromPrev === direct && fromCur === direct,
      "sample must be untouched by the diff in either direction")
    assert(direct.nonEmpty)
  }

  test("q93 semantic dedup keeps exactly one representative (min " +
       "vec_id) per q69 component — union-find ground truth") {
    val pairs = VectorOps.ivfNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val drop = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .filter(v => find(v) != v).toSet
    val all = Tables.embeddings(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = VectorOps.semanticKeepCorpus(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === (all -- drop).toSeq.sorted)
    assert(drop.nonEmpty, "fixture has no semantic dups — test is vacuous")
  }

  test("q93 hand graph: chained pairs collapse to the min, isolated " +
       "vectors survive untouched") {
    import spark.implicits._
    val emb = Seq((1L, "x"), (2L, "x"), (5L, "y"), (7L, "z"), (8L, "z"),
      (9L, "w")).toDF("vec_id", "label")
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("vec_a", "vec_b")
    val kept = VectorOps.semanticKeepCorpusFrom(emb, pairs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(kept === Seq((1L, "x"), (7L, "z"), (9L, "w")))
  }

  test("q103 hand clusters: argmax-quality member survives (not min " +
       "id), ties fall to min id, singletons kept") {
    import spark.implicits._
    val docs = Seq(
      1L -> "the the the the",        // cluster A, low quality
      2L -> "alpha beta gamma delta", // cluster A, high quality → keeper
      5L -> "same text here",         // cluster B ─┐ identical quality:
      6L -> "same text here",         // cluster B ─┘ tie → min id 5
      9L -> "solo document"           // unclustered → kept
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.canonicalKeepCorpusFrom(docs, clusters)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(2L, 5L, 9L))
  }

  test("q103 vs q70 on the fixture: same clusters, keeper is the " +
       "quality argmax of each") {
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.exists(c => c._1 != c._2),
      "fixture has no near-dup clusters — test is vacuous")
    // null-tolerant read with the operator's own -1.0 fallback: a
    // zero-token doc has NULL quality, and getDouble would NPE even
    // though the map is only consulted for cluster members (ADVICE r9)
    val quality = TextOps.qualityScore(spark, sf).collect()
      .map { r =>
        val qi = r.fieldIndex("quality")
        r.getLong(0) -> (if (r.isNullAt(qi)) -1.0 else r.getDouble(qi))
      }.toMap
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1))
    // ground-truth keeper per cluster: max quality, then min doc_id
    val keepers = members.values.map(ms =>
      ms.maxBy(id => (quality(id), -id))).toSet
    val dropped = clusters.map(_._1).toSet -- keepers
    val all = Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.canonicalKeepCorpus(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === (all -- dropped).toSeq.sorted)
    // same cardinality as q70 (one keeper per cluster), different picks
    // whenever some cluster's best member is not its min id
    assert(kept.size === Dedup.dedupKeepCorpus(spark, sf).count())
  }

  test("tauFrac: exact short-decimal rationals; the floor fallback is " +
       "sound-by-construction (ADVICE r16)") {
    // exact path: τ's shortest decimal representation, reduced
    assert(Dedup.tauFrac(0.8) === (4L, 5L))
    assert(Dedup.tauFrac(1.0) === (1L, 1L))
    assert(Dedup.tauFrac(0.5) === (1L, 2L))
    assert(Dedup.tauFrac(0.75) === (3L, 4L))
    assert(Dedup.tauFrac(0.9999) === (9999L, 10000L))
    // fallback path (non-short-decimal τ): the largest p/10^4 ≤ τ —
    // sitting BELOW τ only lengthens prefixes and weakens the overlap
    // bounds, so pruning loses power but never a qualifying pair
    val (p, q) = Dedup.tauFrac(2.0 / 3)
    assert((p, q) === (6666L, 10000L))
    assert(BigDecimal(p) / q <= BigDecimal(2.0 / 3))
    // a 5+-decimal τ also reduces past q ≤ 10^4 and takes the floor
    val (p2, q2) = Dedup.tauFrac(0.123456)
    assert((p2, q2) === (1234L, 10000L))
    assert(BigDecimal(p2) / q2 <= BigDecimal(0.123456))
  }

  test("q136/q137 exact kept corpus: composition equals the brute-force " +
       "chain at τ=0.8, exactly one survivor per component") {
    val docs = Tables.documents(spark, sf)
    // ground truth: q45's brute-force pairs at q130's threshold feed
    // the same q62→q70 tail — the oracle's shape, recomputed in-engine
    val clusters = Dedup.dedupClustersFrom(
      Dedup.jaccardPairsFrom(docs,
          threshold = Dedup.PrefixJaccardThreshold)
        .select(col("doc_a"), col("doc_b")))
    val cl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cl.exists(c => c._1 != c._2),
      "fixture has no exact near-dup clusters at τ=0.8 — test is vacuous")
    val kept = Dedup.prefixKeepCorpus(spark, sf).collect()
    assert(kept.toSeq ===
      Dedup.dedupKeepCorpusFrom(docs, clusters).collect().toSeq)
    // exactly ONE survivor per component — the min doc_id
    val keptIds = kept.map(_.getLong(0)).toSet
    cl.groupBy(_._2).foreach { case (lbl, ms) =>
      val ids = ms.map(_._1)
      assert(ids.filter(keptIds).sorted.toSeq === Seq(ids.min),
        s"cluster $lbl must keep exactly its min doc_id")
    }
    // canonical twin: same cardinality (one keeper per component),
    // keeper = quality argmax with min-id ties
    val canon = Dedup.prefixCanonicalKeep(spark, sf).collect()
    assert(canon.length === kept.length)
    val quality = TextOps.qualityScore(spark, sf).collect().map { r =>
      val qi = r.fieldIndex("quality")
      r.getLong(0) -> (if (r.isNullAt(qi)) -1.0 else r.getDouble(qi))
    }.toMap
    val canonIds = canon.map(_.getLong(0)).toSet
    cl.groupBy(_._2).foreach { case (lbl, ms) =>
      val ids = ms.map(_._1)
      val best = ids.maxBy(id => (quality(id), -id))
      assert(ids.filter(canonIds).toSeq === Seq(best),
        s"cluster $lbl must keep exactly its quality-argmax member")
    }
  }

  test("q140 containment keep: every pair drops its covered endpoint " +
       "— equals the brute-force rule on the fixture; a subset doc " +
       "the Jaccard keeper retains is removed; chains keep only the " +
       "maximal doc") {
    // fixture: the composed keep equals the brute-force sized pairs +
    // the same integer-size drop rule applied in plain Scala
    val docs = Tables.documents(spark, sf)
    val bruteDrop = Dedup.pairOverlap(Dedup.shingleFpsFrom(docs), "fp")
      .filter(greatest(col("i") * lit(1.0) / col("na"),
        col("i") * lit(1.0) / col("nb")) >= Dedup.ContainmentThreshold)
      .collect().map { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        val (na, nb) = (r.getAs[Long]("na"), r.getAs[Long]("nb"))
        if (na < nb) a else if (nb < na) b else math.max(a, b)
      }.toSet
    assert(bruteDrop.nonEmpty, "fixture has no containment pairs — vacuous")
    val kept = Dedup.containmentKeepCorpus(spark, sf).collect()
    val expected = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").length)
      .filterNot(d => bruteDrop(d._1)).sortBy(_._1)
    assert(kept.map(r => r.getLong(0) -> r.getLong(1).toInt).toSeq
      === expected.toSeq)
    // hand corpus: w ⊂ x ⊂ y is a containment CHAIN whose links sit
    // below the 0.8 Jaccard threshold, plus a near-equal clone pair
    // (z, z') — the act the Jaccard keeper structurally cannot take
    val base = (1 to 60).map(i => s"t$i")
    val hand = spark.createDataFrame(Seq(
      10L -> base.take(20).mkString(" "),          // w  ⊂ x
      20L -> base.take(40).mkString(" "),          // x  ⊂ y
      30L -> base.mkString(" "),                   // y  (maximal)
      40L -> ((1 to 59).map(i => s"t$i") :+ "zz").mkString(" "), // y clone
      50L -> (100 to 140).map(i => s"u$i").mkString(" ")))       // bystander
      .toDF("doc_id", "text")
    val handKept = Dedup.containmentKeepCorpusOf(hand,
        Dedup.prefixContainmentSizedOver(Dedup.shingleFpsFrom(hand), "fp",
          Dedup.ContainmentThreshold))
      .collect().map(_.getLong(0)).toSeq
    // chain: only the maximal doc of {10, 20, 30} survives; the
    // near-equal pair {30, 40} keeps one side; 50 untouched.
    // 40 (59 shared of 60) covers 30 and vice versa — near-equal,
    // sizes differ by the mutated tail's shingles, so the smaller
    // drops; the surviving superset chain member must be 30 or 40.
    assert(handKept.contains(50L))
    assert(!handKept.contains(10L) && !handKept.contains(20L),
      "subset docs of the chain must drop")
    assert(handKept.count(Set(30L, 40L)) === 1,
      "the near-equal pair must keep exactly one side")
    // the Jaccard keeper CANNOT drop the chain's subset docs: no link
    // reaches Jaccard 0.8, so w/x survive there — the q140 contrast
    val jacKept = Dedup.dedupKeepCorpusFrom(hand,
        Dedup.dedupClustersFrom(Dedup.jaccardPairsFrom(hand,
            threshold = Dedup.PrefixJaccardThreshold)
          .select(col("doc_a"), col("doc_b"))))
      .collect().map(_.getLong(0)).toSeq
    assert(jacKept.contains(10L) && jacKept.contains(20L),
      "expected the Jaccard keeper to retain the subset docs q140 drops")
  }

  test("q141 incremental exact keep == the full q136 chain over the " +
       "new snapshot") {
    val cur = Corpus.snapshotCur(Tables.documents(spark, sf))
    // the oracle's claim, in-engine: maintained pairs -> CC -> keep
    // lands byte-identically on rebuilding everything from cur text
    val rebuild = Dedup.dedupKeepCorpusFrom(cur,
        Dedup.dedupClustersFrom(
          Dedup.prefixJaccardPairsFrom(cur,
              threshold = Dedup.PrefixJaccardThreshold)
            .select(col("doc_a"), col("doc_b"))))
      .collect()
    val inc = Dedup.incrementalPrefixKeep(spark, sf).collect()
    assert(rebuild.length < cur.count(),
      "snapshot has no exact near-dup drops — test is vacuous")
    assert(inc.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      rebuild.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("q142 incremental containment keep == the full q140 chain over " +
       "the new snapshot; the ratio drop rule equals the size rule") {
    val cur = Corpus.snapshotCur(Tables.documents(spark, sf))
    val sized = Dedup.prefixContainmentSizedOver(
      Dedup.shingleFpsFrom(cur), "fp", Dedup.ContainmentThreshold)
    val rebuild = Dedup.containmentKeepCorpusOf(cur, sized).collect()
    val inc = Dedup.incrementalContainmentKeep(spark, sf).collect()
    assert(rebuild.length < cur.count(),
      "snapshot has no containment drops — test is vacuous")
    assert(inc.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      rebuild.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // the scaladoc's equivalence premise, checked on real pairs: the
    // ratio comparison decides exactly as the integer-size comparison
    sized.collect().foreach { r =>
      val (na, nb) = (r.getAs[Long]("na"), r.getAs[Long]("nb"))
      val i = r.getAs[Long]("i")
      val (ca, cb) = (i * 1.0 / na, i * 1.0 / nb)
      assert((ca > cb) === (na < nb) && (ca == cb) === (na == nb),
        s"ratio/size order diverged at na=$na nb=$nb i=$i")
    }
  }

  test("q95 incremental semantic dedup == full rebuild over the new " +
       "snapshot against the frozen sample codebook") {
    val incremental = VectorOps.incrementalSemanticKeep(spark, sf).collect()
    val full = VectorOps.fullSemanticKeepSample(spark, sf).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q105 drift stats: one verdict row, churn arithmetic consistent") {
    val rows = VectorOps.centroidDriftStats(spark, sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    val n = r.getLong(r.fieldIndex("n_vecs"))
    val moved = r.getLong(r.fieldIndex("n_moved"))
    assert(n > 0 && moved >= 0 && moved <= n)
    val churn = r.getDouble(r.fieldIndex("churn_share"))
    assert(math.abs(churn - moved.toDouble / n) < 1e-5)
    assert(Set("refit", "carry")
      .contains(r.getString(r.fieldIndex("verdict"))))
  }

  test("q105 verdict: an undrifted codebook carries, a displaced one " +
       "trips refit") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val cur = VectorOps.vecsFrom(Tables.embeddings(spark, sf))
      .localCheckpoint()
    val fresh = VectorOps.fittedCentroids(cur).localCheckpoint()
    // stored == fresh: zero churn, zero quantization drift → carry
    val same = VectorOps.centroidDriftStatsOf(cur, fresh, fresh)
      .collect().head
    assert(same.getLong(same.fieldIndex("n_moved")) === 0L)
    assert(same.getDouble(same.fieldIndex("dist2_drift")) === 0.0)
    assert(same.getString(same.fieldIndex("verdict")) === "carry")
    // stored codebook displaced far from the data: its quantization
    // error explodes vs the fresh fit → refit
    val wrecked = fresh.select($"centroid_id",
      transform($"cv", c => c + lit(100.0)).as("cv"))
    val bad = VectorOps.centroidDriftStatsOf(cur, wrecked, fresh)
      .collect().head
    assert(bad.getDouble(bad.fieldIndex("dist2_drift"))
      > VectorOps.Dist2RefitDrift)
    assert(bad.getString(bad.fieldIndex("verdict")) === "refit")
  }

  test("q107 bucket recovery: deletions that pull an oversized bucket " +
       "under the cap regenerate its never-recorded containment pairs") {
    import spark.implicits._
    // the q89 recovery scenario through the containment tail: 66
    // byte-identical docs keep every band bucket above the cap (no
    // stored candidates, no stored verdicts); removing 3 brings the
    // buckets under — the maintained table must contain the clone
    // pairs (containment 1.0 both ways) a pure carry could never see
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    val prevDocs = (1L to 66L).map(_ -> clone).toDF("doc_id", "text")
    val curDocs = (4L to 66L).map(_ -> clone).toDF("doc_id", "text")
    val diff = ((1L to 3L).map(_ -> "removed") ++
      (4L to 66L).map(_ -> "unchanged")).toDF("doc_id", "status")
    val (fps, bands, cand, _) = Dedup.indexState(prevDocs)
    val prevContain = Seq.empty[(Long, Long, Double, Double)]
      .toDF("doc_a", "doc_b", "containment_a", "containment_b")
    val out = Dedup.incrementalContainmentOf(fps, bands, cand,
      prevContain, curDocs, Delta(diff, "doc_id")).collect()
    assert(out.length === 63 * 62 / 2,
      s"recovered bucket must yield all clone pairs, got ${out.length}")
    assert(out.forall(r => r.getDouble(2) === 1.0 && r.getDouble(3) === 1.0))
  }

  test("q105 degenerate corpus: zero quantization error on both sides " +
       "yields a NULL drift that falls to carry in both engines") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    // every vector identical → dist2 is 0 under any fitted codebook →
    // ms = mf = 0 → drift = (0-0)/NULLIF(0,0) = NULL; the verdict CASE
    // must treat NULL as not-refit (Spark three-valued `when` and
    // DuckDB CASE agree) — pinned so a future threshold rewrite can't
    // flip the degenerate case
    val cur = VectorOps.vecsFrom(
      (0L to 120L).map(i => (i, Seq(1.0f, 0.0f)))
        .toDF("vec_id", "embedding")).localCheckpoint()
    val cb = VectorOps.fittedCentroids(cur).localCheckpoint()
    val r = VectorOps.centroidDriftStatsOf(cur, cb, cb).collect().head
    assert(r.isNullAt(r.fieldIndex("dist2_drift")))
    assert(r.getString(r.fieldIndex("verdict")) === "carry")
  }

  test("q110 gated maintenance: the fixture verdict picks the branch, " +
       "and the rows equal that branch computed independently") {
    val verdict = VectorOps.centroidDriftStats(spark, sf).collect()
      .head.getString(6)
    val out = VectorOps.gatedIvfMaintenance(spark, sf).collect()
    assert(out.forall(_.getString(3) === verdict),
      "maintenance_path must carry the gate's verdict on every row")
    if (verdict == "refit") {
      val all = VectorOps.vecsFrom(Tables.embeddings(spark, sf))
      val cur = VectorOps.vecSnapshotCur(all).localCheckpoint()
      val fresh = VectorOps.assignCellsThin(cur,
          VectorOps.fittedCentroids(cur))
        .orderBy(col("vec_id")).collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        fresh.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    } else {
      val incr = VectorOps.incrementalIvfAssign(spark, sf).collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        incr.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
  }

  test("q110 carry branch really runs the q91 maintenance: an " +
       "undrifted gate preserves sentinel stored assignments") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val codebook = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "cv")
    // stored == fresh → carry; the sentinel cell id −77 on unchanged
    // vectors can only survive through the incremental path (a refit
    // would reassign everything against the real codebook)
    val prevAssign = Seq((1L, -77L, 0.0), (2L, -77L, 0.0))
      .toDF("vec_id", "cell_id", "dist2")
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (4L, "added"))
      .toDF("vec_id", "status")
    val cur = VectorOps.vecsFrom(Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")).localCheckpoint()
    val out = VectorOps.gatedIvfMaintenanceOf(prevAssign, cur, Delta(diff, "vec_id"),
        codebook, codebook)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(3)))
      .toMap
    assert(out(1L) === ((-77L, "carry")) && out(2L) === ((-77L, "carry")),
      "carry branch must preserve the stored sentinel assignments")
    assert(out(4L)._1 === 1L, "the added vector gets a real assignment")
  }

  test("q111 incremental cross-source matrix == full q99 over the new " +
       "snapshot") {
    val cur = Corpus.snapshotCur(Tables.documents(spark, sf))
      .localCheckpoint()
    val incremental = Dedup.incrementalCrossSourceDups(spark, sf).collect()
    val full = Dedup.crossSourceDupsFrom(cur,
      Dedup.lshNearDupPairsFrom(
        Dedup.shingleFpsFrom(cur).localCheckpoint(false))).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q107 incremental containment == full q90 over the new snapshot") {
    val incremental = Dedup.incrementalContainment(spark, sf).collect()
    val full = Dedup.containmentOverLshFrom(
      Dedup.shingleFpsFrom(
        Corpus.snapshotCur(Tables.documents(spark, sf)))
        .localCheckpoint(false)).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q107 carries stored containment VALUES verbatim for clean " +
       "pairs and verifies only affected-bucket pairs") {
    import spark.implicits._
    val original = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup1 = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val nearDup2 = (1 to 40).map(i => s"w$i").mkString(" ") + " more"
    val prevDocs = Seq(5L -> original, 7L -> nearDup1).toDF("doc_id", "text")
    val (fps, bands, cand, _) = Dedup.indexState(prevDocs)
    assert(cand.count() > 0, "prev index must have the (5,7) candidate")
    // poison the stored verdict with sentinel values no verification
    // would produce: the clean pair must keep them (proof of carry,
    // not recomputation — the q91 sentinel discipline)
    val prevContain = Seq((5L, 7L, 0.123456, 0.654321))
      .toDF("doc_a", "doc_b", "containment_a", "containment_b")
    val curDocs = Seq(5L -> original, 7L -> nearDup1, 30L -> nearDup2)
      .toDF("doc_id", "text")
    val diff = Seq((5L, "unchanged"), (7L, "unchanged"), (30L, "added"))
      .toDF("doc_id", "status")
    val out = Dedup.incrementalContainmentOf(fps, bands, cand, prevContain,
        curDocs, Delta(diff, "doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out((5L, 7L)) === ((0.123456, 0.654321)),
      "clean pair's stored values must carry verbatim")
    // the added near-dup's pairs are fresh: real containment, high
    // because 30 contains all 40 of 5's shingle words
    assert(out.contains((5L, 30L)) && out.contains((7L, 30L)),
      "affected-bucket pairs with the delta doc must be verified fresh")
    assert(out((5L, 30L))._1 > 0.9)
  }

  test("q95 maintenance mechanics: removed endpoint kills its pair, " +
       "a delta vector probes stored cells, clean pairs carry") {
    import spark.implicits._
    // codebook: 3 unit-ish cells; every vector probes its 2 nearest
    val cb = Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.7, 0.7)))
    // prev corpus: {1,2} near-dups around c0; {8,9} near-dups around
    // c1. N-probe assignments computed by hand for this codebook.
    val prevAssignN = Seq((1L, 0L), (1L, 2L), (2L, 0L), (2L, 2L),
      (8L, 1L), (8L, 2L), (9L, 1L), (9L, 2L))
      .toDF("vec_id", "cell_id")
    val prevPairs = Seq((1L, 2L), (8L, 9L)).toDF("vec_a", "vec_b")
    // new crawl: 9 removed, 30 added near c1 (a near-dup of 8)
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (8L, "unchanged"),
      (9L, "removed"), (30L, "added")).toDF("vec_id", "status")
    val curEmb = Seq(
      (1L, Seq(1.0f, 0.0f), "a"), (2L, Seq(0.98f, 0.02f), "a"),
      (8L, Seq(0.02f, 0.98f), "b"), (30L, Seq(0.03f, 0.97f), "b"))
      .toDF("vec_id", "embedding", "label")
    val kept = VectorOps.incrementalSemanticKeepOf(prevAssignN, prevPairs,
      curEmb, Delta(diff, "vec_id"), cb).collect().map(_.getLong(0)).toSeq
    // (8,9) dies with 9; 30 probes c1/c2, regenerates pair (8,30) →
    // cluster {8,30} keeps 8; carried (1,2) keeps 1
    assert(kept === Seq(1L, 8L))
  }

  test("q95 carries clean-endpoint pairs VERBATIM — a sentinel pair " +
       "no rebuild would verify survives maintenance") {
    import spark.implicits._
    val cb = Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.7, 0.7)))
    val prevAssignN = Seq((1L, 0L), (1L, 2L), (8L, 1L), (8L, 2L))
      .toDF("vec_id", "cell_id")
    // poison: (1,8) are nearly orthogonal (cos ≈ 0.04) — no verify
    // pass would produce this pair. Both endpoints clean, so the
    // carry must trust the stored state and keep it.
    val prevPairs = Seq((1L, 8L)).toDF("vec_a", "vec_b")
    val diff = Seq((1L, "unchanged"), (8L, "unchanged"), (30L, "added"))
      .toDF("vec_id", "status")
    // 30 points AWAY from both (all its regen candidates fail the
    // cosine verify), so the only pair that can exist is the carried
    // sentinel — a re-verifying carry would keep 8, a verbatim carry
    // drops it
    val curEmb = Seq(
      (1L, Seq(1.0f, 0.0f), "a"), (8L, Seq(0.02f, 0.98f), "b"),
      (30L, Seq(-1.0f, 0.0f), "c")).toDF("vec_id", "embedding", "label")
    val kept = VectorOps.incrementalSemanticKeepOf(prevAssignN, prevPairs,
      curEmb, Delta(diff, "vec_id"), cb).collect().map(_.getLong(0)).toSet
    assert(!kept.contains(8L),
      "the poisoned stored pair was re-verified instead of carried")
    assert(kept === Set(1L, 30L))
  }

  test("q85 containment catches a subset pair whose Jaccard is far " +
       "below any dedup threshold") {
    import spark.implicits._
    // doc 1's 2 shingles ⊆ doc 2's 10 → containment_a = 1.0 while
    // jaccard = 2/10: invisible to q45, flagged by q85
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "unrelated text with no overlap at all")).toDF("doc_id", "text")
    val cont = Dedup.prefixContainmentPairsFrom(docs).collect()
    assert(cont.length === 1)
    val r = cont.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    assert(r.getDouble(2) === 1.0 && r.getDouble(3) === 0.2)
    assert(Dedup.jaccardPairsFrom(docs).collect().isEmpty,
      "q45 at its production threshold must NOT see the subset pair")
  }

  test("q90 containment-over-LSH is a subset of exact q85 with " +
       "identical scores; fixture recall measured") {
    val exact = Dedup.prefixContainmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val lsh = Dedup.containmentOverLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // no hot shingles at fixture scale, so q85's post-cutoff size
    // universe coincides with q90's full-universe sizes: every LSH
    // pair must be an exact pair with byte-identical scores
    lsh.foreach { case (pair, scores) =>
      assert(exact.get(pair).contains(scores),
        s"$pair not in exact q85 (or containment scores drifted)")
    }
    // the documented banded-MinHash under-recall (P[candidate] ≈
    // J^BandSize): the fixture's containment pairs are clone families
    // (high Jaccard), so recall is high here; the structural miss is
    // pinned by the synthetic test below
    assert(exact.nonEmpty, "fixture must produce containment pairs")
    val recall = lsh.size.toDouble / exact.size
    info(f"q90 recall vs exact q85: $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.8,
      f"LSH containment recall $recall%.3f below the fixture floor")
  }

  test("q90 documented miss: the high-containment/low-Jaccard subset " +
       "pair never becomes an LSH candidate") {
    import spark.implicits._
    // the q85 synthetic pair (containment 1.0, jaccard 0.2): band
    // match probability ≈ 0.2^4 — deterministically no shared band
    // under the frozen mix constants, so q90 cannot see what q85
    // flags. THE trade the all-pairs ground truth exists to audit.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "unrelated text with no overlap at all")).toDF("doc_id", "text")
    assert(Dedup.prefixContainmentPairsFrom(docs).collect().length === 1)
    val lsh = Dedup.containmentOverLshFrom(Dedup.shingleFpsFrom(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!lsh.contains((1L, 2L)),
      "subset pair below the band threshold must be missed (documented)")
  }

  test("q85 on the fixture: asymmetric scores consistent with q45's " +
       "symmetric view") {
    val cont = Dedup.prefixContainmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(cont.nonEmpty)
    cont.values.foreach { case (ca, cb) =>
      assert(ca > 0 && ca <= 1.0 && cb > 0 && cb <= 1.0)
      assert(math.max(ca, cb) >= Dedup.ContainmentThreshold)
    }
    // jaccard = i/(na+nb-i) is derivable from the two containments:
    // 1/j = 1/ca + 1/cb - 1 — the q45 pair set at threshold t must be
    // exactly the q85 pairs whose derived jaccard >= t
    val jac = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val derived = cont.view.mapValues { case (ca, cb) =>
      1.0 / (1.0 / ca + 1.0 / cb - 1.0)
    }.toMap
    derived.foreach { case (pair, j) =>
      if (j >= Dedup.JaccardThreshold + 1e-9)
        assert(jac.contains(pair),
          s"$pair derived jaccard $j missing from q45")
    }
  }

  test("q97 ann recall: per-query rows reproduce the set-arithmetic " +
       "recall of q54 against q49") {
    val exact = VectorOps.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivf = VectorOps.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = exact.groupBy(_._1).view.mapValues { rows =>
      (rows.length.toLong, rows.count(ivf.contains).toLong)
    }.toMap
    val out = VectorOps.annRecall(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet === expected.keySet)
    out.foreach { r =>
      val (nExact, nHit) = expected(r.getLong(0))
      assert(r.getLong(1) === nExact)
      assert(r.getLong(2) === nHit)
      assert(math.abs(r.getDouble(3) - nHit.toDouble / nExact) < 1e-6)
    }
  }

  test("q99 cross-source matrix: pair mass conserved vs q47 and " +
       "cells are (least, greatest)-normalized") {
    val nPairs = Dedup.lshNearDupPairs(spark, sf).count()
    val out = Dedup.crossSourceDups(spark, sf).collect()
    assert(out.map(_.getLong(2)).sum === nPairs)
    out.foreach(r => assert(r.getString(0) <= r.getString(1)))
    // the normalization means no (b, a) twin of an (a, b) cell
    assert(out.map(r => (r.getString(0), r.getString(1)))
      .distinct.length === out.length)
  }

  test("q113 span dedup: the canonical occurrence survives, the " +
       "duplicate occurrence's positions are deleted") {
    import spark.implicits._
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"$shared x"),   // span at start 1 — the global canonical
      (2L, s"z $shared"))   // same span at start 2 — deleted
      .toDF("doc_id", "text")
    val out = Dedup.spanDedupFrom(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((9L, 0L, s"$shared x")), "canonical doc thinned")
    assert(out(2L) === ((9L, 8L, "z")), "duplicate span not deleted")
  }

  test("q113 span dedup: an exact clone empties entirely; overlapping " +
       "dup spans union their covered positions") {
    import spark.implicits._
    val ten = "a b c d e f g h i j"
    val docs = Seq((1L, ten), (2L, ten), (3L, "short doc"))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedupFrom(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 2's three 8-token spans are all duplicates of doc 1's; their
    // [start, start+8) ranges overlap and union to every position
    assert(out(1L) === ((10L, 0L, ten)))
    assert(out(2L) === ((10L, 10L, "")), "clone not fully emptied")
    // a doc too short for one span passes through untouched
    assert(out(3L) === ((2L, 0L, "short doc")))
  }

  test("q113 span dedup: token conservation on the fixture corpus " +
       "(kept tokens == n_tokens - n_removed, clone families thinned)") {
    val out = Dedup.spanDedup(spark, sf).collect()
    assert(out.length === Tables.documents(spark, sf).count())
    out.foreach { r =>
      val kept = r.getString(3) match {
        case "" => 0L
        case s  => s.split(" ").length.toLong
      }
      assert(kept === r.getLong(1) - r.getLong(2),
        s"doc ${r.getLong(0)}: rebuilt text length inconsistent")
    }
    assert(out.exists(_.getLong(2) > 0),
      "fixture clone families produced no span removals")
  }

  test("q115 incremental span dedup == full recompute over the new " +
       "snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Dedup.incrementalSpanDedup(spark, sf).collect()
    val full = Dedup.spanDedupFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q115 carries unaffected docs from the STORED output verbatim " +
       "and rebuilds exactly the affected set") {
    import spark.implicits._
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val prevDocs = Seq(
      (1L, s"$shared pad"),  // canonical holder of the shared span
      (2L, s"z $shared"),    // thinned duplicate in the prev output
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")) // unique — must carry
      .toDF("doc_id", "text")
    val prevSpans = Dedup.spansOf(Dedup.spanToksFrom(prevDocs))
    // poison every stored output row; carried rows must keep it,
    // rebuilt rows must lose it
    val prevOut = Dedup.spanDedupFrom(prevDocs)
      .withColumn("n_removed", lit(-77L))
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (3L, "unchanged"),
      (4L, "added")).toDF("doc_id", "status")
    val curDocs = prevDocs.unionByName(
      Seq((4L, s"$shared tail")).toDF("doc_id", "text"))
    val out = Dedup.incrementalSpanDedupOf(prevSpans, prevOut,
        curDocs, Delta(diff, "doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // doc 4 adds a third occurrence of the shared span → docs 1, 2, 4
    // are candidates and rebuild: canonical (doc 1) intact, both
    // later occurrences deleted
    assert(out(1L) === ((0L, s"$shared pad")))
    assert(out(2L) === ((8L, "z")))
    assert(out(4L) === ((8L, "tail")))
    // doc 3 holds no affected fp → its poisoned stored row carries
    assert(out(3L)._1 === -77L, "unaffected doc was rebuilt")
  }

  test("q120 PQ: hand arithmetic — a single-seed corpus converges to " +
       "the per-subspace mean, codes and quantization errors exact") {
    import spark.implicits._
    // three 64-dim vectors: two all-zero, one all-four; only vec 0
    // seeds (0 % 100 == 0) → every subspace has ONE cell whose Lloyd
    // mean is (0+0+4)/3 per position
    val emb = Seq(
      (0L, Array.fill(64)(0.0f)), (1L, Array.fill(64)(0.0f)),
      (2L, Array.fill(64)(4.0f))).toDF("vec_id", "embedding")
    val all = VectorOps.vecsFrom(emb)
    val out = VectorOps.pqAssign(VectorOps.subVecs(all),
        VectorOps.pqCodebooksFrom(all)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size === 12, "3 vectors x 4 subspaces")
    val mean = 4.0 / 3.0
    val dZero = BigDecimal(16.0 * mean * mean)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // 28.444444
    val dFour = BigDecimal(16.0 * (4.0 - mean) * (4.0 - mean))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // 113.777778
    (0 until 4).foreach { m =>
      assert(out((0L, m)) === ((0L, dZero)))
      assert(out((1L, m)) === ((0L, dZero)))
      assert(out((2L, m)) === ((0L, dFour)))
    }
  }

  test("q120/q121 on the fixture: complete encoding (one code per " +
       "vector x subspace), codes drawn from the codebooks, ADC " +
       "neighbors ranked by non-decreasing distance") {
    val nVecs = Tables.embeddings(spark, sf).count()
    val codes = VectorOps.pqCodes(spark, sf).collect()
    assert(codes.length.toLong === nVecs * VectorOps.PqM)
    val bookIds = VectorOps.pqCodebooksFrom(
        VectorOps.vecsFrom(Tables.embeddings(spark, sf))).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    codes.foreach { r =>
      assert(bookIds.contains((r.getInt(1), r.getLong(2))),
        s"code outside the fitted codebook: ${r.toSeq}")
      assert(r.getDouble(3) >= 0.0)
    }
    val adc = VectorOps.pqAdcTopK(spark, sf).collect()
    val byQuery = adc.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === VectorOps.TopK)
      val ds = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        s"query $q: ADC distances not non-decreasing with rank")
      assert(rows.forall(_.getLong(1) != q), "self returned as neighbor")
    }
  }

  test("q122 IVF-PQ: cell pruning composes with ADC — shared pairs " +
       "agree with q121 exactly, candidates come from probed cells") {
    val ivfpq = VectorOps.ivfPqTopK(spark, sf).collect()
    val flat = VectorOps.pqAdcTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivfpq.nonEmpty)
    val byQuery = ivfpq.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length <= VectorOps.TopK)
      val ds = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
      assert(rows.forall(_.getLong(1) != q))
    }
    // the SAME codes + the SAME LUT: wherever a (query, neighbor)
    // pair appears in both searches, the ADC distance is identical —
    // cell pruning changes WHICH candidates are ranked, never their
    // distance
    val shared = ivfpq.flatMap { r =>
      flat.get((r.getLong(0), r.getLong(1))).map(d => (r.getDouble(2), d))
    }
    assert(shared.nonEmpty, "no overlap between flat-ADC and IVF-ADC")
    shared.foreach { case (a, b) => assert(a === b) }
    // determinism
    assert(VectorOps.ivfPqTopK(spark, sf).collect().toSeq === ivfpq.toSeq)
  }

  test("q124 PQ recall audit: rows reproduce the set arithmetic of " +
       "the two searches (and surface the quantization loss)") {
    import spark.implicits._
    val all = VectorOps.vecsFrom(Tables.embeddings(spark, sf))
    // independent exact-L2 top-k per query
    val rows = all.select($"vec_id", $"v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    val exact = rows.filter(_._1 < VectorOps.NumQueries).map { case (q, qv) =>
      q -> rows.filter(_._1 != q)
        .map { case (n, v) =>
          val d = qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
          (BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble, n)
        }
        .sortBy(identity).take(VectorOps.TopK).map(_._2).toSet
    }.toMap
    val approx = VectorOps.pqAdcTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
    val audit = VectorOps.pqRecall(spark, sf).collect()
    assert(audit.length === VectorOps.NumQueries)
    audit.foreach { r =>
      val q = r.getLong(0)
      assert(r.getLong(1) === VectorOps.TopK.toLong)
      assert(r.getLong(2) === (exact(q) & approx(q)).size.toLong,
        s"query $q: n_hit disagrees with set arithmetic")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the audit EXISTS to surface quantization loss: on near-uniform
    // random vectors with 5-cell codebooks it must not report perfect
    // recall (that would mean it compared the wrong sides)
    assert(audit.map(_.getDouble(3)).max < 1.0)
  }

  test("q125 incremental PQ == full encode of the new snapshot " +
       "against the frozen sample-fit codebooks; stored codes carry " +
       "verbatim (sentinel)") {
    import spark.implicits._
    val all = VectorOps.vecsFrom(Tables.embeddings(spark, sf))
    val incremental = VectorOps.incrementalPqCodes(spark, sf).collect()
    val books = VectorOps.pqCodebooksFrom(VectorOps.vecSnapshotSample(all))
    val full = VectorOps.pqAssign(
        VectorOps.subVecs(VectorOps.vecSnapshotCur(all)), books)
      .select($"vec_id", $"m", $"code", $"dist2")
      .orderBy($"vec_id", $"m").collect()
    assert(incremental.toSeq === full.toSeq)
    // sentinel: poison an unchanged vector's stored code row — the
    // maintenance must carry it untouched (proof it reads the store)
    val diff = VectorOps.vecSnapshotDiff(
      VectorOps.vecsFrom(Tables.embeddings(spark, sf)))
    val unchanged = diff.filter($"status" === "unchanged")
      .select($"vec_id").as[Long].head()
    val poisoned = VectorOps.pqAssign(
        VectorOps.subVecs(VectorOps.vecSnapshotPrev(all)), books)
      .select($"vec_id", $"m", $"code", $"dist2")
      .withColumn("dist2",
        when($"vec_id" === unchanged, lit(-77.0)).otherwise($"dist2"))
    val out = VectorOps.incrementalPqCodesOf(poisoned,
        VectorOps.vecSnapshotCur(all), Delta(diff, "vec_id"),
        books).filter($"vec_id" === unchanged).collect()
    assert(out.nonEmpty && out.forall(_.getDouble(3) === -77.0),
      "unchanged vector was re-encoded (poison lost)")
  }

  test("q99 on a hand corpus: a cross-source near-dup lands in the " +
       "off-diagonal cell") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "wiki"),
      (3L, "totally unrelated content nothing shared here at all", "web"))
      .toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.crossSourceDupsFrom(docs, pairs).collect()
    assert(out.length === 1)
    assert((out.head.getString(0), out.head.getString(1), out.head.getLong(2))
      === ("web", "wiki", 1L))
  }
}
