package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.Delta
import graft.operators.{Corpus, Dedup}

/** Corpus-management operators (q58–q62): split stability, true/false
  * contamination, vocabulary arithmetic, redaction on planted PII, and
  * connected-component correctness on hand-built graphs. */
class CorpusSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docsFrame(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("q58 split: deterministic and stable under corpus growth") {
    val a = Corpus.splitAssign(spark, sf).collect()
    val b = Corpus.splitAssign(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    // subset invariance: a doc's split depends only on its own id —
    // recomputing over half the corpus must not move anyone
    val half = Corpus
      .splitAssignFrom(Tables.documents(spark, sf).filter($"doc_id" % 2 === 0))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val full = a.map(r => r.getLong(0) -> r.getString(2)).toMap
    half.foreach { case (id, s) => assert(full(id) === s) }
  }

  test("q58 split: proportions near 80/10/10 and buckets in range") {
    val counts = Corpus.splitAssign(spark, sf)
      .groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    assert(counts.getOrElse("validation", 0L) + counts.getOrElse("test", 0L) > 0)
    Corpus.splitAssign(spark, sf).collect().foreach { r =>
      val b = r.getLong(1)
      assert(b >= 0 && b < 100)
    }
  }

  test("q59 decontamination: planted copy is flagged at 1.0, disjoint doc is not") {
    // benchmark = doc 0/1; doc 100 copies doc 0 verbatim (full
    // contamination), doc 101 shares nothing
    val bench0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = docsFrame(
      0L -> bench0,
      1L -> "one two three four five six seven eight nine ten",
      100L -> bench0,
      101L -> "red orange yellow green blue indigo violet white black gray")
    val out = Corpus.decontaminateFrom(docs).collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId.contains(100L))
    assert(byId(100L)._3 === 1.0)
    assert(byId(100L)._1 === byId(100L)._2) // every n-gram shared
    assert(!byId.contains(101L))
  }

  test("q59 decontamination: partial overlap counts only shared k-grams") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    // doc 100: first 6 tokens match doc 0 → shares exactly the
    // 2 five-grams starting at positions 1-2 of the shared prefix...
    // token 7+ diverge, so 5-grams touching them differ
    val docs = docsFrame(
      0L -> bench,
      100L -> "alpha beta gamma delta epsilon zeta moo baa")
    val out = Corpus.decontaminateFrom(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 100L)
    assert(r.getLong(1) === 2L) // positions 1 and 2 only
    assert(r.getLong(2) === 4L) // 8 tokens → 4 distinct 5-grams
  }

  test("q60 vocabulary: exact counts on a tiny frame") {
    val docs = docsFrame(
      1L -> "a b a",
      2L -> "b c b b")
    val out = Corpus.vocabulary(spark, sf) // shape check on fixture
    assert(out.columns.toSeq === Seq("token", "freq", "doc_freq"))
    val tiny = Corpus.vocabularyFrom(docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tiny("a") === ((2L, 1L)))
    assert(tiny("b") === ((4L, 2L)))
    assert(tiny("c") === ((1L, 1L)))
    // fixture: frequencies are non-increasing in the emitted order
    val freqs = out.collect().map(_.getLong(1))
    assert(freqs.sameElements(freqs.sortBy(-_)))
  }

  test("q61 PII redaction: planted emails and phones are scrubbed") {
    val docs = docsFrame(
      7L -> "reach me at jane.doe@corp.example.org thanks",
      8L -> "no pii here at all")
    val out = Corpus.piiRedactFrom(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 7 carries its own email + the grafted contact line's pair
    assert(out(7L)._1 === 2L)
    assert(out(7L)._2 === 1L)
    // doc 8: only the grafted contact line
    assert(out(8L)._1 === 1L)
    assert(out(8L)._2 === 1L)
    // redacted text contains no address-shaped remnant
    val red = Corpus.piiRedactFrom(docs.filter($"doc_id" === 7L))
    assert(red.collect().head.getLong(3) > 0)
  }

  test("q62 clusters: two components with the min-id canonical") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupClustersFrom(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 2L)), 11L -> ((10L, 2L))))
  }

  test("q62 clusters: long chain converges (diameter > 1 round)") {
    // path graph 0-1-2-...-9: min label must walk the whole chain
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupClustersFrom(pairs).collect()
    assert(out.length === 10)
    out.foreach { r =>
      assert(r.getLong(1) === 0L)
      assert(r.getLong(2) === 10L)
    }
  }

  test("q70 kept corpus: exactly one survivor per cluster (the keeper), " +
       "all unclustered docs survive") {
    val docs = Tables.documents(spark, sf)
    val clusters = Dedup.dedupClusters(spark, sf).collect()
    val kept = Dedup.dedupKeepCorpus(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val clustered = clusters.map(_.getLong(0)).toSet
    val keepers = clusters.map(_.getLong(1)).toSet // cluster_id = min doc_id
    // survivors = keepers ∪ (docs \ clustered)
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === (allIds -- clustered) ++ keepers)
    // every cluster contributes exactly its keeper
    assert((kept intersect clustered) === keepers)
    assert(kept.size === allIds.size - clustered.size + keepers.size)
  }

  test("q62 clusters: chain deeper than the propagation budget escalates and converges") {
    // path graph 0-1-2-...-n with n = MaxCcRounds + 15: its diameter
    // exceeds what the seeded propagation can reach within the round
    // budget, so the min-label fast path cannot converge —
    // dedupClustersFrom must escalate to the large-star/small-star
    // tier and still produce the component-min labeling. This is the
    // graph shape that made the pre-escalation implementation fail
    // loudly.
    val n = Dedup.MaxCcRounds + 15
    val pairs = (0L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupClustersFrom(pairs).collect()
    assert(out.length === n + 1)
    out.foreach { r =>
      assert(r.getLong(1) === 0L)
      assert(r.getLong(2) === (n + 1).toLong)
    }
  }

  test("q62 star tier: labeling matches a union-find ground truth on a random graph") {
    // 120 nodes, seeded random edges: compare starLabels directly (the
    // escalation tier, bypassing the fast path) against a driver-side
    // union-find — both must assign every node its component minimum.
    val rnd = new scala.util.Random(42)
    val nodes = 120
    val edges = Seq.fill(150)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      .filter { case (a, b) => a != b }
    val parent = Array.tabulate(nodes)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> {
        // component min = min over all nodes sharing the root
        val r = find(x.toInt)
        (0 until nodes).filter(find(_) == r).min.toLong
      }).toMap
    val got = Dedup.starLabels(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("q63 funnel: verdicts are exhaustive and first-match-wins") {
    val docs = Seq(
      (1L, "tiny doc", "en"),                      // < 20 tokens → too_short
      (2L, ("word " * 30).trim, "en"),             // 30x same token → low_quality
      (3L, ("z y x w v u t s r q p o n m l k j i h g f e"), "de"),    // 22 distinct → non_target_lang
      (4L, ("a b c d e f g h i j k l m n o p q r s t u v"), "en"),    // kept (first copy)
      (5L, ("a b c d e f g h i j k l m n o p q r s t u v"), "en"))    // exact dup of 4
      .toDF("doc_id", "text", "lang")
    val out = Corpus.filterFunnelFrom(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("too_short") === ((1L, 2L)))
    assert(out("low_quality")._1 === 1L)
    assert(out("non_target_lang")._1 === 1L)
    // doc 3 is de but shares text with 4/5: lang fires BEFORE dup
    assert(out("exact_dup")._1 === 1L)
    assert(out("kept")._1 === 1L)
    assert(out.values.map(_._1).sum === 5L)
  }

  test("q64 packing: shards respect the token budget within each split") {
    val rows = Corpus.shardPack(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (_, docs) =>
      docs.foreach { r =>
        val cum = r.getLong(3); val shard = r.getLong(4)
        assert(shard === cum / Corpus.ShardTokenBudget)
      }
      // shard ids are contiguous from 0 within the split
      val shards = docs.map(_.getLong(4)).distinct.sorted
      assert(shards.head === 0L)
      assert(shards === (0L until shards.length.toLong))
    }
    // split assignment agrees with q58
    val splits = Corpus.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    rows.foreach(r => assert(r.getString(1) === splits(r.getLong(0))))
  }

  test("q64 packing: cum_before is an exact greedy prefix sum within each split") {
    // the two-level decomposition must produce a true sequential
    // packing: within a split, sorting docs by cum_before and walking
    // them must reproduce cum_before as the running token total —
    // no gaps, no overlaps, starting at zero
    val rows = Corpus.shardPack(spark, sf).collect()
    rows.groupBy(_.getString(1)).foreach { case (_, docs) =>
      // tie-break by n_tokens: a zero-token doc shares cum_before with
      // its successor and must walk first for the prefix sum to close
      val ordered = docs.sortBy(r => (r.getLong(3), r.getLong(2)))
      var running = 0L
      ordered.foreach { r =>
        assert(r.getLong(3) === running)
        running += r.getLong(2)
      }
    }
  }

  test("q64 packing: no ordered-window partition approaches split width at 10x") {
    // the scale property the two-level scheme buys: the widest sort any
    // task performs is bounded by (split, pack-bucket), not by split.
    // Amplify the corpus 10x and measure actual partition widths.
    val docs = Tables.documents(spark, sf)
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .withColumn("doc_id", $"doc_id" * 10 + $"rep")
      .drop("rep")
    val widths = Corpus.shardPackFrom(docs)
      .withColumn("pbucket", Corpus.packBucketCol)
      .groupBy($"split", $"pbucket").count().collect()
    val total = widths.map(_.getLong(2)).sum
    val maxBucket = widths.map(_.getLong(2)).max
    val maxSplit = widths.groupBy(_.getString(0))
      .map(_._2.map(_.getLong(2)).sum).max
    // buckets stay balanced: the widest window holds a small multiple
    // of the ideal total/(splits x buckets), far below its split width
    assert(maxBucket < maxSplit / 4,
      s"widest window $maxBucket vs split width $maxSplit")
    assert(maxBucket < 3L * total / Corpus.NumPackBuckets.toLong,
      s"bucket skew: $maxBucket of $total")
    // packing remains a valid prefix sum after amplification
    val rows = Corpus.shardPackFrom(docs).collect()
    rows.groupBy(_.getString(1)).foreach { case (_, ds) =>
      var running = 0L
      ds.sortBy(r => (r.getLong(3), r.getLong(2))).foreach { r =>
        assert(r.getLong(3) === running); running += r.getLong(2)
      }
    }
  }

  test("q64 packing: two-level decomposition equals the single-window reference exactly") {
    // equivalence proof on arbitrary data: the bucketed running sum +
    // exclusive prefix offsets must reproduce, row for row, the naive
    // global running sum over the SAME (split, pbucket, doc_id) order
    // — the decomposition changes the plan, never the arithmetic
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val docs = (0L until 700L).map { id =>
      (id * 13 % 9973, ("w " * (1 + rnd.nextInt(400))).trim)
    }.toDF("doc_id", "text")
    val got = Corpus.shardPackFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val wRef = Window
      .partitionBy($"split").orderBy($"pbucket", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs
      .withColumn("n_tokens",
        size(graft.operators.TextOps.tokens($"text")).cast("long"))
      .withColumn("split", Corpus.splitCol(Corpus.bucketCol))
      .withColumn("pbucket", Corpus.packBucketCol)
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(wRef), lit(0L)))
      .select($"doc_id", $"cum_before",
        floor($"cum_before" / Corpus.ShardTokenBudget).cast("long").as("shard_id"))
      .collect()
    assert(ref.length === got.size)
    ref.foreach { r =>
      assert(got(r.getLong(0)) === ((r.getLong(1), r.getLong(2))),
        s"doc ${r.getLong(0)}")
    }
  }

  test("q72 chunking: full coverage, stride overlap, and exact " +
       "reconstruction of the token stream") {
    val words = (1 to 150).map(i => s"w$i")
    val chunks = Corpus.chunkDocsFrom(docsFrame(
        1L -> words.mkString(" "),  // 3 windows (starts 0, 48, 96)
        2L -> "a b c",              // shorter than one window: 1 chunk
        3L -> (1 to 64).map(i => s"x$i").mkString(" "))) // exactly W: 1 chunk
      .collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc(1L).length === 3 && byDoc(2L).length === 1
      && byDoc(3L).length === 1)
    // window arithmetic: starts advance by the stride, sizes are W
    // except the final window, which reaches exactly the end
    val d1 = byDoc(1L).sortBy(_.getLong(1))
    assert(d1.map(_.getLong(2)).toSeq === Seq(0L, 48L, 96L))
    assert(d1.map(_.getLong(3)).toSeq === Seq(64L, 64L, 54L))
    // overlap reconstruction: dropping the first W-S tokens of every
    // chunk after the first rebuilds the document verbatim
    val rebuilt = d1.head.getString(4) +: d1.tail.map(
      _.getString(4).split(' ').drop(Corpus.ChunkTokens - Corpus.ChunkStride)
        .mkString(" "))
    assert(rebuilt.mkString(" ") === words.mkString(" "))
    assert(byDoc(2L).head.getLong(3) === 3L)
  }

  test("q73 repetition: duplicate lines and dominant bigrams are " +
       "measured exactly; template spam fails the gate") {
    val stats = Corpus.repetitionStatsFrom(docsFrame(
        1L -> "unique one\nunique two\nunique three",
        2L -> "same line\nsame line\nsame line\nother line",
        3L -> Seq.fill(30)("buy now").mkString(" "),
        4L -> "solo"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(stats(1L).getDouble(2) === 0.0) // no duplicate lines
    // doc 2: 4 non-blank lines, "same line" ×3 → 2 duplicates of 4
    assert(stats(2L).getDouble(2) === 0.5)
    assert(stats(2L).getLong(1) === 4L)
    // doc 3: "now buy" ×29... the top bigram "buy now" claims 30 of 59
    assert(stats(3L).getDouble(4) > Corpus.MaxTopBigramFrac)
    assert(!stats(3L).getBoolean(5), "template spam is rejected")
    assert(stats(1L).getBoolean(5) && stats(2L).getBoolean(5) === false)
    // single-token doc: no bigrams → frac 0, kept
    assert(stats(4L).getDouble(4) === 0.0 && stats(4L).getBoolean(5))
  }

  test("q74 unigram logprob: exact hand-computed mean; rare-token soup " +
       "scores below common prose") {
    val stats = Corpus.unigramLogProbFrom(docsFrame(
        1L -> "a a b",
        2L -> "z"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // corpus: a=2, b=1, z=1, total=4 → lp(a)=ln(.5), lp(b)=lp(z)=ln(.25)
    val expected1 = (2 * math.log(0.5) + math.log(0.25)) / 3
    assert(math.abs(stats(1L).getDouble(2) - expected1) < 1e-5)
    assert(math.abs(stats(2L).getDouble(2) - math.log(0.25)) < 1e-5)
    assert(stats(1L).getDouble(2) > stats(2L).getDouble(2),
      "common tokens score above rare ones")
    assert(stats(1L).getLong(1) === 3L && stats(2L).getLong(1) === 1L)
    // on the fixture corpus the gate separates: every doc scores, and
    // the keep verdict matches the threshold applied to the score
    val fixture = Corpus.unigramLogProb(spark, sf).collect()
    assert(fixture.length === 500)
    fixture.foreach { r =>
      assert(r.getBoolean(3) === (r.getDouble(2) >= Corpus.MinAvgLogProb))
    }
  }

  test("q75 mixture sampling: deterministic, rate-faithful, and " +
       "independent of the q58 split hash") {
    val a = Corpus.mixtureSample(spark, sf).collect()
    val b = Corpus.mixtureSample(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "pure function of doc_id")
    val bySrc = a.groupBy(_.getString(1))
    // rate 1.0 sources keep everything; downsampled sources keep less
    (0 until 5).foreach { i =>
      assert(bySrc(s"src$i").forall(_.getBoolean(4)),
        s"src$i is a keep-whole source")
    }
    val tailKept = (15 until 20)
      .map(i => bySrc(s"src$i").count(_.getBoolean(4))).sum
    val tailTotal = (15 until 20).map(i => bySrc(s"src$i").length).sum
    assert(tailKept < tailTotal * 0.35,
      s"10% tail sources kept $tailKept of $tailTotal")
    // salt independence: the sampled set must straddle all three q58
    // splits (a shared hash would nest one inside the other)
    val splits = Corpus.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val sampledSplits = a.filter(_.getBoolean(4))
      .map(r => splits(r.getLong(0))).toSet
    assert(sampledSplits === Set("train", "validation", "test"))
  }

  test("q76 training corpus: the composed funnel equals the exact " +
       "intersection of its independently-computed stages") {
    val docs = Tables.documents(spark, sf)
    val tc = Corpus.trainingCorpus(spark, sf).collect()
    val ids = tc.map(_.getLong(0)).toSet

    def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val keepers = idSet(graft.operators.Dedup.dedupKeepCorpus(spark, sf))
    val rep = idSet(Corpus.repetitionStatsFrom(docs).filter($"keep"))
    val lp = idSet(Corpus.unigramLogProbFrom(docs).filter($"keep"))
    val contaminated = idSet(Corpus.decontaminateFrom(docs)
      .filter($"contamination" >= Corpus.DecontamMaxRate))
    val sampled = idSet(Corpus.mixtureSampleFrom(docs,
      Corpus.MixtureRates, Corpus.MixtureDefaultRate).filter($"sampled"))
    val expected = (keepers & rep & lp & sampled)
      .diff(contaminated)
      .filter(_ >= Corpus.BenchmarkMaxDocId)
    assert(ids === expected)
    assert(ids.nonEmpty && ids.size < 500, "the funnel actually gates")
    // manifest sanity: every surviving doc chunks and carries a split
    tc.foreach { r =>
      assert(r.getLong(3) >= 1L, "n_chunks >= 1")
      assert(r.getLong(4) >= 1L, "n_tokens >= 1")
      assert(Set("train", "validation", "test")(r.getString(2)))
    }
  }

  test("q77 source cap: at most N per source, ranks dense, deterministic") {
    val a = Corpus.sourceCap(spark, sf).collect()
    val b = Corpus.sourceCap(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "pure function of doc_id")
    assert(a.map(_.getLong(0)).distinct.length === a.length, "one row per doc")
    a.groupBy(_.getString(1)).foreach { case (src, rows) =>
      assert(rows.length <= Corpus.SourceCapN, s"$src over cap")
      assert(rows.map(_.getInt(2)).sorted.toSeq === (1 to rows.length),
        s"$src ranks not dense from 1")
    }
  }

  test("q77 source cap: hash rank matches an independent md5 " +
       "reimplementation, and growth can only evict, never admit") {
    val docs = (1L to 40L).map(id => (id, s"text $id", "srcA"))
      .toDF("doc_id", "text", "source")
    val kept = Corpus.sourceCapFrom(docs, 5).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // independent rank: java MessageDigest over the same salted key
    def capHash(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"cap:$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val expected = (1L to 40L).map(id => id -> capHash(id))
      .sortBy { case (id, h) => (h, id) }.take(5)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    assert(kept === expected)
    // growth monotonicity: capping a SUBSET keeps every doc the full
    // run kept (subset ranks can only be smaller) — i.e. appending
    // data can evict a kept doc but never admit a dropped one
    val halfKept = Corpus.sourceCapFrom(
      docs.filter($"doc_id" <= 20), 5).collect().map(_.getLong(0)).toSet
    assert(kept.keySet.filter(_ <= 20L).subsetOf(halfKept))
  }

  test("q79 seq pack: streams abut exactly per split — independent " +
       "prefix-sum recomputation over the (pbucket, doc_id) order") {
    val rows = Corpus.seqPack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // independent md5-slice pack bucket (chars 9–16 of the hex digest)
    def pbucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(8, 16), 16) % Corpus.NumPackBuckets
    }
    rows.groupBy(_._2).foreach { case (split, docs) =>
      var cum = 0L
      docs.sortBy(d => (pbucket(d._1), d._1)).foreach { d =>
        assert(d._4 === cum, s"split $split doc ${d._1}: gap or overlap")
        cum += d._3
      }
      // abutment ⇒ every sequence index up to the last is populated
      val lastSeq = docs.map(_._7).max
      assert(lastSeq === (cum - 1) / Corpus.SeqPackLen)
    }
  }

  test("q79 seq pack: span arithmetic consistent and EOS accounted") {
    val L = Corpus.SeqPackLen
    val rows = Corpus.seqPack(spark, sf).collect()
    rows.foreach { r =>
      val (n, cum) = (r.getLong(2), r.getLong(3))
      val (sf0, off, sl, ns) =
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(sf0 === cum / L && off === cum % L)
      assert(sl === (cum + n - 1) / L && ns === sl - sf0 + 1)
      assert(n >= 2, "every doc carries >= 1 token + its EOS")
    }
    // n_tokens = whitespace tokens + 1 (EOS), pinned against raw text
    val toks = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text").trim.split("\\s+").length + 1L)).toMap
    rows.foreach(r => assert(r.getLong(2) === toks(r.getLong(0))))
  }

  test("q80 bpe pairs: weighted adjacent-pair counts on a hand corpus, " +
       "ties broken lexicographically") {
    val out = Corpus.bpePairStatsFrom(
      docsFrame(1L -> "aaab aaab", 2L -> "aaab xy")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // "aaab"×3 → aa appears at 2 positions per word (6 weighted),
    // ab at 1 (3); "xy"×1 → xy:1
    assert(out.toSeq === Seq((1L, "aa", 6L), (2L, "ab", 3L), (3L, "xy", 1L)))
    val tie = Corpus.bpePairStatsFrom(docsFrame(1L -> "cd ab")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(tie.toSeq === Seq((1L, "ab", 1L), (2L, "cd", 1L)))
  }

  test("q80 bpe pairs: fixture run deterministic, ranks dense, counts " +
       "non-increasing, single-char tokens contribute nothing") {
    val a = Corpus.bpePairStats(spark, sf).collect()
    val b = Corpus.bpePairStats(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.map(_.getLong(0)).toSeq === (1L to a.length))
    assert(a.length <= Corpus.BpeTopPairs && a.nonEmpty)
    a.sliding(2).foreach {
      case Array(hi, lo) => assert(hi.getLong(2) >= lo.getLong(2))
      case _ =>
    }
    a.foreach(r => assert(r.getString(1).length === 2))
    val solo = Corpus.bpePairStatsFrom(docsFrame(1L -> "a b c")).collect()
    assert(solo.isEmpty)
  }

  test("q126 bpe train: the Sennrich hand corpus yields the known " +
       "merge sequence, with greedy non-overlapping merges on runs") {
    // low×5, lower×2, newest×6, widest×3 (Sennrich et al. 2016,
    // tie-break count DESC then pair ASC) + aaaa×12, which forces the
    // overlap case: greedy left-to-right on [a,a,a,a] must yield
    // [aa,aa] — round 2's winner is "aa aa"(12); a wrong merge
    // ([aa,a,a]) would emit "a a"(12) instead.
    val docs = docsFrame(
      1L -> "low low low low low",
      2L -> "lower lower",
      3L -> "newest newest newest newest newest newest",
      4L -> "widest widest widest",
      5L -> "aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa")
    val out = Corpus.bpeTrainFrom(spark, docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "a a", 36L),
      (2L, "aa aa", 12L),
      (3L, "e s", 9L),
      (4L, "es t", 9L),
      (5L, "l o", 7L),
      (6L, "lo w", 7L),
      (7L, "e w", 6L),
      (8L, "ew est", 6L),
      (9L, "n ewest", 6L),
      (10L, "d est", 3L)))
  }

  test("q129 bpe encode: applying the trained merges in rank order " +
       "yields the hand-computed subword counts") {
    // the q126 hand corpus's 10 merges end at "d est": newest and low
    // fully merge, lower = [low, e, r], widest = [w, i, dest],
    // aaaa = [aaaa] (rounds 1-2 merge the a-run greedily)
    val docs = docsFrame(
      1L -> "low low low low low",
      2L -> "lower lower",
      3L -> "newest newest newest newest newest newest",
      4L -> "widest widest widest",
      5L -> "aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa")
    val merges = Corpus.bpeTrainFrom(spark, docs).collect()
      .map(_.getString(1)).toSeq
    val out = Corpus.bpeEncodeFrom(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, 5L, 5L),   // low ×5 → 1 subword each
      (2L, 2L, 6L),   // lower → [low, e, r]
      (3L, 6L, 6L),   // newest fully merges by round 9
      (4L, 3L, 9L),   // widest → [w, i, dest]
      (5L, 12L, 12L)  // aaaa → [aa,aa] → [aaaa]
    ))
    // fewer merges = strictly coarser encode: with no merges every
    // subword is a character
    val raw = Corpus.bpeEncodeFrom(docs, Seq.empty).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(raw.toSeq === Seq((1L, 15L), (2L, 10L), (3L, 36L),
      (4L, 18L), (5L, 48L)))
  }

  test("q126 delta maintenance: the signed-delta pair table equals a " +
       "full recount after every merge round (VERDICT r13 item 5)") {
    // drive the maintained table and the from-scratch recount side by
    // side over the Sennrich corpus + the aaaa overlap case — the
    // hand corpus that exercises greedy non-overlapping replacement,
    // count ties, and pairs driven to zero mid-train
    val docs = docsFrame(
      1L -> "low low low low low",
      2L -> "lower lower",
      3L -> "newest newest newest newest newest newest",
      4L -> "widest widest widest",
      5L -> "aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa")
    var words = Corpus.bpeInitialWords(docs)
    var pc = Corpus.bpePairRecount(words)
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    for (round <- 1 to 10) {
      val top = pc.orderBy($"pair_count".desc, $"pair".asc).limit(1).collect()
      assert(top.nonEmpty, s"round $round exhausted unexpectedly")
      val pair = top(0).getString(0)
      val deltas = Corpus.bpePairDeltas(words, pair)
      // a delta never touches a pair it doesn't need to: every delta
      // row's |d| is bounded by the merged pair's support
      val support = top(0).getLong(1)
      deltas.collect().foreach(r =>
        assert(math.abs(r.getLong(1)) <= support,
          s"round $round: delta ${r.getString(0)} -> ${r.getLong(1)} " +
            s"exceeds support $support"))
      pc = Corpus.bpeFoldDeltas(pc, deltas)
      words = Corpus.bpeApplyMerge(words, pair)
      assert(table(pc) === table(Corpus.bpePairRecount(words)),
        s"round $round: maintained pair table diverged from recount")
    }
  }

  test("q126 long-budget train: 35 rounds cross the round-32 words " +
       "compaction and match a driver-side reference BPE exactly") {
    // a 36-symbol word supports up to 35 merges, so the loop runs
    // past BpeWordsCompactEvery = 32 and the compaction branch (dead
    // at the named query's 10 rounds) is actually exercised; the
    // reference implements Sennrich greedy left-to-right merging on
    // symbol vectors, independently of the padded-replace encoding
    val base = "abcdefghijklmnopqrstuvwxyz0123456789"
    val corpus = Seq(1L -> s"$base $base", 2L -> base, 3L -> "zz zz zz")
    val out = Corpus.bpeTrainFrom(spark, docsFrame(corpus: _*), rounds = 35)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length === 35)
    // --- driver-side reference ---
    var words: Vector[(Vector[String], Long)] = corpus
      .flatMap(_._2.trim.split("\\s+"))
      .groupBy(identity).map { case (w, g) =>
        (w.map(_.toString).toVector, g.size.toLong)
      }.toVector
    val ref = Vector.newBuilder[(Long, String, Long)]
    for (r <- 1 to 35) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((syms, cnt) <- words; i <- 0 until syms.length - 1)
        counts(syms(i) + " " + syms(i + 1)) += cnt
      assert(counts.nonEmpty, s"reference exhausted at round $r")
      val (pair, support) = counts.toSeq
        .minBy { case (p, c) => (-c, p) }
      ref += ((r.toLong, pair, support))
      val Array(a, b) = pair.split(" ", 2)
      words = words.map { case (syms, cnt) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2 // greedy non-overlapping
          } else { out += syms(i); i += 1 }
        }
        (out.result(), cnt)
      }
    }
    assert(out.toSeq === ref.result())
  }

  test("q126 adaptive arm: forcing delta or recount through the loop " +
       "yields the identical merge table (arm choice cannot change " +
       "output)") {
    val docs = docsFrame(
      1L -> "low low low low low lower lower",
      2L -> "newest newest newest widest widest",
      3L -> "aaaa aaaa aaaa aaaa aaaa aaaa")
    def run(minVocab: Long) =
      Corpus.bpeTrainFrom(spark, docs, deltaMinVocab = minVocab)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
    val deltaArm = run(0L)              // always delta
    val recountArm = run(Long.MaxValue) // always recount
    val default = run(Corpus.BpeDeltaMinVocab)
    assert(deltaArm.nonEmpty)
    assert(deltaArm === recountArm)
    assert(default === recountArm,
      "the fixture vocabulary sits below the crossover — the default " +
        "must take the recount arm and still match")
  }

  test("q126 bpe train: exhaustion stops the loop early; single-char " +
       "tokens never produce a merge") {
    val out = Corpus.bpeTrainFrom(spark, docsFrame(1L -> "ab ab cd"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // after merging ab and cd every word is one symbol: 2 rounds only
    assert(out.toSeq === Seq((1L, "a b", 2L), (2L, "c d", 1L)))
    assert(Corpus.bpeTrainFrom(spark, docsFrame(1L -> "a b c")).collect()
      .isEmpty)
  }

  test("q81 length quantiles: exact percentiles match a hand " +
       "interpolation and every sketch verdict holds") {
    val rows = Corpus.lengthQuantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5),
        s"${r.getString(0)}: sketch strayed past the tolerance")
    }
    // hand interpolation (the quantile_cont convention) per source
    val bySource = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[String]("text").trim.split("\\s+").length.toDouble)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def interp(v: Array[Double], p: Double): Double = {
      val pos = p * (v.length - 1)
      val lo = pos.toInt
      if (lo + 1 >= v.length) v(lo)
      else v(lo) + (v(lo + 1) - v(lo)) * (pos - lo)
    }
    rows.foreach { r =>
      val v = bySource(r.getString(0))
      assert(r.getLong(1) === v.length.toLong)
      assert(math.abs(r.getDouble(2) - interp(v, 0.5)) < 1e-6)
      assert(math.abs(r.getDouble(3) - interp(v, 0.9)) < 1e-6)
    }
  }

  test("q65 tf-idf: ubiquitous tokens score zero, rare tokens rank first") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common alpha beta"),
      (3L, "common gamma delta"))
      .toDF("doc_id", "text")
    val out = Corpus.tfidfTopTermsFrom(docs).collect()
    val doc1 = out.filter(_.getLong(0) === 1L)
    // 'common' appears in every doc → idf = ln(1) = 0 → never top
    assert(doc1.head.getString(1) === "rare1")
    assert(doc1.head.getDouble(4) > 0)
    out.filter(_.getString(1) === "common").foreach { r =>
      assert(r.getDouble(4) === 0.0)
    }
    // exactly TopTerms rows per doc (3 tokens each here)
    assert(out.count(_.getLong(0) === 1L) <= Corpus.TfIdfTopTerms)
  }

  test("q62 clusters on the fixture: consistent with the q47 pair graph") {
    val pairs = Dedup.lshNearDupPairs(spark, sf).select($"doc_a", $"doc_b")
    val clustered = Dedup.dedupClustersFrom(pairs)
    val inPairs = pairs.select($"doc_a".as("d")).union(pairs.select($"doc_b".as("d")))
      .distinct().count()
    assert(clustered.count() === inPairs)
    // each cluster's canonical id is a member of the cluster
    val rows = clustered.collect()
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).contains(cid))
      members.foreach(m => assert(m.getLong(2) === members.length.toLong))
    }
  }

  test("q83 ppl buckets: per-lang thirds, ordered by score, every doc " +
       "bucketed exactly once") {
    val rows = Corpus.perplexityBuckets(spark, sf).collect()
    assert(rows.length.toLong === Tables.documents(spark, sf).count())
    val byLang = rows.groupBy(_.getString(1))
    byLang.foreach { case (lang, docs) =>
      val byBucket = docs.groupBy(_.getString(3))
        .view.mapValues(_.map(_.getDouble(2))).toMap
      // ordering: every head score >= every middle score >= every tail
      for (h <- byBucket.getOrElse("head", Array());
           m <- byBucket.getOrElse("middle", Array())) assert(h >= m)
      for (m <- byBucket.getOrElse("middle", Array());
           t <- byBucket.getOrElse("tail", Array())) assert(m >= t)
      // thirds: no bucket swallows the language (boundary ties can
      // shift a few docs, not a third)
      val n = docs.length.toDouble
      if (n >= 30)
        byBucket.values.foreach(b => assert(b.length / n < 0.5,
          s"$lang: a tertile holds ${b.length / n} of the docs"))
    }
  }

  test("q83 ppl buckets: sketch-boundary path agrees with the exact " +
       "path on nearly every doc") {
    val exact = Corpus.perplexityBuckets(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val approx = Corpus
      .perplexityBucketsSketch(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(approx.keySet === exact.keySet)
    val agree = exact.count { case (id, b) => approx(id) == b }
    assert(agree >= exact.size * 0.9,
      s"sketch boundaries moved ${exact.size - agree} of ${exact.size} docs")
  }

  test("awaitAll: a failed stage rethrows only after every sibling is done") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val release = new java.util.concurrent.CountDownLatch(1)
    val sibling = Future(scala.concurrent.blocking(release.await()))
    val failed = Future[Unit](throw new IllegalStateException("stage failed"))
    val call = Future(Corpus.awaitAll(failed, sibling))
    Thread.sleep(500)
    assert(!call.isCompleted, "the call ended while a sibling still ran")
    release.countDown()
    val e = intercept[IllegalStateException](Await.result(call, 30.seconds))
    assert(e.getMessage === "stage failed")
    assert(sibling.isCompleted)
  }

  test("q84 snapshot diff: statuses match the deterministic derivation") {
    val rows = Corpus.snapshotDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = Tables.documents(spark, sf).select($"doc_id")
      .collect().map(_.getLong(0))
    ids.foreach { id =>
      val inPrev = id % Corpus.SnapAddedMod != Corpus.SnapAddedRes
      val inCur = id % Corpus.SnapRemovedMod != Corpus.SnapRemovedRes
      val salted = id % Corpus.SnapChangedMod == Corpus.SnapChangedRes
      (inPrev, inCur) match {
        case (false, false) => assert(!rows.contains(id))
        case (false, true)  => assert(rows(id) === "added")
        case (true, false)  => assert(rows(id) === "removed")
        case (true, true)   =>
          assert(rows(id) === (if (salted) "changed" else "unchanged"))
      }
    }
    assert(rows.size === ids.count(id =>
      id % Corpus.SnapAddedMod != Corpus.SnapAddedRes ||
        id % Corpus.SnapRemovedMod != Corpus.SnapRemovedRes))
  }

  test("q84 snapshot diff: hand snapshots classify all four ways") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "prev_digest")
    val cur = Seq((2L, "b"), (3L, "C"), (4L, "d"))
      .toDF("doc_id", "cur_digest")
    val out = Corpus.snapshotDiffOf(prev, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("q84 snapshot diff: a NULL digest means an unknown digest, " +
       "never an absent row") {
    // presence is carried by marker columns: doc 1 exists in both
    // snapshots with a null digest on one side (changed), doc 2 with
    // null on BOTH (null-safely unchanged), doc 3 is genuinely absent
    // from prev (added) even though its digest is null
    val prev = Seq((1L, Some("a")), (2L, Option.empty[String]))
      .toDF("doc_id", "prev_digest")
    val cur = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("doc_id", "cur_digest")
    val out = Corpus.snapshotDiffOf(prev, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "changed", 2L -> "unchanged", 3L -> "added"))
  }

  test("q86 heavy hitters: exact counts verified by hand, CMS never " +
       "underestimates, every fixture verdict holds") {
    val rows = Corpus.heavyHitters(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Corpus.HeavyHitterK)
    // descending by count, token tiebreak
    rows.sliding(2).foreach {
      case Array(hi, lo) =>
        assert(hi.getLong(1) > lo.getLong(1) ||
          (hi.getLong(1) == lo.getLong(1) &&
            hi.getString(0) < lo.getString(0)))
      case _ =>
    }
    // CMS structural guarantee: est >= truth, always
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
    rows.foreach(r => assert(r.getBoolean(3),
      s"${r.getString(0)}: CMS strayed past the 2N/w bound"))
    // exact counts pinned against a driver-side recount
    val truth = Tables.documents(spark, sf).collect()
      .flatMap(_.getAs[String]("text").trim.split("\\s+"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach(r => assert(r.getLong(1) === truth(r.getString(0))))
  }

  test("q88 incremental scores == full recompute over the new snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Corpus.incrementalScores(spark, sf).collect()
    val full = Corpus.repetitionStatsFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q88 carries unchanged rows forward VERBATIM and rescores only " +
       "the dirty slice") {
    val docs = docsFrame(1L -> "stable text one", 2L -> "stable text two",
      3L -> "rewritten text")
    // poison the stored scores: a sentinel n_lines no scorer would
    // produce. Unchanged docs must keep it (proof of carry-forward,
    // not recompute); the changed doc must lose it to a fresh score.
    val prevScores = Corpus.repetitionStatsFrom(docs)
      .withColumn("n_lines", lit(-77L))
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (3L, "changed"),
      (4L, "added"), (9L, "removed"))
      .toDF("doc_id", "status")
    val curDocs = docsFrame(1L -> "stable text one", 2L -> "stable text two",
      3L -> "rewritten text entirely new", 4L -> "brand new doc")
    val out = Corpus.incrementalScoresOf(prevScores, curDocs, Delta(diff, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === -77L && out(2L) === -77L, "unchanged rows recomputed")
    assert(out(3L) === 1L && out(4L) === 1L, "dirty rows not rescored")
    assert(!out.contains(9L), "removed doc survived")
  }

  test("q92 incremental logprob == full recompute over the new snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Corpus.incrementalLogProb(spark, sf).collect()
    val full = Corpus.unigramLogProbFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q92 reads unchanged docs from the STORED tf table — never " +
       "re-tokenizes them") {
    // poison the stored tf: doc 1's token count is inflated to 5
    // (its text says 1). If the maintenance re-tokenized unchanged
    // docs the poison would vanish; reading the stored table, doc 1's
    // n_tokens must reflect the poisoned count.
    val prevDocs = docsFrame(1L -> "alpha beta", 2L -> "beta gamma")
    val prevTf = Corpus.tfFrom(prevDocs)
      .withColumn("tf", when($"doc_id" === 1L && $"token" === "alpha", 5L)
        .otherwise($"tf"))
    val prevVocab = Corpus.vocabFromTf(prevTf)
    val diff = Seq((1L, "unchanged"), (2L, "changed"), (4L, "added"))
      .toDF("doc_id", "status")
    val curDocs = docsFrame(1L -> "alpha beta",
      2L -> "gamma gamma delta", 4L -> "epsilon")
    val out = Corpus.incrementalLogProbOf(prevTf, prevVocab, curDocs, Delta(diff, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 6L, "unchanged doc was re-tokenized (poison lost)")
    assert(out(2L) === 3L && out(4L) === 1L, "dirty docs not re-tokenized")
  }

  test("q92 vocabulary deltas: counts move, dead tokens leave, new " +
       "tokens enter — and the drift verdict sees all of it") {
    val prevVocab = Seq(("alpha", 3L), ("beta", 2L), ("gone", 1L))
      .toDF("token", "cnt")
    // 'gone' lived only in a removed doc; 'beta' loses one of two;
    // 'fresh' enters with the new slice
    val lost = Seq((9L, "gone", 1L), (3L, "beta", 1L))
      .toDF("doc_id", "token", "tf")
    val gained = Seq((3L, "alpha", 2L), (4L, "fresh", 1L))
      .toDF("doc_id", "token", "tf")
    val v = Corpus.maintainedVocab(prevVocab, lost, gained)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v === Map("alpha" -> 5L, "beta" -> 1L, "fresh" -> 1L))
    val drift = Corpus.vocabDriftStats(prevVocab,
      Corpus.maintainedVocab(prevVocab, lost, gained)).collect().head
    assert(drift.getLong(0) === 4L,
      "alpha, beta, gone, fresh all moved")
    assert(drift.getDouble(1) > 0.0 && drift.getDouble(1) <= 1.0)
  }

  test("q112 incremental tfidf == full recompute over the new snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Corpus.incrementalTfidf(spark, sf).collect()
    val full = Corpus.tfidfTopTermsFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q112 reads unchanged docs from the STORED tf and maintains df " +
       "by deltas — never re-tokenizes clean text") {
    // poison the stored tf: unchanged doc 1's 'alpha' count inflated
    // to 5. Re-tokenizing would restore 1; reading the store keeps 5.
    val prevDocs = docsFrame(1L -> "alpha beta", 2L -> "beta gamma")
    val prevTf = Corpus.tfFrom(prevDocs)
      .withColumn("tf", when($"doc_id" === 1L && $"token" === "alpha", 5L)
        .otherwise($"tf"))
    val prevDf = prevTf.groupBy($"token").agg(count(lit(1)).as("df"))
    val prevN = prevDocs.agg(count(lit(1)).as("n_docs"))
    val diff = Seq((1L, "unchanged"), (2L, "changed"), (4L, "added"))
      .toDF("doc_id", "status")
    val curDocs = docsFrame(1L -> "alpha beta",
      2L -> "gamma gamma delta", 4L -> "epsilon")
    val out = Corpus.incrementalTfidfOf(prevTf, prevDf, prevN,
        curDocs, Delta(diff, "doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // poison retained: doc 1's alpha row carries tf=5 from the store
    assert(out((1L, "alpha"))._1 === 5L, "unchanged doc was re-tokenized")
    // df maintenance: beta lost changed doc 2 (2→1); gamma lost the
    // old doc 2 and gained the new one (1→1); delta/epsilon enter at 1
    assert(out((1L, "beta"))._2 === 1L)
    assert(out((2L, "gamma"))._2 === 1L)
    assert(out((4L, "epsilon"))._2 === 1L)
    // n_docs maintenance: 2 + 1 added = 3 → idf(alpha) = ln(3/1),
    // scored straight off the maintained tables
    val expected = BigDecimal(5.0 * math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, "alpha"))._3 === expected)
  }

  test("q117 vocab drift: identical vocabularies carry with zero " +
       "movement; a shifted vocabulary trips the rescore verdict") {
    val v = Seq(("alpha", 3L), ("beta", 2L)).toDF("token", "cnt")
    val same = Corpus.vocabDriftVerdictOf(v, v).collect().head
    assert(same.getLong(1) === 0L && same.getDouble(2) === 0.0 &&
      same.getDouble(3) === 0.0 && same.getString(4) === "carry")
    val shifted = Seq(("alpha", 9L), ("gamma", 4L)).toDF("token", "cnt")
    val drift = Corpus.vocabDriftVerdictOf(v, shifted).collect().head
    // all 3 union tokens moved (alpha 3→9, beta 2→0, gamma 0→4)
    assert(drift.getLong(0) === 3L && drift.getLong(1) === 3L)
    assert(drift.getString(4) === "rescore")
  }

  test("q118 on the fixture: the drifted diff takes the rescore " +
       "branch and lands byte-identical to the full q74 rebuild") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val out = Corpus.gatedLogProb(spark, sf).collect()
    assert(out.forall(_.getString(4) === "rescore"),
      "the fixture diff moves most of a 31-token vocabulary — carry " +
        "would mean the gate is broken")
    val full = Corpus.unigramLogProbFrom(curDocs).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getBoolean(3))).toSeq ===
      full.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq)
  }

  test("q118 carry branch: an undrifted diff keeps STORED scores for " +
       "unchanged docs (sentinel) and scores only the fresh slice " +
       "against the maintained vocabulary") {
    // 10-token vocabulary, one added doc reusing one token: moved
    // share 1/10 = 0.1 ≤ 0.2, mass share 1/11 ≈ 0.091 ≤ 0.1 → carry
    val prevDocs = docsFrame(1L -> "a b c d e", 2L -> "f g h i j")
    val prevTf = Corpus.tfFrom(prevDocs)
    val prevVocab = Corpus.vocabFromTf(prevTf)
    val prevScores = Corpus.unigramLogProbFrom(prevDocs)
      .withColumn("n_tokens", lit(-77L))
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (3L, "added"))
      .toDF("doc_id", "status")
    val curDocs = docsFrame(1L -> "a b c d e", 2L -> "f g h i j",
      3L -> "a")
    val out = Corpus.gatedLogProbOf(prevTf, prevVocab, prevScores,
        curDocs, Delta(diff, "doc_id")).collect()
    assert(out.forall(_.getString(4) === "carry"))
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(byDoc(1L)._1 === -77L && byDoc(2L)._1 === -77L,
      "unchanged docs were rescored under carry")
    // doc 3 scores against the MAINTAINED vocab: a=2 of total 11
    val expected = BigDecimal(math.log(2.0 / 11.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byDoc(3L) === ((1L, expected)))
  }

  test("q108 bigram logprob: hand arithmetic on a three-bigram corpus") {
    // docs: "a b c" and "a b b" → model B(a,b)=2, B(b,c)=1, B(b,b)=1;
    // contexts C(a)=2, C(b)=2 → lp(a,b)=ln(1)=0, lp(b,c)=lp(b,b)=ln(.5)
    val out = Corpus.bigramLogProbFrom(
        docsFrame(1L -> "a b c", 2L -> "a b b"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val half = BigDecimal(math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // -0.693147
    val expected = BigDecimal(half / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 === 2L && out(2L)._1 === 2L)
    assert(out(1L)._2 === expected && out(2L)._2 === expected)
  }

  test("q108 held-out scoring backs off to the continuation marginal, " +
       "floored for never-seen tokens") {
    // model from "a b c": M(b)=1, M(c)=1, T=2. Held-out bigrams:
    // (c,b) — unseen pair, seen continuation b → ln(α·1/2);
    // (a,z) — z never seen anywhere → floor M at 1 → same value
    val model = Corpus.bigramModelFromTf(
      Corpus.bigramTfFrom(docsFrame(1L -> "a b c")))
    val out = Corpus.scoreBigrams(
        Corpus.bigramTfFrom(docsFrame(7L -> "c b", 8L -> "a z")), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val backoff = BigDecimal(
        math.log(Corpus.BigramBackoffAlpha * 1.0 / 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(7L) === backoff)
    assert(out(8L) === backoff, "never-seen continuation must not NULL out")
  }

  test("q109 incremental bigram == full recompute over the new snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Corpus.incrementalBigramLogProb(spark, sf).collect()
    val full = Corpus.bigramLogProbFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q109 reads unchanged docs from the STORED bigram table — " +
       "never re-tokenizes them") {
    val prevDocs = docsFrame(1L -> "a b", 2L -> "b c")
    val prevBg = Corpus.bigramTfFrom(prevDocs)
      .withColumn("tf", when($"doc_id" === 1L, 5L).otherwise($"tf"))
    val prevModel = Corpus.bigramModelFromTf(prevBg)
    val diff = Seq((1L, "unchanged"), (2L, "changed"), (4L, "added"))
      .toDF("doc_id", "status")
    val curDocs = docsFrame(1L -> "a b", 2L -> "c c d", 4L -> "e f")
    val out = Corpus.incrementalBigramLogProbOf(prevBg, prevModel,
        curDocs, Delta(diff, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 5L, "unchanged doc was re-tokenized (poison lost)")
    assert(out(2L) === 2L && out(4L) === 1L)
  }

  test("q109 model deltas: counts move, dead bigrams leave, new ones " +
       "enter") {
    val prevModel = Seq(("a", "b", 3L), ("b", "c", 2L), ("x", "y", 1L))
      .toDF("w1", "w2", "bcnt")
    val lost = Seq((9L, "x", "y", 1L), (3L, "b", "c", 1L))
      .toDF("doc_id", "w1", "w2", "tf")
    val gained = Seq((3L, "a", "b", 2L), (4L, "p", "q", 1L))
      .toDF("doc_id", "w1", "w2", "tf")
    val m = Corpus.maintainedBigramModel(prevModel, lost, gained)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m === Map(("a", "b") -> 5L, ("b", "c") -> 1L, ("p", "q") -> 1L))
  }

  test("q94 incremental heavy hitters == full recompute over the new " +
       "snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Corpus.incrementalHeavyHitters(spark, sf).collect()
    val full = Corpus.heavyHittersFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q94 counter maintenance: a removed doc's tokens drain their " +
       "CMS cells to zero and leave the table — maintained state " +
       "equals rebuild, estimates included") {
    val prevDocs = docsFrame(1L -> "alpha beta", 2L -> "gamma")
    val prevTf = Corpus.tfFrom(prevDocs)
    val prevVocab = Corpus.vocabFromTf(prevTf)
    val prevCounters = Corpus.cmsCountersFrom(prevVocab)
    val diff = Seq((1L, "unchanged"), (2L, "removed"), (3L, "added"))
      .toDF("doc_id", "status")
    val curDocs = docsFrame(1L -> "alpha beta", 3L -> "delta")
    val out = Corpus.incrementalHeavyHittersOf(prevVocab, prevCounters,
      prevTf, curDocs, Delta(diff, "doc_id")).collect()
    val byTok = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTok === Map("alpha" -> 1L, "beta" -> 1L, "delta" -> 1L),
      "gamma must leave the vocabulary with its doc")
    // tiny vocab into 4x1024 cells: estimates exact, verdicts hold
    out.foreach(r => {
      assert(r.getLong(2) === r.getLong(1)); assert(r.getBoolean(3)) })
    assert(out.toSeq === Corpus.heavyHittersFrom(curDocs).collect().toSeq,
      "maintained counters diverged from the batch build")
  }

  test("q96 drift report: cardinality invariant holds per source and " +
       "the fixture totals reconcile with the q84 diff") {
    val rows = Corpus.snapshotDriftReport(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val get = (n: String) => r.getLong(r.fieldIndex(n))
      assert(get("docs_cur") ===
        get("docs_prev") + get("n_added") - get("n_removed"),
        s"cardinality broke for source ${r.getString(0)}")
    }
    val statuses = Corpus.snapshotDiff(spark, sf)
      .groupBy($"status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def tot(n: String) = rows.map(r => r.getLong(r.fieldIndex(n))).sum
    assert(tot("n_added") === statuses.getOrElse("added", 0L))
    assert(tot("n_removed") === statuses.getOrElse("removed", 0L))
    assert(tot("n_changed") === statuses.getOrElse("changed", 0L))
  }

  test("q96 drift arithmetic: a hand diff with a vanished and a " +
       "brand-new source, churn past the incremental gate") {
    val prev = Seq((1L, "web", 10L), (2L, "web", 20L), (9L, "old", 5L))
      .toDF("doc_id", "source", "n_chars")
    val cur = Seq((1L, "web", 10L), (3L, "web", 30L), (4L, "new", 7L))
      .toDF("doc_id", "source", "n_chars")
    val diff = Seq((1L, "unchanged"), (2L, "removed"), (3L, "added"),
      (4L, "added"), (9L, "removed")).toDF("doc_id", "status")
    val attribution = Seq((1L, "web"), (2L, "web"), (3L, "web"),
      (4L, "new"), (9L, "old")).toDF("doc_id", "source")
    val out = Corpus.snapshotDriftReportOf(prev, cur, diff, attribution)
      .collect().map(r => r.getString(0) -> r).toMap
    // 'old' vanished: churn 1/1, not incremental-eligible
    assert(out("old").getLong(out("old").fieldIndex("docs_cur")) === 0L)
    assert(!out("old").getBoolean(out("old").fieldIndex("incremental_ok")))
    // 'new' appeared: prev 0 docs, churn divides by the 1-floor
    assert(out("new").getDouble(out("new").fieldIndex("churn_frac")) === 1.0)
    // 'web': 1 added + 1 removed over 2 prev docs = 1.0 churn, chars
    // 30 -> 40 = 0.333333 drift
    val web = out("web")
    assert(web.getDouble(web.fieldIndex("churn_frac")) === 1.0)
    assert(web.getDouble(web.fieldIndex("char_drift")) === 0.333333)
    assert(!web.getBoolean(web.fieldIndex("incremental_ok")))
  }

  test("q86 heavy hitters: hand corpus — top-k cut and the estimate " +
       "of an uncollided token is exact") {
    val out = Corpus.heavyHittersFrom(
      docsFrame(1L -> "x x x y y z")).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("x", 3L), ("y", 2L), ("z", 1L)))
    // 3 tokens into 4×1024 buckets: collisions are ~impossible, the
    // min over rows recovers the exact count
    out.foreach(r => assert(r.getLong(2) === r.getLong(1)))
  }

  test("q102 incremental decontamination == full recompute over the " +
       "new snapshot") {
    val inc = Corpus.incrementalDecontam(spark, sf).collect()
    val full = Corpus.decontaminateFrom(
      Corpus.snapshotCur(Tables.documents(spark, sf))).collect()
    assert(inc.map(_.toSeq).toSeq === full.map(_.toSeq).toSeq)
  }

  test("q102 hand mechanics: bench-delta adjusts carried docs, dirty " +
       "docs re-shingle, verdicts match the full recompute") {
    val benchA = "alpha beta gamma delta epsilon"
    val benchB = "zeta eta theta iota kappa"
    val prevDocs = Seq(
      1L -> benchA, 2L -> benchB,
      20L -> s"$benchA one two three four five",
      21L -> s"$benchB six seven eight nine ten",
      22L -> "completely unrelated words with no overlap at all here")
      .toDF("doc_id", "text")
    // bench doc 2 leaves (its n-grams drop from the bench set), a new
    // contaminated doc 23 arrives; 20/21/22 are untouched
    val curDocs = Seq(
      1L -> benchA,
      20L -> s"$benchA one two three four five",
      21L -> s"$benchB six seven eight nine ten",
      22L -> "completely unrelated words with no overlap at all here",
      23L -> s"$benchA eleven twelve thirteen fourteen")
      .toDF("doc_id", "text")
    val diff = Seq((2L, "removed"), (23L, "added"), (1L, "unchanged"),
      (20L, "unchanged"), (21L, "unchanged"), (22L, "unchanged"))
      .toDF("doc_id", "status")
    val (fps, counts, bench) = Corpus.decontamStateFrom(prevDocs)
    val inc = Corpus.incrementalDecontamOf(fps, counts, bench,
      curDocs, Delta(diff, "doc_id")).collect()
    val full = Corpus.decontaminateFrom(curDocs).collect()
    assert(inc.map(_.toSeq).toSeq === full.map(_.toSeq).toSeq)
    val ids = inc.map(_.getLong(0)).toSet
    // 21's only shared n-gram left with bench doc 2 -> drops out of
    // the report via the CARRIED path's bench adjustment
    assert(!ids.contains(21L))
    assert(ids.contains(20L), "clean doc 20 carries its verdict")
    assert(ids.contains(23L), "added doc 23 is freshly scored")
  }

  test("q101 incremental corpus == the full q76 build over the new " +
       "snapshot") {
    val inc = Corpus.incrementalTrainingCorpus(spark, sf).collect()
    val full = Corpus.trainingCorpusFrom(spark,
      Corpus.snapshotCur(Tables.documents(spark, sf))).collect()
    assert(inc.map(_.toSeq).toSeq === full.map(_.toSeq).toSeq)
    assert(inc.nonEmpty)
  }

  test("q98 train order: a permutation — every doc exactly once, " +
       "contiguous positions per shard, reproducible") {
    val docs = Tables.documents(spark, sf)
    val out = Corpus.trainOrder(spark, sf).collect()
    assert(out.length === docs.count())
    assert(out.map(_.getLong(2)).distinct.length === out.length)
    assert(out.forall { r =>
      val s = r.getLong(0); s >= 0 && s < Corpus.NumOrderShards })
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq ===
        (1L to rows.length.toLong))
    }
    // the manifest's entire point: bit-identical on re-execution
    val again = Corpus.trainOrder(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("q98 train order is decorrelated from the q58 split: every " +
       "shard carries docs of more than one split") {
    val split = Corpus.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val byShard = Corpus.trainOrder(spark, sf).collect()
      .groupBy(_.getLong(0))
    // an unsalted order hash would make shard membership a function
    // of the split bucket; the salt makes each shard a split mixture
    assert(byShard.values.forall(
      _.map(r => split(r.getLong(2))).distinct.length > 1))
  }

  test("q100 epoch plan: per-shard counts equal the prefix of the " +
       "q98 order under the token budget") {
    val ord = Corpus.trainOrder(spark, sf).collect()
      .groupBy(_.getLong(0))
    val plan = Corpus.epochPlan(spark, sf).collect()
    assert(plan.map(_.getLong(0)).toSet === ord.keySet)
    plan.foreach { r =>
      val rows = ord(r.getLong(0)).sortBy(_.getLong(1))
      val toks = rows.map(_.getLong(3))
      val cum = toks.scanLeft(0L)(_ + _).tail
      val kept = cum.count(_ <= Corpus.TokenBudgetPerShard)
      assert(r.getLong(1) === rows.length.toLong)           // n_docs
      assert(r.getLong(2) === kept.toLong)                  // n_kept
      assert(r.getLong(3) === toks.sum)                     // tokens_total
      assert(r.getLong(4) === toks.take(kept).sum)          // tokens_kept
      assert(r.getLong(4) <= Corpus.TokenBudgetPerShard)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }
}
