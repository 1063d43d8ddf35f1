package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.Delta
import graft.operators.Weather
import graft.sources.UpsertWriter
import graft.streaming.{StreamingClean, StreamingWindows}

class StreamingWindowsSpec extends AnyFunSuite {
  import TestSpark._

  test("watermarked hourly aggregation matches the batch hourly aggregate") {
    val streamed = StreamingWindows.hourlyStats(spark, s"$sf/events.parquet")
    val batch = Weather.bronze(spark, sf)
      .groupBy(date_trunc("hour", col("ts_utc")).as("ts_hour"), col("site"))
      .agg(count(lit(1)).as("n"), round(avg(col("ghi_wm2")), 6).as("ghi_mean"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("stateful LWW dedup winners match the batch kernel's dedup choice") {
    val winners = StreamingWindows.statefulDedup(spark, s"$sf/events.parquet")
    // batch reference: winner per (site, hour) among ALL bronze rows
    // (pre-validation — the stateful op dedups, it does not validate)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("site"), col("tsHour"))
      .orderBy(col("version").desc, col("seq").desc)
    val batch = Weather.bronze(spark, sf)
      .select(col("site"),
        unix_micros(date_trunc("hour", col("ts_utc"))).as("tsHour"),
        coalesce(col("ghi_wm2"), lit(0.0)).as("ghi"),
        unix_micros(col("ingested_at")).as("version"),
        col("ingest_seq").as("seq"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    assert(winners.count() === batch.count())
    assert(winners.exceptAll(batch).count() === 0)
  }

  test("multi-batch streaming: late-but-newer data overwrites, older is ignored") {
    import spark.implicits._
    // two files => two AvailableNow micro-batches (maxFilesPerTrigger=1)
    val inDir = TestTmp.dir("graft-mb-in-")
    val out = TestTmp.dir("graft-mb-out-").toString + "/silver"
    def mkEvents(ids: Seq[Long], tsBase: Long, file: String): Unit = {
      val stage = TestTmp.dir("graft-mb-stage-").toString + "/p"
      ids.map(i => (i, (tsBase + i * 1000000L) * 1000L, 1L, "click", 50.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, inDir.resolve(file + ".parquet"))
      ()
    }
    // batch 1: seqs 2,4 — batch 2: seqs 1,3 (older seq, same hours)
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    mkEvents(Seq(2L, 4L), base, "b1")
    mkEvents(Seq(1L, 3L), base, "b2")
    val silver = StreamingClean.run(spark, inDir.toString, out,
      maxFilesPerTrigger = Some(1))
    // all 4 events are in hour 0 → one (site, hour) key; the winner
    // must be the max (ingested_at, seq) across BOTH batches = seq 4
    val rows = silver.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("ingest_seq") === 4L)
  }

  test("late data across 4 micro-batches converges to the batch kernel") {
    import spark.implicits._
    // one (site, hour) key updated in EVERY batch. Versions follow
    // ingested_at = ts + (event_id % 5) min, so the version order of
    // seqs (5, 9, 7, 12) is 5 < 7 < 12 < 9: batch 2 installs the
    // true newest version (9), then BOTH later batches (7, 12) arrive
    // late-and-older and must be ignored — including the final batch,
    // so convergence can't be an accident of processing order. The
    // store must equal what the batch kernel computes over the union.
    val inDir = TestTmp.dir("graft-mb4-in-")
    val out = TestTmp.dir("graft-mb4-out-").toString + "/silver"
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    def mk(ids: Seq[Long], file: String): Unit = {
      val stage = TestTmp.dir("graft-mb4-stage-").toString + "/p"
      ids.map(i => (i, (base + i * 1000000L) * 1000L, 1L, "click", 50.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, inDir.resolve(file + ".parquet"))
      ()
    }
    val arrival = Seq(5L, 9L, 7L, 12L)
    arrival.zipWithIndex.foreach { case (s, i) => mk(Seq(s), s"b$i") }
    val silver = StreamingClean.run(spark, inDir.toString, out,
      maxFilesPerTrigger = Some(1))
    val rows = silver.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("ingest_seq") === 9L,
      "the newest VERSION must win, not the last ARRIVAL (12)")
    // full-row equality with the batch kernel over the union
    val all = arrival
      .map(i => (i, (base + i * 1000000L) * 1000L, 1L, "click", 50.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    val batch = Weather.cleanToHourly(Weather.bronzeFromEvents(all))
    val aligned = silver.select(batch.columns.toIndexedSeq.map(col): _*)
    assert(aligned.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(aligned).count() === 0)
  }
}

class StreamingCorpusSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("streaming dedup == batch dedup on the fixture corpus") {
    val streamed = graft.streaming.StreamingCorpus
      .dedupViaStreaming(spark, sf).collect()
    val batch = graft.operators.TextOps.exactDedup(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming dedup state survives micro-batches: keeper tightens, copies accumulate") {
    // batch 1 delivers doc 10, batch 2 re-delivers the same CONTENT
    // under the smaller id 3 plus fresh content under 20: the state
    // must tighten the keeper to 3 and count both copies, regardless
    // of which batch each copy arrived in
    val inDir = TestTmp.dir("graft-cd-in-")
    def mk(rows: Seq[(Long, String)], file: String): Unit = {
      val stage = TestTmp.dir("graft-cd-stage-").toString + "/p"
      rows.map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, inDir.resolve(file + ".parquet"))
      ()
    }
    mk(Seq(10L -> "shared corpus text"), "b1")
    mk(Seq(3L -> "shared corpus text", 20L -> "unique text"), "b2")
    val out = graft.streaming.StreamingCorpus
      .dedupStream(spark, inDir.toString, maxFilesPerTrigger = Some(1))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(3L -> 2L, 20L -> 1L))
  }
}

class StreamingNearDupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.operators.Dedup

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  /** Stage each row-group as one parquet file so maxFilesPerTrigger=1
    * makes each group one micro-batch. */
  private def stageBatches(batches: Seq[Seq[(Long, String)]]): String = {
    val inDir = TestTmp.dir("graft-nd-in-")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = TestTmp.dir("graft-nd-stage-").toString + "/p"
      docsDf(rows).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, inDir.resolve(f"b$i%02d.parquet"))
      ()
    }
    inDir.toString
  }

  private def batchKeepCorpus(rows: Seq[(Long, String)]) = {
    val docs = docsDf(rows)
    Dedup.dedupKeepCorpusFrom(docs, Dedup.dedupClustersFrom(
      Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(docs))
        .select($"doc_a", $"doc_b")))
  }

  test("streaming near-dup dedup == batch q47→q62→q70 on the fixture corpus") {
    val streamed = graft.streaming.StreamingCorpus
      .nearDupViaStreaming(spark, sf).collect()
    val batch = Dedup.dedupKeepCorpus(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("a late-arriving near-dup pairs with state from an earlier batch") {
    val original = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val unrelated = (100 to 140).map(i => s"u$i").mkString(" ")
    // batch 2's noise doc uses a DISJOINT vocabulary: a one-word edit
    // of `unrelated` would itself be a near-dup of doc 9 (40/41 shared
    // shingles) and would legitimately cluster {2, 9}
    val noise = (200 to 240).map(i => s"v$i").mkString(" ")
    val rows = Seq(
      Seq(5L -> original, 9L -> unrelated), // batch 1
      Seq(2L -> noise), // batch 2: noise
      Seq(30L -> nearDup)) // batch 3: near-dup of batch 1's doc 5
    val kept = graft.streaming.StreamingCorpus
      .nearDupStream(spark, stageBatches(rows), maxFilesPerTrigger = Some(1))
      .collect().map(_.getLong(0)).toSeq
    // 30 is a near-dup of 5 discovered ACROSS two batch boundaries:
    // the cluster {5, 30} keeps its min; everything else survives
    assert(kept === Seq(2L, 5L, 9L))
    val batch = batchKeepCorpus(rows.flatten).collect().map(_.getLong(0)).toSeq
    assert(kept === batch)
  }

  test("mega-bucket guard holds across batches: pairs recorded while " +
       "small die when the bucket's final occupancy crosses the cap") {
    // 40 identical docs in batch 1 (buckets at 40 ≤ 64: ~780 pairs per
    // band recorded), 35 more in batch 2 (final occupancy 75 > 64):
    // resolution must drop EVERY recorded pair — the batch guard's
    // skip-the-whole-bucket semantics — so all 75 docs survive the
    // NEAR-dup path (byte-identical copies are q44/q68's job)
    val clone = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (100L until 140L).map(_ -> clone),
      (140L until 175L).map(_ -> clone))
    assert(rows.flatten.size > Dedup.MaxBucketDocs)
    val kept = graft.streaming.StreamingCorpus
      .nearDupStream(spark, stageBatches(rows), maxFilesPerTrigger = Some(1))
      .collect().map(_.getLong(0)).toSeq
    assert(kept === (100L until 175L).toSeq)
    val batch = batchKeepCorpus(rows.flatten).collect().map(_.getLong(0)).toSeq
    assert(kept === batch)
  }

  private def pairBits(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq

  test("q134: streaming exact pairs == batch q130 on the fixture corpus") {
    val streamed = pairBits(graft.streaming.StreamingCorpus
      .prefixPairsViaStreaming(spark, sf).collect())
    val batch = pairBits(Dedup.prefixJaccardPairs(spark, sf).collect())
    assert(batch.nonEmpty, "fixture corpus must keep exact pairs")
    assert(streamed === batch,
      "drained exact-pair table must equal the one-shot q130 verdicts")
  }

  test("q134: a late-arriving exact near-dup pairs ACROSS batch " +
       "boundaries, and a cross-batch hot-cutoff flip stays exact") {
    val original = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val unrelated = (100 to 140).map(i => s"u$i").mkString(" ")
    // a boilerplate block whose shingles end up HOT only once the
    // final batch lands (df crosses the cutoff mid-stream): pairs its
    // docs recorded early must die at drain-time verification over
    // the FINAL kept universe — exactly the batch exclusion
    val boiler = (0 to 12).map(i => s"b$i").mkString(" ")
    val boilerDocs =
      (300L until (301L + Dedup.MaxShingleDocFreq)).map { i =>
        i -> s"$boiler filler${i}a filler${i}b filler${i}c"
      }
    val rows = Seq(
      Seq(5L -> original, 9L -> unrelated), // batch 1
      boilerDocs.take(boilerDocs.size / 2), // batch 2: boiler half 1
      boilerDocs.drop(boilerDocs.size / 2), // batch 3: crosses cutoff
      Seq(30L -> nearDup)) // batch 4: near-dup of batch 1's doc 5
    val streamed = pairBits(graft.streaming.StreamingCorpus
      .prefixPairStream(spark, stageBatches(rows),
        maxFilesPerTrigger = Some(1)).collect())
    val batch = pairBits(
      Dedup.prefixJaccardPairsFrom(docsDf(rows.flatten),
        threshold = Dedup.PrefixJaccardThreshold).collect())
    assert(streamed === batch,
      "cross-batch pairs + mid-stream cutoff crossing must match batch")
    // sensitivity: the (5, 30) pair spans three batch boundaries
    assert(streamed.exists(p => p._1 == 5L && p._2 == 30L),
      "the late near-dup pair must be discovered across batches")
    // sensitivity: the boiler shingles' df really crosses the cutoff
    // mid-stream (so batches 2-3 recorded candidates that verification
    // had to re-judge over the final kept universe)
    assert(boilerDocs.size > Dedup.MaxShingleDocFreq)
  }

  test("q135: streaming exact containment == batch q131, and a " +
       "late-arriving SUBSET doc pairs across batch boundaries") {
    def bits(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val streamed = bits(graft.streaming.StreamingCorpus
      .prefixContainViaStreaming(spark, sf).collect())
    val batch = bits(Dedup.prefixContainmentPairs(spark, sf).collect())
    assert(batch.nonEmpty, "fixture corpus must keep containment pairs")
    assert(streamed === batch,
      "drained containment table must equal the one-shot q131 verdicts")
    // the subset family (high containment, LOW Jaccard) is exactly
    // what q134's Jaccard drain cannot flag — prove the shared
    // candidate log serves the asymmetric measure across batches
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (1 to 20).map(i => s"w$i").mkString(" ") // strict subset
    val rows = Seq(
      Seq(5L -> long, 9L -> (100 to 140).map(i => s"u$i").mkString(" ")),
      Seq(2L -> (200 to 240).map(i => s"v$i").mkString(" ")),
      Seq(30L -> short)) // batch 3: subset of batch 1's doc 5
    val got = bits(graft.streaming.StreamingCorpus
      .prefixContainStream(spark, stageBatches(rows),
        maxFilesPerTrigger = Some(1)).collect())
    val want = bits(Dedup.prefixContainmentPairsFrom(docsDf(rows.flatten))
      .collect())
    assert(got === want, "cross-batch subset drain must match batch")
    assert(got.exists(p => p._1 == 5L && p._2 == 30L),
      "the late subset pair must be discovered across batches")
    // and it is genuinely the q134-invisible family: J(5,30) < 0.8
    val jac = Dedup.prefixJaccardPairsFrom(docsDf(rows.flatten),
        threshold = Dedup.PrefixJaccardThreshold).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((5L, 30L)),
      "the subset pair must sit below the Jaccard threshold")
  }

  test("q134 sharded state: maintained df == recount, replay is a " +
       "no-op, and the drain equals batch q130") {
    import graft.streaming.StreamingCorpus
    val original = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val rows = Seq(
      Seq(5L -> original, 9L -> (100 to 140).map(i => s"u$i").mkString(" ")),
      Seq(2L -> (200 to 240).map(i => s"v$i").mkString(" ")),
      Seq(30L -> nearDup))
    val mRoot = TestTmp.dir("graft-xp-m-").toString
    rows.foreach(b => StreamingCorpus.processPrefixPairBatch(docsDf(b), mRoot))
    // incrementally maintained df == the ground-truth recount (what
    // keeps the per-batch hot cutoff identical to the r16 shape)
    def dfMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = dfMap(Dedup.shingleFpsFrom(docsDf(rows.flatten))
      .groupBy($"fp").agg(count(lit(1)).cast("long").as("df")))
    assert(dfMap(StreamingCorpus.maintainedDf(spark, mRoot)) === want)
    // the maintained harness drains to the one-shot q130 verdicts over
    // the same docs, byte for byte
    val drainedM =
      pairBits(StreamingCorpus.resolvePrefixPairs(spark, mRoot).collect())
    val batch = pairBits(Dedup.prefixJaccardPairsFrom(docsDf(rows.flatten),
      threshold = Dedup.PrefixJaccardThreshold).collect())
    assert(drainedM.nonEmpty && drainedM === batch)
    assert(drainedM.exists(p => p._1 == 5L && p._2 == 30L))
    // a REPLAYED batch (crash-recovery redelivery) is a no-op: the
    // anti-join idempotence keeps the log, df, and drain unchanged
    StreamingCorpus.processPrefixPairBatch(docsDf(rows.last), mRoot)
    assert(dfMap(StreamingCorpus.maintainedDf(spark, mRoot)) === want)
    assert(pairBits(StreamingCorpus.resolvePrefixPairs(spark, mRoot)
      .collect()) === drainedM)
  }
}

class StreamingHeavyHitterSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def stageBatches(batches: Seq[Seq[(Long, String)]]): String = {
    val inDir = TestTmp.dir("graft-hh-in-")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = TestTmp.dir("graft-hh-stage-").toString + "/p"
      docsDf(rows).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, inDir.resolve(f"b$i%02d.parquet"))
      ()
    }
    inDir.toString
  }

  test("streaming heavy hitters == batch q86 on the fixture corpus") {
    val streamed = graft.streaming.StreamingCorpus
      .heavyHittersViaStreaming(spark, sf).collect()
    val batch = graft.operators.Corpus.heavyHitters(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("counter state accumulates across micro-batches: a token's count " +
       "spans every batch that carried it") {
    val rows = Seq(
      Seq(1L -> "alpha alpha beta"),
      Seq(2L -> "gamma delta"),
      Seq(3L -> "alpha beta gamma"))
    val streamed = graft.streaming.StreamingCorpus
      .heavyHitterStream(spark, stageBatches(rows),
        maxFilesPerTrigger = Some(1)).collect()
    // alpha arrived in batches 1 and 3: only cross-batch state sums it
    val byTok = streamed.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byTok("alpha")._1 === 3L)
    assert(byTok.view.mapValues(_._1).toMap ===
      Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 2L, "delta" -> 1L))
    // tiny vocab into 4x1024 buckets: estimates exact, verdicts hold
    byTok.values.foreach { case (cnt, est, ok) =>
      assert(est === cnt && ok)
    }
    val batch = graft.operators.Corpus
      .heavyHittersFrom(docsDf(rows.flatten)).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("space-saving fold: capacity bound, overestimate-only error, " +
       "and heavy-element survival past eviction pressure") {
    import graft.streaming.StreamingCorpus.spaceSavingFold
    val cap = 8
    // 40 distinct light tokens (1 each) + one heavy token (25): 5x
    // over capacity, so evictions churn constantly
    val stream = (1 to 40).map(i => f"light$i%02d" -> 1L) ++
      Seq("heavy" -> 5L) ++ (41 to 60).map(i => f"light$i%02d" -> 1L) ++
      Seq("heavy" -> 20L)
    val m = stream.grouped(7).foldLeft(Map.empty[String, (Long, Long)])(
      (acc, b) => spaceSavingFold(acc, b, cap))
    assert(m.size <= cap, "candidate set exceeded capacity")
    val (hCnt, hErr) = m("heavy")
    assert(hCnt >= 25L, "space-saving must never undercount")
    assert(hCnt - 25L <= hErr, "overestimate must be covered by err")
    val n = stream.map(_._2).sum
    m.values.foreach { case (_, err) =>
      assert(err <= n / cap, "err past the N/capacity floor") }
  }

  test("space-saving state is bounded and exact on the fixture " +
       "(every candidate err = 0 — what keeps q87 inside the oracle)") {
    import graft.streaming.StreamingCorpus
    val staged = TestTmp.dir("graft-ssfix-in-").toString + "/docs"
    Tables.documents(spark, sf).write.mode("overwrite").parquet(staged)
    val (cand, total) = StreamingCorpus.heavyHitterCandidates(spark, staged)
    val rows = cand.collect()
    assert(rows.length <=
      StreamingCorpus.SsShards * StreamingCorpus.SsCapacity)
    assert(rows.forall(_.getLong(2) === 0L),
      "fixture vocabulary fits the candidate set: nothing may evict")
    val n = total.collect().head.getLong(0)
    val trueN = Tables.documents(spark, sf)
      .select(explode(graft.operators.TextOps.tokens($"text"))).count()
    assert(n === trueN, "per-shard totals must sum to the stream length")
  }

  test("eviction end-to-end: a vocabulary far past the candidate " +
       "capacity stays bounded while the heavy token survives tracked") {
    import graft.streaming.StreamingCorpus
    val capTotal = StreamingCorpus.SsShards * StreamingCorpus.SsCapacity
    // ~5,200 distinct singleton tokens (≈320 per shard > 256 capacity)
    // spread over two micro-batches, plus one token carrying 500
    // occurrences — far above any shard's N/capacity error floor
    val light = (0 until 5200).map(i => f"tok$i%05d")
    val rows = Seq(
      light.take(2600).grouped(200).zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toSeq ++
        Seq(50L -> Seq.fill(250)("heavy").mkString(" ")),
      light.drop(2600).grouped(200).zipWithIndex
        .map { case (ts, i) => (100L + i, ts.mkString(" ")) }.toSeq ++
        Seq(150L -> Seq.fill(250)("heavy").mkString(" ")))
    val (cand, total) = StreamingCorpus.heavyHitterCandidates(spark,
      stageBatches(rows), maxFilesPerTrigger = Some(1))
    val byTok = cand.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byTok.size <= capTotal,
      s"state grew past the ${capTotal} bound: ${byTok.size}")
    assert(byTok.size < 5201, "nothing evicted — the test has no teeth")
    val (hCnt, hErr) = byTok("heavy")
    assert(hCnt >= 500L && hCnt - 500L <= hErr,
      "the heavy hitter must survive with a covered overestimate")
    assert(total.collect().head.getLong(0) === 5200L + 500L)
  }
}

class StreamingSemanticDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.operators.VectorOps
  import graft.streaming.StreamingCorpus

  private def embDf(rows: Seq[(Long, Seq[Float], Int)]) =
    rows.toDF("vec_id", "embedding", "label")

  private def stageBatches(batches: Seq[Seq[(Long, Seq[Float], Int)]]): String = {
    val inDir = TestTmp.dir("graft-sd-in-")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = TestTmp.dir("graft-sd-stage-").toString + "/p"
      embDf(rows).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, inDir.resolve(f"b$i%02d.parquet"))
      ()
    }
    inDir.toString
  }

  test("q106 streaming semantic dedup == batch q93 on the fixture corpus") {
    val streamed = StreamingCorpus.semanticDedupViaStreaming(spark, sf)
      .collect()
    val batch = VectorOps.semanticKeepCorpus(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("q127 streaming PQ+IVF encode == batch q120/q50 on the fixture " +
       "corpus — the frozen published models applied at ingest") {
    val streamed = StreamingCorpus.pqViaStreaming(spark, sf).collect()
    val batch = VectorOps.pqCodes(spark, sf)
      .join(VectorOps.ivfAssign(spark, sf).select($"vec_id", $"cell_id"),
        Seq("vec_id"))
      .orderBy($"vec_id", $"m").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("q127: a replayed micro-batch is a no-op, and batch boundaries " +
       "don't matter — row-local encoding commutes with slicing") {
    val books = VectorOps.pqCodebookRowsFor(spark, sf)
    val cents = VectorOps.codebookRowsFor(spark, sf)
    val embs = graft.Tables.embeddings(spark, sf)
    val root = TestTmp.dir("graft-pq-replay-").toString
    val b1 = embs.filter($"vec_id" % 2 === 0)
    val b2 = embs.filter($"vec_id" % 2 === 1)
    StreamingCorpus.processVectorBatch(b1, root, books, cents)
    StreamingCorpus.processVectorBatch(b2, root, books, cents)
    val once = StreamingCorpus.resolveVectorCodes(spark, root)
      .collect().toSeq
    // replay batch 2 wholesale (the at-least-once failure mode)
    StreamingCorpus.processVectorBatch(b2, root, books, cents)
    val replayed = StreamingCorpus.resolveVectorCodes(spark, root)
      .collect().toSeq
    assert(replayed === once, "replay changed the encoded corpus")
    // one-shot drain (different slicing) lands the identical log
    val root2 = TestTmp.dir("graft-pq-oneshot-").toString
    StreamingCorpus.processVectorBatch(embs, root2, books, cents)
    val oneShot = StreamingCorpus.resolveVectorCodes(spark, root2)
      .collect().toSeq
    assert(oneShot === once, "batch boundaries changed the encoding")
  }

  test("a cross-batch paraphrase dup is caught and verification kills " +
       "same-cell non-dups") {
    // four axis-aligned cells; vec 30 (batch 3) is a near-copy of
    // vec 5 (batch 1) — the pair must be discovered across two batch
    // boundaries from the accumulated cell state. vec 9 shares a
    // probed cell with 5 but points the other way: the candidate is
    // generated and must die at cosine verification.
    val codebook = Array(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(-1.0, 0.0), 3L -> Seq(0.0, -1.0))
    val rows = Seq(
      Seq((5L, Seq(1.0f, 0.1f), 1)),   // batch 1
      Seq((9L, Seq(-1.0f, 0.1f), 2)),  // batch 2: same 2nd-probe cell
      Seq((30L, Seq(0.99f, 0.15f), 3))) // batch 3: paraphrase of 5
    val kept = StreamingCorpus.semanticDedupStream(spark,
        stageBatches(rows), codebook, maxFilesPerTrigger = Some(1))
      .collect().map(_.getLong(0)).toSeq
    // cluster {5, 30} keeps its min; 9 survives (cos(5,9) < threshold)
    assert(kept === Seq(5L, 9L))
  }

  test("q119 streaming decontamination == batch q59 on the fixture " +
       "corpus, and only corpus docs are flagged") {
    val streamed = StreamingCorpus.decontamViaStreaming(spark, sf)
      .collect()
    val batch = graft.operators.Corpus.decontaminate(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
    streamed.foreach { r =>
      assert(r.getLong(0) >= graft.operators.Corpus.BenchmarkMaxDocId,
        "a benchmark doc leaked into the contamination report")
      assert(r.getLong(1) > 0L, "an uncontaminated doc was reported")
    }
  }

  test("q123 streaming NB scoring == batch q114 on the fixture corpus " +
       "— the published model applied at ingest") {
    val streamed = StreamingCorpus.nbViaStreaming(spark, sf).collect()
    val batch = graft.operators.Classify.nbClassify(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("a replayed micro-batch is a no-op: foreachBatch is " +
       "at-least-once, append-only logs + read-side dedup absorb it") {
    val codebook = Array(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val root = TestTmp.dir("graft-sd-replay-").toString
    val b1 = embDf(Seq((5L, Seq(1.0f, 0.1f), 1)))
    val b2 = embDf(Seq((30L, Seq(0.99f, 0.15f), 2)))
    StreamingCorpus.processSemanticBatch(b1, root, codebook)
    StreamingCorpus.processSemanticBatch(b2, root, codebook)
    val once = StreamingCorpus.resolveSemanticKeep(spark, root)
      .collect().toSeq
    // replay batch 2 wholesale (the at-least-once failure mode)
    StreamingCorpus.processSemanticBatch(b2, root, codebook)
    val replayed = StreamingCorpus.resolveSemanticKeep(spark, root)
      .collect().toSeq
    assert(once.map(_.getLong(0)) === Seq(5L))
    assert(replayed === once, "replay changed the resolved corpus")
  }
}

class StreamingDriftGateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.operators.Corpus
  import graft.streaming.StreamingCorpus

  test("q138 streaming drift gate == batch q118 on the fixture corpus") {
    val streamed = StreamingCorpus.gatedLogProbViaStreaming(spark, sf)
      .collect()
    val batch = Corpus.gatedLogProb(spark, sf).collect()
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  private def feedDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "status", "text")

  test("q138 trajectory: the per-batch verdict starts carry and flips " +
       "to rescore when the accumulated delta crosses the gate; the " +
       "drain acts the final verdict and a replayed batch is a no-op") {
    // prev snapshot: two docs over a 10-token vocabulary, each count 2
    val tokens = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val prevDocs = Seq(1L -> tokens.mkString(" "), 2L -> tokens.mkString(" "))
      .toDF("doc_id", "text")
    val prevTf = Corpus.tfFrom(prevDocs).localCheckpoint(true)
    val prevVocab = Corpus.vocabFromTf(prevTf).localCheckpoint(true)
    val prevScores = Corpus.unigramLogProbFrom(prevDocs).localCheckpoint(true)
    // batch 0 nudges two of ten tokens (moved_share 2/10 = 0.20, not
    // > 0.20; l1 2/22 < 0.10) — the gate must HOLD; batch 1 adds eight
    // unseen tokens (moved 10/18 > 0.20) — the gate must FLIP
    val b0 = feedDf(Seq((3L, "added", "alpha beta")))
    val b1 = feedDf(Seq((4L, "added",
      "mu nu xi omicron pi rho sigma tau")))
    val root = TestTmp.dir("graft-dg-traj-").toString
    StreamingCorpus.initDriftGateRoot(prevVocab, root)
    StreamingCorpus.processDriftGateBatch(b0, 0L, root, prevTf)
    StreamingCorpus.processDriftGateBatch(b1, 1L, root, prevTf)
    val traj = StreamingCorpus.driftGateTrajectory(spark, root).collect()
    assert(traj.map(r => r.getLong(0) -> r.getString(5)).toSeq
      === Seq(0L -> "carry", 1L -> "rescore"),
      "the ingest-time verdict trajectory must hold then flip")
    // the drain acts the FINAL verdict through the shared q118 tail,
    // landing bit-identically on the batch operator over the same diff
    val drained = StreamingCorpus.resolveDriftGate(spark, root,
      prevTf, prevScores).collect()
    val curDocs = prevDocs.unionByName(feedDf(
        Seq((3L, "added", "alpha beta"),
          (4L, "added", "mu nu xi omicron pi rho sigma tau")))
      .select($"doc_id", $"text"))
    val diff = Seq(1L -> "unchanged", 2L -> "unchanged",
      3L -> "added", 4L -> "added").toDF("doc_id", "status")
    val batch = Corpus.gatedLogProbOf(prevTf, prevVocab, prevScores,
      curDocs, Delta(diff, "doc_id")).collect()
    assert(drained.toSeq === batch.toSeq)
    assert(drained.forall(
      _.getAs[String]("maintenance_path") == "rescore"))
    // at-least-once redelivery of batch 1: the epoch-versioned vocab
    // overwrite and read-side dedup make the replay invisible
    StreamingCorpus.processDriftGateBatch(b1, 1L, root, prevTf)
    assert(StreamingCorpus.driftGateTrajectory(spark, root).collect()
      .toSeq === traj.toSeq)
    assert(StreamingCorpus.resolveDriftGate(spark, root,
      prevTf, prevScores).collect().toSeq === drained.toSeq)
  }

  test("q139 streaming IVF gate == batch q110 on the fixture corpus") {
    val streamed = StreamingCorpus.gatedIvfViaStreaming(spark, sf)
      .collect()
    val batch = graft.operators.VectorOps.gatedIvfMaintenance(spark, sf)
      .collect()
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("q139 trajectory: in-distribution arrivals keep the watch flag " +
       "down, a drifted batch raises it, the drain reconstructs the " +
       "snapshot exactly, and a replayed batch is a no-op") {
    import graft.operators.VectorOps
    val cbRows = Array(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val cbDf = cbRows.toSeq.toDF("centroid_id", "cv")
    def vecsOf(rows: Seq[(Long, Seq[Float])]) =
      VectorOps.vecsFrom(rows.toDF("vec_id", "embedding"))
    // prev snapshot: two seed-eligible ids (%100 == 0) + one extra,
    // all snug against the stored centroids (small baseline error)
    val prevRows = Seq(100L -> Seq(1.0f, 0.1f), 200L -> Seq(0.1f, 1.0f),
      7L -> Seq(0.9f, 0.05f))
    val prevVecs = vecsOf(prevRows).localCheckpoint(true)
    val prevAssign = VectorOps.assignCells(prevVecs, cbDf)
      .select($"vec_id", $"cell_id", $"dist2").localCheckpoint(true)
    val baseline = prevAssign
      .agg((sum($"dist2".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(lit(1))).as("m")).head().getDouble(0)
    def feedOf(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("vec_id", "status", "embedding")
    // batch 0: an arrival inside the stored distribution; batch 1: a
    // removal plus an arrival far from every centroid
    val b0 = feedOf(Seq((300L, "added", Seq(1.0f, 0.1f))))
    val b1 = feedOf(Seq((7L, "removed", null),
      (400L, "added", Seq(5.0f, 5.0f))))
    val root = TestTmp.dir("graft-vg-traj-").toString
    StreamingCorpus.processVecGateBatch(b0, 0L, root, cbRows, baseline)
    StreamingCorpus.processVecGateBatch(b1, 1L, root, cbRows, baseline)
    val traj = StreamingCorpus.vecGateTrajectory(spark, root).collect()
    assert(traj.map(r =>
        r.getLong(0) -> r.getAs[Boolean]("watch")).toSeq
      === Seq(0L -> false, 1L -> true),
      "arrival-error early warning must stay down then trip")
    // drain == the batch q110 operator over the directly-built
    // current snapshot (prev - removed + arrivals)
    val drained = StreamingCorpus.resolveVecGate(spark, root,
      prevVecs, prevAssign, cbDf).collect()
    val curDirect = vecsOf(Seq(100L -> Seq(1.0f, 0.1f),
      200L -> Seq(0.1f, 1.0f), 300L -> Seq(1.0f, 0.1f),
      400L -> Seq(5.0f, 5.0f))).localCheckpoint(true)
    val diffDirect = Seq(300L -> "added", 400L -> "added",
      7L -> "removed").toDF("vec_id", "status")
    val batch = VectorOps.gatedIvfMaintenanceOf(prevAssign, curDirect,
      Delta(diffDirect, "vec_id"), cbDf,
      VectorOps.fittedCentroids(curDirect).localCheckpoint(false))
      .collect()
    assert(drained.toSeq === batch.toSeq)
    // replay batch 1: append-only logs + read-side dedup, and the
    // trajectory row recomputes identically from the deduped log
    StreamingCorpus.processVecGateBatch(b1, 1L, root, cbRows, baseline)
    assert(StreamingCorpus.vecGateTrajectory(spark, root).collect()
      .toSeq === traj.toSeq)
    assert(StreamingCorpus.resolveVecGate(spark, root,
      prevVecs, prevAssign, cbDf).collect().toSeq === drained.toSeq)
  }
}

class PartitionedUpsertSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("partitioned upsert only rewrites touched partitions and keeps others") {
    val path = TestTmp.dir("graft-pups-").toString + "/t"
    val day1 = Seq(("d1", "a", 1, 1.0), ("d1", "b", 1, 2.0),
                   ("d2", "a", 1, 3.0))
      .toDF("day", "k", "version", "v")
    UpsertWriter.upsertPartitioned(spark, path, day1,
      Seq("day", "k"), Seq("version"), "day")
    // merge only d2: newer version for (d2, a), new key (d2, b)
    val day2 = Seq(("d2", "a", 2, 30.0), ("d2", "b", 1, 40.0))
      .toDF("day", "k", "version", "v")
    UpsertWriter.upsertPartitioned(spark, path, day2,
      Seq("day", "k"), Seq("version"), "day")
    val rows = spark.read.parquet(path)
      .collect().map(r => (r.getAs[String]("day"), r.getAs[String]("k"))
        -> r.getAs[Double]("v")).toMap
    assert(rows(("d1", "a")) === 1.0) // untouched partition intact
    assert(rows(("d1", "b")) === 2.0)
    assert(rows(("d2", "a")) === 30.0) // newer version won
    assert(rows(("d2", "b")) === 40.0) // inserted
  }
}
