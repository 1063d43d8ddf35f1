package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the hot paths — the properties
  * that matter at cluster scale, pinned so a refactor cannot silently
  * reintroduce a shuffle or drop a broadcast. (Hinted joins are
  * planned statically, so the assertions hold with or without AQE.)
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q47: mega-bucket guard anti-join broadcasts — bands are never reshuffled") {
    val p = plan("q47_lsh_near_dups")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti join:\n${p.take(3000)}")
  }

  test("q128: docs-per-vector guard anti-join broadcasts — the frame→" +
       "vector lookup map is never reshuffled by the guard") {
    // VERDICT r13 item 1: the sameVec/simVec edge paths read the
    // lookup map through the MaxDocsPerVec guard. The oversized list
    // is tiny, so it must broadcast into a left-anti join (the q47
    // shape), and the checkpointed lookup map must appear as an
    // ExistingRDD leaf — never hash-reshuffled to apply the cap.
    val p = plan("q128_crossmodal_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti guard join:\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD"),
      s"lookup map must come from the eager checkpoint:\n${p.take(3000)}")
  }

  test("q130/q131: prefix-filter verify stays keyed — candidates from " +
       "the checkpointed rarity index, nothing cartesian") {
    // pins the UNSORTED pipeline (the registered query wraps it in a
    // verdict-sized checkpoint + presentation sort, so its own visible
    // plan is just Sort-over-ExistingRDD): the rarity-ranked index
    // (df join + ranking window) lives behind its lazy checkpoint;
    // the visible plan is candidate join + verification, which must
    // be keyed joins over ExistingRDD leaves with the pair aggregate
    // hash-partitioned on the pair key
    val fps = operators.Dedup.shingleFps(spark, sf)
    val pipes = Seq(
      "q130" -> operators.Dedup.prefixJaccardPairsOver(fps, "fp",
        operators.Dedup.PrefixJaccardThreshold),
      "q131" -> operators.Dedup.prefixContainmentPairsOver(fps, "fp",
        operators.Dedup.ContainmentThreshold))
    for ((q, df) <- pipes) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"),
        s"$q candidates must read the checkpointed index:\n${p.take(3000)}")
      assert(p.contains("hashpartitioning(doc_a"),
        s"$q pair aggregate must hash-partition on the pair key:\n${p.take(3000)}")
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
        s"$q joins must stay keyed:\n${p.take(3000)}")
    }
    // and the registered queries' visible plans must indeed be the
    // sorted read of the checkpointed verdict table
    for (q <- Seq("q130_prefix_jaccard", "q131_prefix_containment")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD") && !p.contains("Cartesian"),
        s"$q must sort the checkpointed verdicts:\n${p.take(3000)}")
    }
  }

  test("q132/q133: maintenance carries via broadcast anti-joins and " +
       "probes via broadcast — no fp shuffle in the visible plan") {
    // Scope: pins the UNSORTED maintenance plan (the registered query
    // wraps it in a checkpoint + presentation sort). The dirty-sized
    // fp aggregates (dec/inc/touched, and prevDf when derived) DO
    // hash-partition on fp, but they execute behind their own lazy
    // checkpoints, so the assertions below cover the corpus-scale
    // tail: the kept relation must stream through the broadcast
    // probe, never reshuffle on fp.
    val docs = Tables.documents(spark, sf)
    val prev = operators.Corpus.snapshotPrev(docs)
    val cur = operators.Corpus.snapshotCur(docs)
    val diff = operators.Corpus.snapshotDiffDerived(docs)
    val prevFps = operators.Dedup.shingleFpsFrom(prev)
    val pipes = Seq(
      "q132" -> operators.Dedup.incrementalPrefixJaccardPlan(prevFps,
        operators.Dedup.prefixJaccardPairsFrom(prev,
          threshold = operators.Dedup.PrefixJaccardThreshold), cur, diff),
      "q133" -> operators.Dedup.incrementalPrefixContainmentPlan(prevFps,
        operators.Dedup.prefixContainmentPairsFrom(prev), cur, diff))
    for ((q, df) <- pipes) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"$q carried verdicts must map-side anti-join the dirty set:\n${p.take(3000)}")
      assert(!p.contains("hashpartitioning(fp"),
        s"$q: the corpus-scale kept relation must stream through the " +
          s"broadcast probe in the visible plan, never shuffle on fp:\n${p.take(3000)}")
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
        s"$q joins must stay keyed:\n${p.take(3000)}")
    }
  }

  test("q05: dimension joins broadcast, no sort-merge join of facts against dims") {
    val p = plan("q05_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"dims must broadcast, not sort-merge:\n${p.take(3000)}")
  }

  test("q44 exact dedup: exactly one hash-partition shuffle (the groupBy)") {
    val p = plan("q44_exact_dedup")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1,
      s"expected a single hash shuffle, found $hashExchanges:\n${p.take(3000)}")
  }

  test("q49 cosine top-k: the query side is broadcast, corpus scans once") {
    val p = plan("q49_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n${p.take(3000)}")
  }

  test("q04 recent-n compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q04_recent_n")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // the event-type predicate reaches the events parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
      p.take(3000))
  }

  test("q64 shard pack: the doc-level running-sum window is keyed by the pack bucket") {
    // the round-3 scale-killer was Window partitionBy(split) — three
    // partitions funneling the corpus through three tasks. Pin the
    // two-level fix at the plan level: every window over the document
    // stream must partition by (split, pbucket); a split-only window
    // may exist only over the splits×buckets offsets aggregate, whose
    // input is bounded. Detect the regression structurally: a window
    // spec mentioning split but NOT pbucket must not sit above a scan
    // of the documents table.
    val p = plan("q64_shard_pack")
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toList
    assert(specs.nonEmpty, s"no window in the q64 plan:\n${p.take(3000)}")
    // windowspecdefinition prints partition columns first, then the
    // ordering (each order column tagged ASC/DESC) — so the partition
    // key is the prefix before the first ASC/DESC. The regression to
    // pin: a window ORDERED over the doc stream (doc_id in the order
    // clause) whose PARTITION key is split alone — that's the round-3
    // global window, even though its string happens to contain
    // "pbucket" as an order column. The offsets window (partition
    // split, order pbucket, no doc_id) stays legitimate: its input is
    // the bounded splits×buckets aggregate.
    val docLevel = specs.filter { s =>
      // prefix up to the first ASC/DESC = partition cols + the FIRST
      // order col (which directly precedes its tag); drop that last
      // comma-segment to get the partition key alone
      val cut = Seq(s.indexOf(" ASC"), s.indexOf(" DESC"))
        .filter(_ >= 0).minOption.getOrElse(s.length)
      val partitionCols = s.take(cut).split(",").dropRight(1).mkString(",")
      if (s.contains("doc_id"))
        assert(partitionCols.contains("pbucket"),
          s"doc-stream window partitioned without the pack bucket " +
            s"(global-window regression): $s")
      partitionCols.contains("pbucket")
    }
    assert(docLevel.nonEmpty,
      "no window partitioned by pbucket — the two-level packing was removed?")
  }

  test("q79 seq pack: the doc-level running-sum window is keyed by the " +
       "pack bucket (q64's two-level discipline)") {
    // same structural pin as q64: a window ORDERED over the doc
    // stream (doc_id in the order clause) must partition by pbucket,
    // or one split's token stream funnels through a single task
    val p = plan("q79_seq_pack")
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toList
    assert(specs.nonEmpty, s"no window in the q79 plan:\n${p.take(3000)}")
    val docLevel = specs.filter { s =>
      val cut = Seq(s.indexOf(" ASC"), s.indexOf(" DESC"))
        .filter(_ >= 0).minOption.getOrElse(s.length)
      val partitionCols = s.take(cut).split(",").dropRight(1).mkString(",")
      if (s.contains("doc_id"))
        assert(partitionCols.contains("pbucket"),
          s"doc-stream window partitioned without the pack bucket: $s")
      partitionCols.contains("pbucket")
    }
    assert(docLevel.nonEmpty,
      "no window partitioned by pbucket — the two-level packing was removed?")
  }

  test("q80 bpe pairs: word counts partial-aggregate and the top-k is " +
       "a TakeOrderedAndProject, never a global sort") {
    val p = plan("q80_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-task heaps + merge, not a full sort:\n${p.take(3000)}")
    assert(p.contains("HashAggregate"),
      s"word/pair counts must hash-aggregate (map-side combine):\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>")
      || p.contains("ReadSchema: struct<text:string>"),
      s"the scan must prune to the text column:\n${p.take(3000)}")
  }

  test("q82 repeated spans: fingerprints come from the one-pass " +
       "Generator and the rollups hash-aggregate — no cartesian anywhere") {
    val p = plan("q82_repeated_spans")
    assert(p.contains("Generate"),
      s"the winnow Generator must produce the fps (no explode+window):\n" +
        p.take(3000))
    assert(p.contains("HashAggregate"),
      s"fp counts and per-doc rollups must hash-aggregate:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs anything belongs in the span audit:\n${p.take(3000)}")
  }

  test("q72 chunking: row-local generate — the only exchange is the " +
       "oracle's final sort, and the scan prunes to (doc_id, text)") {
    val p = plan("q72_chunk_docs")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges === 1, // rangepartitioning for the ORDER BY only
      s"chunking must not shuffle data (1 sort exchange expected), " +
        s"found $exchanges:\n${p.take(3000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no hash shuffle belongs in a row-local generate:\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two used columns:\n${p.take(3000)}")
  }

  test("q73 repetition: every aggregate and window keys on doc_id — " +
       "no global token/line table is ever built") {
    val p = plan("q73_repetition_stats")
    val hashParts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(hashParts.nonEmpty, p.take(3000))
    hashParts.foreach { spec =>
      assert(spec.contains("doc_id"),
        s"a shuffle not keyed by doc_id would concentrate hot " +
          s"tokens/lines globally: $spec\n${p.take(3000)}")
    }
  }

  test("q77 source cap: rank-filter compiles to WindowGroupLimit — " +
       "each side of the exchange keeps only N rows per source") {
    val p = plan("q77_source_cap")
    assert(p.contains("WindowGroupLimit"),
      s"the cap must push per-key top-N below the shuffle, or a " +
        s"billion-doc domain ships whole:\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"the window frame must stay doc_id-thin (text never enters):\n" +
        p.take(3000))
  }

  test("q78 label coherence: centroid aggregate combines map-side " +
       "(ObjectHashAggregate partial+final) and the score-back join broadcasts") {
    val p = plan("q78_label_coherence")
    val aggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 2,
      s"graft_vec_avg must partial-aggregate (shuffle = labels×dim, " +
        s"not rows×dim), found $aggs ObjectHashAggregate nodes:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the labels-sized centroid table must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-wide sort belongs in the score-back:\n${p.take(3000)}")
  }

  test("q69: candidates join hash-partitioned on cell_id, never cartesian") {
    // the centroid broadcast lives inside the localCheckpoint'd
    // assignment subtree (invisible here by design — the checkpoint
    // truncates lineage); the final plan must show the cell-blocked
    // self-join as a hash join keyed on cell_id with no cartesian
    val p = plan("q69_ivf_near_dups")
    assert(!p.contains("CartesianProduct"),
      s"corpus-side cartesian in the cell-blocked path:\n${p.take(3000)}")
    // the candidate join may plan as broadcast (small side) or
    // shuffled (at scale) — either way its KEYS must be cell_id
    val joinKeyed = p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("cell_id"))
    assert(joinKeyed, s"candidate join must be keyed on cell_id:\n${p.take(3000)}")
  }

  test("bounded re-clean prunes the Bronze store scan to the touched dates") {
    // refineSilver(sinceDs) must push the ds predicate into partition
    // pruning — the property that makes the incremental clean a
    // day-sized job at any store size (Pipeline scaladoc)
    val root = TestTmp.dir("graft-prune-").toString + "/wh"
    val wh = Pipeline.Warehouse(root)
    Pipeline.ingestEvents(spark, sf, wh)
    val cut = java.time.LocalDate.of(2024, 1, 15)
    val bounded = spark.read.parquet(wh.bronze)
      .filter(org.apache.spark.sql.functions.col("ds")
        >= java.sql.Date.valueOf(cut))
    val scans = bounded.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val selected = scans.head.selectedPartitions.partitionCount
    val total = spark.read.parquet(wh.bronze).queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head.selectedPartitions.partitionCount
    assert(selected < total,
      s"scan read $selected of $total partitions — ds pruning inert")
    assert(selected === total - 14, // Jan 1-14 pruned away
      s"expected all but the 14 leading date partitions, got $selected/$total")
  }

  test("q66 frame sampling is a Generate pass — no typed-object boundary") {
    // the mapPartitions formulation paid DeserializeToObject/
    // SerializeFromObject per row; the FrameSample Generator keeps the
    // whole pass inside Tungsten rows (VERDICT r5 item 5)
    val p = plan("q66_frame_sample")
    assert(p.contains("Generate"), s"expected a Generate node:\n${p.take(3000)}")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"q66 must not cross the typed-object boundary:\n${p.take(3000)}")
  }

  test("q83 ppl buckets: boundary join broadcasts, no per-lang window") {
    // the scale trap here is NTILE over a lang partition — one task
    // per language. The boundary-broadcast design must show up as: a
    // broadcast join back onto the scored stream, and NO window
    // operator anywhere in the plan.
    val p = plan("q83_ppl_buckets")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"),
      s"q83 must bucket via broadcast boundaries, not a window:\n${p.take(3000)}")
  }

  test("q84 snapshot diff: one co-partitioned full-outer join, nothing " +
       "cartesian") {
    val p = plan("q84_snapshot_diff")
    assert(p.contains("FullOuter"), p.take(3000))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"the diff must stay a keyed join:\n${p.take(3000)}")
  }

  test("q85 containment: pair aggregate keyed on (doc_a, doc_b), " +
       "nothing cartesian") {
    // the hot-shingle LeftAnti guard sits behind the kernel's
    // localCheckpoint (plan-truncated, like q45's), and the registered
    // query now also checkpoints the verdicts before its presentation
    // sort — so pin the kernel's OWN plan: a hash-partitioned pair
    // aggregate and keyed joins only.
    val p = operators.Dedup.pairOverlap(
        operators.Dedup.shingleFps(spark, sf), "fp")
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(doc_a"),
      s"pair aggregate must hash-partition on the pair key:\n${p.take(3000)}")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"the pair join must stay keyed:\n${p.take(3000)}")
    val outer = plan("q85_containment_pairs")
    assert(outer.contains("Scan ExistingRDD") && !outer.contains("Cartesian"),
      s"q85 must sort the checkpointed verdicts:\n${outer.take(3000)}")
  }

  test("q90 containment over LSH: candidates come from the banded " +
       "buckets — no all-pairs fp self-join anywhere") {
    val p = plan("q90_containment_lsh")
    assert(p.contains("band_val"),
      s"candidate join must be keyed by band bucket:\n${p.take(3000)}")
    // q85's all-pairs shape shows up as a join/aggregate partitioned
    // on fp ALONE; in q90 fp only ever appears alongside doc_b in the
    // verification join key
    assert(!p.contains("hashpartitioning(fp"),
      s"found an fp-keyed exchange — the all-pairs join shape:\n${p.take(3000)}")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"candidate and verification joins must stay keyed:\n${p.take(3000)}")
  }

  test("q88 incremental scores: the carry-forward is a broadcast " +
       "anti-join — the stored table is never reshuffled") {
    val p = plan("q88_incremental_scores")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"carried rows must map-side anti-join the dirty set:\n${p.take(3000)}")
  }

  test("q91 incremental IVF: the carry-forward is a broadcast " +
       "anti-join and the dirty slice a broadcast semi — the stored " +
       "assignment table is never reshuffled") {
    val p = plan("q91_incremental_ivf")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"carried rows must map-side anti-join the dirty set:\n${p.take(3000)}")
    // the only nested-loop join allowed is the broadcast codebook
    // cross on the assign side; the corpus must never cartesian
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q92 incremental logprob: the stored tf carries under a " +
       "broadcast anti-join and only the dirty slice is tokenized") {
    val p = plan("q92_incremental_logprob")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stored tf must map-side anti-join the dirty set:\n${p.take(3000)}")
    // tokenization (Generate explode) runs exactly once, inside the
    // checkpointed dirty-slice tf — the maintenance plan itself reads
    // only RDD scans of stored/delta state, never raw text (the
    // poison spec in CorpusSpec proves the gating; this pins that no
    // full-corpus tokenize leaked back into the maintenance DAG)
    val generates = "Generate explode".r.findAllIn(p).size
    assert(generates === 0,
      s"found $generates tokenize subtrees above the checkpoint barrier:\n${p.take(3000)}")
  }

  test("q93 semantic dedup: the drop list broadcasts — the corpus " +
       "never reshuffles for the keep") {
    val p = plan("q93_semantic_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"keep must be a map-side anti-join of the drop list:\n${p.take(3000)}")
  }

  test("q94 incremental heavy hitters: top-k stays a TakeOrdered and " +
       "the maintained counters broadcast to the probe") {
    val p = plan("q94_incremental_hh")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut must never be a global sort:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the maintained counter table must broadcast:\n${p.take(3000)}")
    // the sketch-row explode ([0,1,2,3]) is expected; TEXT tokenize
    // (explode(split ...)) must stay behind the delta checkpoint
    assert("Generate explode\\(split".r.findAllIn(p).isEmpty,
      s"tokenize leaked above the delta checkpoint:\n${p.take(3000)}")
  }

  test("q95 incremental semantic dedup: dirty sets and affected cells " +
       "broadcast — stored tables never reshuffle") {
    // the named query's visible plan is truncated by the CC stage's
    // iterative checkpoints, so pin the pair-maintenance core (the
    // part with the scale-relevant joins) directly
    import spark.implicits._
    import graft.operators.VectorOps
    // checkpoint the stored-state frames: as pure LocalRelations the
    // optimizer would pre-evaluate the carry anti-joins driver-side
    // (ConvertToLocalRelation) and the pin would see nothing
    val cb = Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val prevAssignN = Seq((1L, 0L), (8L, 1L)).toDF("vec_id", "cell_id")
      .localCheckpoint(true)
    val prevPairs = Seq((1L, 8L)).toDF("vec_a", "vec_b")
      .localCheckpoint(true)
    val diff = Seq((1L, "unchanged"), (8L, "unchanged"), (30L, "added"))
      .toDF("vec_id", "status").localCheckpoint(true)
    val curVecs = VectorOps.vecsFrom(Seq(
      (1L, Seq(1.0f, 0.0f)), (8L, Seq(0.0f, 1.0f)), (30L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding"))
    val p = VectorOps.incrementalSemanticPairs(prevAssignN, prevPairs,
      curVecs, diff, cb).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"pair carry must map-side anti-join the dirty set:\n${p.take(3000)}")
    assert(p.contains("LeftSemi"),
      s"regen must be gated by the broadcast affected-cell set:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"nothing may cartesian in the maintenance plan:\n${p.take(3000)}")
  }

  test("q86 heavy hitters: top-k is a TakeOrdered, the counter probe " +
       "broadcasts") {
    val p = plan("q86_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut must never be a global sort:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the 4x1024 counter table must broadcast to the probe:\n${p.take(3000)}")
  }

  test("q98 train order: one shard-hash exchange feeds the position " +
       "window — no global sort before the gate ORDER BY") {
    val p = plan("q98_train_order")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1,
      s"the shard key must be the only hash shuffle:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(shard_id"),
      s"window must partition by shard_id:\n${p.take(3000)}")
  }

  test("q100 epoch plan: position window, running sum, and the " +
       "per-shard aggregate all reuse the one shard-hash exchange") {
    val p = plan("q100_epoch_plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1,
      s"stacked windows + aggregate share the shard partitioning:\n${p.take(3000)}")
  }

  test("q102 incremental decontamination: the carry is a broadcast " +
       "anti-join of the stored counts against the dirty set") {
    val p = plan("q102_incremental_decontam")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stored counts must carry map-side:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q99 cross-source matrix: the pair side broadcasts into both " +
       "source lookups — the documents scan is never reshuffled") {
    val p = plan("q99_cross_source_dups")
    assert(p.contains("BroadcastHashJoin"),
      s"pair lookups must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must stream, not sort-merge:\n${p.take(3000)}")
  }

  test("q103 canonical keep: member fetch, keeper join, and drop list " +
       "all broadcast — the corpus pays one map-side anti-join, no " +
       "window, no sort-merge") {
    val p = plan("q103_canonical_keep")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the keep must be a map-side anti-join of the drop list:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"cluster-member joins must broadcast, not sort-merge:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"keeper selection must be a struct-max aggregate, not a window:\n${p.take(3000)}")
  }

  test("q105 centroid drift: both assignment passes are broadcast-" +
       "codebook scans joined on vec_id — no cartesian, no corpus-" +
       "wide window") {
    val p = plan("q105_centroid_drift")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"),
      s"the codebook must broadcast into the assignment scans:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"argmin must be the min-struct aggregate, not a window rank:\n${p.take(3000)}")
  }

  test("q108 bigram logprob: the bigram build is row-local — no " +
       "window, no position self-join; model joins are keyed") {
    val p = plan("q108_bigram_logprob")
    assert(!p.contains("Window"),
      s"adjacent pairs must come from the token array, not a window:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q109 incremental bigram: the stored table carries under a " +
       "broadcast anti-join and only the dirty slice re-tokenizes") {
    val p = plan("q109_incremental_bigram")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stored bigrams must map-side anti-join the dirty set:\n${p.take(3000)}")
    // the tokenize+pair Generate lives inside the checkpointed
    // dirty-slice subtree; the visible maintenance plan reads leaves
    assert(!p.contains("Generate"),
      s"corpus tokenization leaked above the delta checkpoint:\n${p.take(3000)}")
  }

  test("q111 incremental cross-source matrix: the published pair " +
       "table broadcasts into both source lookups and no maintenance " +
       "runs in the consumer plan") {
    // publish-once discipline (VERDICT r10 item 1): maintenance is
    // q89's job; q111 is a rollup over the PUBLISHED pair table. The
    // pair side must appear as a checkpointed leaf (ExistingRDD)
    // broadcast into the source lookups — no signing Generate, no
    // banding aggregate, no verification join in the consumer's plan.
    val p = plan("q111_incremental_xsource")
    assert(p.contains("BroadcastHashJoin"),
      s"the pair table must broadcast into the source lookups:\n${p.take(3000)}")
    assert(p.contains("least(") && p.contains("greatest("),
      s"normalized source projection missing:\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD"),
      s"pairs must come from the published checkpoint:\n${p.take(3000)}")
    assert(!p.contains("Generate"),
      s"signing leaked into the consumer plan:\n${p.take(3000)}")
  }

  test("q107 incremental containment: the consumer reads the " +
       "published verdict table — zero signing/banding/verification " +
       "jobs, zero file scans") {
    // publish-once discipline (VERDICT r10 item 1): the consumer plan
    // is exactly a presentation sort over the published checkpoint.
    // The maintenance joins (broadcast-anti carry, semi-join verdict
    // ride — still pinned by the sentinel specs on
    // incrementalContainmentOf) live in the publisher, not here.
    val p = plan("q107_incremental_containment")
    assert(p.contains("Scan ExistingRDD"),
      s"verdicts must come from the published checkpoint:\n${p.take(3000)}")
    assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
      s"consumer must not rescan the corpus:\n${p.take(3000)}")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("Generate"),
      s"maintenance work leaked into the consumer plan:\n${p.take(3000)}")
  }

  test("q104 incremental canonical keep: cluster labels come from the " +
       "published pair table, no signing in the consumer plan") {
    val p = plan("q104_incremental_canonical")
    assert(p.contains("Scan ExistingRDD"),
      s"pairs/labels must come from published state:\n${p.take(3000)}")
    assert(!p.contains("Generate"),
      s"signing leaked into the consumer plan:\n${p.take(3000)}")
  }

  test("q101 keeper stage reads the published labels — one broadcast " +
       "anti-join, zero signing/banding/verification/CC jobs in the " +
       "consumer plan") {
    // publish-once discipline (VERDICT r12 item 1): the keeper stage
    // of the composed training corpus is q89's min-id policy over the
    // PUBLISHED label table, not a re-run of the maintenance
    // machinery. The labels must appear as a checkpointed leaf
    // (ExistingRDD) broadcast-anti-joined against the corpus scan.
    val p = graft.operators.Dedup.publishedKeepCorpus(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"keeper must be one broadcast anti-join:\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD"),
      s"labels must come from the published checkpoint:\n${p.take(3000)}")
    assert(!p.contains("Generate"),
      s"signing leaked into the consumer plan:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"the drop list must broadcast, not sort-merge:\n${p.take(3000)}")
  }

  test("q101 composed corpus plan: every maintained stage is a " +
       "published leaf — no signing Generate, no window, no cartesian " +
       "above the checkpoints") {
    val p = plan("q101_incremental_corpus")
    assert(!p.contains("Generate"),
      s"maintenance tokenization leaked into the composed plan:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD"),
      s"stages must come from checkpointed leaves:\n${p.take(3000)}")
  }

  test("q112 incremental tfidf: the stored tf carries under a " +
       "broadcast anti-join and no tokenize leaks above the delta " +
       "checkpoint") {
    val p = plan("q112_incremental_tfidf")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stored tf must map-side anti-join the dirty set:\n${p.take(3000)}")
    assert(!p.contains("Generate"),
      s"corpus tokenization leaked above the delta checkpoint:\n${p.take(3000)}")
  }

  test("q113 span dedup: row-local span construction, no cartesian — " +
       "the only corpus-keyed work is the fp aggregate and its " +
       "output-sensitive join") {
    val p = plan("q113_span_dedup")
    assert(p.contains("Generate"),
      s"span construction must be a row-local explode:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"canonical selection must be the MIN-struct aggregate, not a window:\n${p.take(3000)}")
  }

  test("q114 NB classifier: the class list broadcasts into the corpus " +
       "tf; the vocab-sized word-count join is keyed, never a " +
       "cartesian") {
    val p = plan("q114_nb_classifier")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the class/vocab-size scalars must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q115 incremental span dedup: stored output carries broadcast-" +
       "anti, affected sets gate semi-joins, no cartesian") {
    val p = plan("q115_incremental_spandedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the stored output must map-side anti-join the affected set:\n${p.take(3000)}")
    assert(p.contains("LeftSemi"),
      s"candidate gating must be semi-joins:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q116 incremental NB: the per-call plan scores against the " +
       "published maintained state — no tokenize, no carry re-run") {
    // Since r17 the maintained tf + derived model memoize per corpus
    // fingerprint (VERDICT r16 item 1 — the q114/q129/q99
    // published-artifact discipline): the carry anti-join and the
    // delta merge run ONCE inside the maintained-state derivation
    // (whose shape maintainedNbState documents and the sentinel
    // carry specs prove behaviorally), so the visible per-call plan
    // must be the rescore alone, reading the maintained tf as a
    // checkpointed leaf. The r16 assertion that LeftAnti appears in
    // THIS plan is scoped away exactly as the r16 fp-shuffle pin was
    // (ADVICE r15): asserting it here would force the maintenance to
    // re-run per call — the defect the memo removed.
    val p = plan("q116_incremental_nb")
    assert(p.contains("ExistingRDD"),
      s"the rescore must read the published maintained state:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"scoring joins must stay map-side:\n${p.take(3000)}")
    assert(!p.contains("Generate"),
      s"corpus tokenization leaked above the delta checkpoint:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q120 PQ encoding: the codebook broadcasts into one corpus " +
       "scan — no cartesian, no window (argmin is the min-struct " +
       "aggregate)") {
    val p = plan("q120_pq_codes")
    assert(p.contains("BroadcastHashJoin"),
      s"the PQ codebook must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
    assert(!p.contains("RunningWindowFunction") &&
      !p.contains("Window "),
      s"argmin must be the min-struct aggregate, not a window:\n${p.take(3000)}")
  }

  test("q121 ADC search: the distance LUT broadcasts into the codes " +
       "scan — the read path never touches full-precision corpus " +
       "vectors beyond encoding") {
    val p = plan("q121_pq_adc_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"the ADC LUT must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q122 IVF-PQ: probes and LUT both broadcast — the read path " +
       "is map-side joins over the code table, no cartesian") {
    val p = plan("q122_ivfpq_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"probes/LUT must broadcast into the code scan:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }

  test("q125 incremental PQ: the stored code table carries under a " +
       "broadcast anti-join; only the dirty slice re-encodes") {
    val p = plan("q125_incremental_pq")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stored codes must map-side anti-join the dirty set:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"found an unbroadcast cartesian:\n${p.take(3000)}")
  }
}
