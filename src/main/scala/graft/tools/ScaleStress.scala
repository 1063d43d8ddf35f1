package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Classify, Corpus, Dedup, VectorOps, Weather}

/** Dev scratch: 10× data amplification (≈ sf1 from sf0.1) to observe
  * how the core pipelines scale — the "would this survive 100×"
  * check run empirically. Replication extends the time axis for events
  * (same per-hour density, 10× the groups) and suffixes documents
  * (near-dup structure preserved per replica).
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local("graft-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    import graft.syntax._

    def time[T](label: String)(f: => T): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // opt-in EXCLUSIVE mode: the q126 delta-vs-recount CROSSOVER at a
    // PRODUCTION vocabulary. The fixture corpus has ~41 distinct
    // words, so the per-round recount is floor-bound and the delta
    // arm's extra bookkeeping can't pay for itself — the regime that
    // motivates delta maintenance is a real tokenizer train (millions
    // of distinct words, 30k merge rounds). This mode synthesizes a
    // V-word Zipf vocabulary directly at the word-table level (the
    // corpus pass is not what's being measured) and runs 5 rounds of
    // both arms. Args: "<dir> <V> bpevocab", e.g. 2000000.
    if (args.contains("bpevocab")) {
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val v = reps.toLong.max(1000L)
      // word i = the base-20 digits of i spelled as letters, so word
      // lengths grow log(V) and pair structure is realistic; Zipf-ish
      // counts keep a meaningful top pair
      var words = spark.range(v)
        .select(array_join(expr(
          "transform(sequence(1, length(conv(id, 10, 20))), " +
            "i -> chr(97 + CAST(conv(substring(conv(id, 10, 20), i, 1), 20, 10) AS INT)))"),
          "  ").as("repr"),
          (lit(v) / (col("id") + 1L)).cast("long").as("cnt"))
        .groupBy($"repr").agg(sum($"cnt").as("cnt"))
        .localCheckpoint(true)
      println(s"synthetic vocab: ${words.count()} distinct words")
      var pc: DataFrame = null
      time("round-0 full pair recount (paid once either way)") {
        pc = Corpus.bpePairRecount(words).localCheckpoint(true)
        println(s"  distinct pairs: ${pc.count()}")
      }
      var dSum = 0.0; var rSum = 0.0
      for (round <- 1 to 5) {
        val top = pc.orderBy($"pair_count".desc, $"pair".asc)
          .limit(1).collect()(0)
        val pair = top.getString(0); val support = top.getLong(1)
        var pcNext: DataFrame = null
        val tDelta = secs {
          pcNext = Corpus.bpeFoldDeltas(pc,
            Corpus.bpePairDeltas(words, pair)).localCheckpoint(true)
        }
        words = Corpus.bpeApplyMerge(words, pair).localCheckpoint(true)
        val tRecount = secs(
          Corpus.bpePairRecount(words).localCheckpoint(true))
        pc = pcNext
        dSum += tDelta; rSum += tRecount
        println(f"  round $round: merged '$pair' support $support%9d | " +
          f"delta-fold $tDelta%.2f s vs full recount $tRecount%.2f s")
      }
      println(f"bpe vocab=$v: 5-round delta-fold sum $dSum%.2f s vs " +
        f"recount sum $rSum%.2f s, ratio ${dSum / rSum}%.2f")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the q134/q135 per-batch cost receipt
    // (VERDICT r16 item 2) — K equal micro-batches driven through BOTH
    // streaming exact-pair harness shapes. The receipt is per-batch
    // wall by batch index: the fp-sharded MAINTAINED path (production)
    // must stay ~flat in k — its cost tracks the batch's content — and
    // double with batch size across the grid, while the r16
    // full-recount baseline grows with the accumulated log (stream
    // length). Both drains must agree. Args: "<dir> <reps> xpair".
    if (args.contains("xpair")) {
      import graft.streaming.{StreamingClean, StreamingCorpus}
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val nBatches = 16
      for (mult <- Seq(1, 2)) {
        val amp = reps * mult
        // TOKEN-disjoint replicas (every token suffixed with its rep):
        // vocabulary and stream length scale ×amp while the true pair
        // mass stays the fixture's own (per rep) — clone-style suffix
        // amplification would instead make every doc a amp-family of
        // near-dups and the probe's output-sensitive pair work (paid
        // identically by both shapes) would drown the state-cost
        // curves this receipt exists to show
        val adocs = graft.Tables.documents(spark, dir)
          .withColumn("rep", explode(sequence(lit(0), lit(amp - 1))))
          .withColumn("doc_id", $"doc_id" * amp + $"rep")
          .withColumn("text", expr(
            "array_join(transform(split(text, ' '), " +
              "t -> concat(t, '_', rep)), ' ')"))
          .drop("rep")
          .localCheckpoint(true)
        val total = adocs.count()
        println(s"xpair grid ×$amp: $total docs in $nBatches batches of " +
          s"~${total / nBatches}")
        val batches = (0 until nBatches).map(k =>
          adocs.filter($"doc_id" % nBatches === k).localCheckpoint(true))
        val shapes = Seq(
          "maintained" -> (StreamingCorpus.processPrefixPairBatch _),
          "recount   " -> (StreamingCorpus.processPrefixPairBatchRecount _))
        val roots = shapes.map { case (label, process) =>
          val root = StreamingClean.trackedTempDir(s"graft-xpair-")
          val ts = batches.zipWithIndex.map { case (b, k) =>
            val t = secs(process(b, root))
            println(f"  ×$amp $label batch ${k + 1}: $t%.2f s")
            t
          }
          println(f"  ×$amp $label: first-half sum " +
            f"${ts.take(nBatches / 2).sum}%.2f s vs second-half sum " +
            f"${ts.drop(nBatches / 2).sum}%.2f s")
          label -> root
        }
        val drained = roots.map { case (label, root) =>
          StreamingCorpus.resolvePrefixPairs(spark, root).count()
        }
        println(s"  ×$amp drained pair counts: ${drained.mkString(" vs ")}" +
          (if (drained.distinct.size == 1) " (equal)" else " MISMATCH"))
      }
      spark.stop()
      return
    }

    // events ×reps: shift each replica by `rep` months of seconds so
    // hour-group density stays constant while group count scales
    val events = graft.Tables.events(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("event_id", $"event_id" * reps + $"rep")
      .withColumn("ts", expr("timestampadd(SECOND, rep * 2678400, ts)"))
      .drop("rep")
    val bronze = Weather.bronzeFromEvents(events)
    println(s"events rows: ${events.count()}")
    time("silver clean (kernel)")(Weather.cleanToHourly(bronze).count())

    val docs = graft.Tables.documents(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("doc_id", $"doc_id" * reps + $"rep")
      .withColumn("text", concat($"text", lit(" r"), $"rep"))
      .drop("rep")
    println(s"docs rows: ${docs.count()}")
    // opt-in EXCLUSIVE mode: q89 at 10× with a LOW (~1.9%) dirty
    // fraction — the regime incremental maintenance exists for (the
    // default 17/19/13 mods dirty ~18% of the corpus, the documented
    // worst case under clone amplification). Interleaved A/B passes so
    // co-load hits both sides symmetrically; the per-side MIN is the
    // steady-state figure and the ratio of mins is the receipt. Runs
    // only this measurement, then exits. Arg: "q89lowdirty".
    if (args.contains("q89lowdirty")) {
      val prevLd = docs.filter($"doc_id" % 170L =!= 3L)
      val curLd = docs.filter($"doc_id" % 190L =!= 7L)
      val prevDig = prevLd.select($"doc_id",
        md5(when($"doc_id" % 130L === 5L, concat($"text", lit(":prev")))
          .otherwise($"text").cast("binary")).as("prev_digest"))
      val curDig = curLd.select($"doc_id",
        md5($"text".cast("binary")).as("cur_digest"))
      val diffLd = Corpus.snapshotDiffOf(prevDig, curDig)
        .localCheckpoint(true)
      diffLd.groupBy($"status").count().orderBy($"status").collect()
        .foreach(r => println(s"  low-dirty diff ${r.get(0)}: ${r.get(1)}"))
      var idxLd: (DataFrame, DataFrame, DataFrame, DataFrame) = null
      time("q89 low-dirty stored-index build (not charged)") {
        idxLd = Dedup.indexState(prevLd)
      }
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      for (p <- 1 to 3) {
        val (tf, nf) = secs(
          Dedup.dedupKeepCorpusFrom(curLd, Dedup.dedupClustersFrom(
            Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(curLd)
              .localCheckpoint(false)).select($"doc_a", $"doc_b"))).count())
        val (ti, ni) = secs(
          Dedup.incrementalKeepCorpusOf(idxLd._1, idxLd._2, idxLd._3,
            idxLd._4, curLd, diffLd).count())
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental kept-corpus diverged: $incrN vs full $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      println(f"q89 low-dirty 10x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(rows $fullN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q91 at 50× vectors (100k, ~850 cells) —
    // the regime where the assignment pass is the cost (at the named
    // query's 2k vectors one broadcast-argmin pass is ~0.2 s and the
    // carry join's stage floor matches it). Interleaved A/B passes,
    // per-side min, ratio of mins — the q89lowdirty protocol. Arg:
    // "q91deep".
    if (args.contains("q91deep")) {
      val mul = reps * 5
      val corpus = graft.Tables.embeddings(spark, dir)
        .withColumn("rep", explode(sequence(lit(0), lit(mul - 1))))
        .withColumn("vec_id", $"vec_id" * mul + $"rep")
        .drop("rep")
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", expr("graft_l2norm(v)"))
        .localCheckpoint(true)
      println(s"embeddings rows (deep): ${corpus.count()}")
      var cb: DataFrame = null
      time("q91deep sample codebook fit (offline, not charged)") {
        cb = VectorOps.fittedCentroids(
          VectorOps.vecSnapshotSample(corpus).localCheckpoint(false))
          .localCheckpoint(true)
        println(s"  cells: ${cb.count()}")
      }
      var prevAssign: DataFrame = null
      time("q91deep stored assignment build (not charged)") {
        prevAssign = VectorOps.assignCellsThin(
          VectorOps.vecSnapshotPrev(corpus), cb).localCheckpoint(true)
      }
      val diff = VectorOps.vecSnapshotDiff(corpus).localCheckpoint(true)
      diff.groupBy($"status").count().orderBy($"status").collect()
        .foreach(r => println(s"  diff ${r.get(0)}: ${r.get(1)}"))
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      val cur = VectorOps.vecSnapshotCur(corpus)
      for (p <- 1 to 3) {
        val (tf, nf) = secs(VectorOps.assignCellsThin(cur, cb).count())
        val (ti, ni) = secs(VectorOps.incrementalIvfAssignOf(
          prevAssign, cur, diff, cb).count())
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental assignment diverged: $incrN vs full $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      println(f"q91 deep ${mul}x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(rows $fullN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the SEMANTIC dedup family at 10× vectors —
    // q95's incremental/full ratio under the q89lowdirty protocol
    // (interleaved A/B, per-side min, spread printed). The stored
    // index (sample codebook, N-probe assignment, verified pairs) is
    // built once and not charged — production loads it.
    //
    // Two regimes, because the affected-cell premise is
    // |dirty| × probes ≪ cells = N/100:
    //   "q93deep"     — the default snapshot mods (~18% dirty): every
    //                   cell is affected, so maintenance ≈ rebuild +
    //                   overhead. This IS the documented
    //                   rebuild-trigger regime — the measured ratio is
    //                   the price of ignoring q105's refit verdict.
    //   "q93lowdirty" — ~0.25% dirty: the nightly-crawl regime the
    //                   operator exists for.
    if (args.contains("q93deep") || args.contains("q93lowdirty")) {
      val lowDirty = args.contains("q93lowdirty")
      val emb10 = graft.Tables.embeddings(spark, dir)
        .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
        .withColumn("vec_id", $"vec_id" * reps + $"rep")
        .drop("rep")
        .localCheckpoint(true)
      val corpus = VectorOps.vecsFrom(emb10).localCheckpoint(true)
      println(s"embeddings rows (deep): ${corpus.count()}")
      // snapshot mods: the shared Corpus defaults (~18% dirty), or the
      // ~0.25% low-dirty triple in q93lowdirty mode
      val (addMod, addRes) = if (lowDirty) (1200L, 3L)
        else (Corpus.SnapAddedMod.toLong, Corpus.SnapAddedRes.toLong)
      val (remMod, remRes) = if (lowDirty) (1240L, 7L)
        else (Corpus.SnapRemovedMod.toLong, Corpus.SnapRemovedRes.toLong)
      val (chgMod, chgRes) = if (lowDirty) (1160L, 5L)
        else (Corpus.SnapChangedMod.toLong, Corpus.SnapChangedRes.toLong)
      val prevV = corpus.filter($"vec_id" % addMod =!= addRes)
      val curV = corpus.filter($"vec_id" % remMod =!= remRes)
        .localCheckpoint(true)
      var cb: Array[(Long, Seq[Double])] = null
      time("q93deep sample codebook fit (offline, not charged)") {
        cb = VectorOps.fittedCentroids(
          corpus.filter($"vec_id" % addMod =!= addRes
              && $"vec_id" % remMod =!= remRes
              && $"vec_id" % chgMod =!= chgRes)
            .localCheckpoint(false))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        println(s"  cells: ${cb.length}")
      }
      var prevAssignN: DataFrame = null
      var prevPairs: DataFrame = null
      time("q93deep stored index build (prev nightly run, not charged)") {
        val prev = prevV.localCheckpoint(false)
        prevAssignN = VectorOps.assignCellsProbes(prev, cb,
            VectorOps.NearDupProbes)
          .select($"vec_id", $"cell_id").localCheckpoint(true)
        prevPairs = VectorOps.ivfNearDupPairsProbes(prev, cb,
            VectorOps.NearDupProbes)
          .select($"vec_a", $"vec_b").localCheckpoint(true)
      }
      val contentStr = concat_ws(",",
        expr("transform(v, x -> CAST(x AS STRING))"))
      val prevDig = prevV.select($"vec_id".as("doc_id"),
        md5(when($"vec_id" % chgMod === chgRes,
              concat(contentStr, lit(":prev")))
            .otherwise(contentStr).cast("binary")).as("prev_digest"))
      val curDig = curV.select($"vec_id".as("doc_id"),
        md5(contentStr.cast("binary")).as("cur_digest"))
      val diff = Corpus.snapshotDiffOf(prevDig, curDig)
        .select($"doc_id".as("vec_id"), $"status").localCheckpoint(true)
      diff.groupBy($"status").count().orderBy($"status").collect()
        .foreach(r => println(s"  diff ${r.get(0)}: ${r.get(1)}"))
      val curEmb = emb10.filter($"vec_id" % remMod =!= remRes)
        .localCheckpoint(true)
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      for (p <- 1 to 3) {
        val (tf, nf) = secs(VectorOps.semanticKeepCorpusFrom(curEmb,
          VectorOps.ivfNearDupPairsProbes(curV, cb,
            VectorOps.NearDupProbes)).count())
        val (ti, ni) = secs(VectorOps.incrementalSemanticKeepOf(
          prevAssignN, prevPairs, curEmb, diff, cb).count())
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental semantic keep diverged: $incrN vs full $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      val label = if (lowDirty) "lowdirty" else "deep"
      println(f"q93/q95 $label ${reps}x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(rows $fullN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the keeper-POLICY overhead at 10× docs —
    // q103 (argmax-quality keeper) vs q70 (min-id keeper) over the
    // SAME pair table, interleaved. The ratio isolates what selecting
    // the best member costs on top of selecting the first. Arg:
    // "q103deep".
    if (args.contains("q103deep")) {
      val pairs = Dedup.lshNearDupPairsFrom(
          Dedup.shingleFpsFrom(docs).localCheckpoint(false))
        .select($"doc_a", $"doc_b").localCheckpoint(true)
      println(s"pairs (10x): ${pairs.count()}")
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val minKeeps = scala.collection.mutable.ArrayBuffer.empty[Double]
      val qualKeeps = scala.collection.mutable.ArrayBuffer.empty[Double]
      var minN = -1L; var qualN = -1L
      for (p <- 1 to 3) {
        val (t70, n70) = secs(
          Dedup.dedupKeepCorpusFrom(docs,
            Dedup.dedupClustersFrom(pairs)).count())
        val (t103, n103) = secs(
          Dedup.canonicalKeepCorpusFrom(docs,
            Dedup.clusterLabels(pairs)
              .select($"doc_id", $"lbl".as("cluster_id"))).count())
        minKeeps += t70; qualKeeps += t103; minN = n70; qualN = n103
        println(f"  pass $p: q70 $t70%.2f s, q103 $t103%.2f s")
      }
      require(minN == qualN,
        s"keeper cardinality diverged: q103 $qualN vs q70 $minN")
      val spread = math.max(minKeeps.max / minKeeps.min,
        qualKeeps.max / qualKeeps.min)
      println(f"q103 keeper overhead ${reps}x: q70 min ${minKeeps.min}%.2f " +
        f"s, q103 min ${qualKeeps.min}%.2f s, ratio " +
        f"${qualKeeps.min / minKeeps.min}%.2f, per-side spread " +
        f"${spread}%.2f (rows $minN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q104 at 10× with the LOW (~1.9%) dirty
    // opt-in EXCLUSIVE mode: the r11/r12 PUBLISH-ONCE rewrite at 10×
    // (VERDICT r12 item 3). ONE machinery run publishes the verified
    // pair table and its CC labels; every consumer — q104's quality-
    // canonical keep, q101's min-id keeper stage, a q107-style
    // presentation read — is then broadcast-anti joins / sorts over
    // published leaves. The receipt prices: the publish run, each
    // consumer read, and the full per-query recompute a consumer
    // would otherwise pay. Low-dirty (~1.9%) diff, the nightly
    // regime. Arg: "publishonce".
    if (args.contains("publishonce")) {
      val prevLd = docs.filter($"doc_id" % 170L =!= 3L)
      val curLd = docs.filter($"doc_id" % 190L =!= 7L)
        .localCheckpoint(true)
      val prevDig = prevLd.select($"doc_id",
        md5(when($"doc_id" % 130L === 5L, concat($"text", lit(":prev")))
          .otherwise($"text").cast("binary")).as("prev_digest"))
      val curDig = curLd.select($"doc_id",
        md5($"text".cast("binary")).as("cur_digest"))
      val diffLd = Corpus.snapshotDiffOf(prevDig, curDig)
        .localCheckpoint(true)
      var idx: (DataFrame, DataFrame, DataFrame, DataFrame) = null
      time("stored-index build (prev nightly, not charged)") {
        idx = Dedup.indexState(prevLd)
      }
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      for (p <- 1 to 3) {
        var pairs: DataFrame = null
        var labels: DataFrame = null
        val tPub = secs {
          pairs = Dedup.maintainedVerifiedPairs(idx._1, idx._2, idx._3,
            idx._4, curLd, diffLd).localCheckpoint(true)
          labels = Dedup.clusterLabels(pairs).localCheckpoint(true)
        }
        val cl = labels.select($"doc_id", $"lbl".as("cluster_id"))
        val t104 = secs(Dedup.canonicalKeepCorpusFrom(curLd, cl).count())
        val t101 = secs(Dedup.dedupKeepCorpusFrom(curLd, cl).count())
        val t107 = secs(pairs.orderBy($"doc_a", $"doc_b").count())
        val tFull = secs(Dedup.canonicalKeepCorpusFrom(curLd,
          Dedup.clusterLabels(
            Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(curLd)
              .localCheckpoint(false)).select($"doc_a", $"doc_b"))
            .select($"doc_id", $"lbl".as("cluster_id"))).count())
        println(f"  pass $p: publish $tPub%.2f s | consumers: " +
          f"q104 $t104%.2f s, q101-keeper $t101%.2f s, " +
          f"q107-read $t107%.2f s | full q104 recompute $tFull%.2f s")
      }
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: shared-tf vs two-pass classifier fit at
    // 10× (VERDICT r12 item 3, reshaped r13). The SHARED-TF arm is
    // the r12 "tokenize once" shape, reconstructed EXPLICITLY here
    // (ADVICE r13: nbClassifyFrom itself became the two-pass
    // pipeline, so calling it from both arms measured nothing):
    // checkpoint the corpus docTf once, derive wc from that
    // checkpoint via the train-meta join, score from the same
    // checkpoint. The TWO-PASS arm is HEAD's nbClassifyFrom (fit
    // tokenizes the train slice eagerly, score pipelines the corpus).
    // Interleaved passes, per-side min, ratio of mins.
    // Arg: "nbshared".
    if (args.contains("nbshared")) {
      import graft.operators.Classify
      val shared = scala.collection.mutable.ArrayBuffer.empty[Double]
      val twoPass = scala.collection.mutable.ArrayBuffer.empty[Double]
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val docsLd = docs.localCheckpoint(true)
      for (p <- 1 to 3) {
        val tS = secs {
          // r12 shape: ONE corpus tokenize, materialized; both the
          // fit (via the doc_id→lang train-meta join) and the score
          // read the checkpointed tf
          val tf = Classify.docTf(docsLd).localCheckpoint(true)
          val meta = Classify.trainSlice(docsLd).select($"doc_id", $"lang")
          val wc = tf.join(meta, Seq("doc_id"))
            .groupBy($"lang", $"token").agg(sum($"tf").as("cnt"))
            .localCheckpoint(true)
          val model = Classify.nbModelOf(wc,
            meta.groupBy($"lang").agg(count(lit(1)).as("n_docs_c")))
          Classify.nbScore(docsLd, tf, model).count()
        }
        val tT = secs(Classify.nbClassifyFrom(docsLd).count())
        shared += tS; twoPass += tT
        println(f"  pass $p: shared-tf $tS%.2f s, two-pass $tT%.2f s")
      }
      println(f"nb shared-tf ${reps}x: shared min ${shared.min}%.2f s, " +
        f"two-pass min ${twoPass.min}%.2f s, ratio " +
        f"${shared.min / twoPass.min}%.2f")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q126 BPE training at 10× (VERDICT r13
    // items 3+5). Per merge round, measures the signed-delta pair
    // maintenance (HEAD) against the full pair recount (the pre-r14
    // shape) from the SAME word table, printing the merged pair's
    // support, the affected-word slice size, and the delta row count —
    // the receipt that per-round cost is proportional to the merged
    // pair's support while the recount stays vocab-sized forever.
    // Arg: "bpedeltas".
    if (args.contains("bpedeltas")) {
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val docsLd = docs.localCheckpoint(true)
      var words: DataFrame = null
      time(s"bpe word table (the ONE corpus pass, ${reps}x)") {
        words = Corpus.bpeInitialWords(docsLd).localCheckpoint(true)
        println(s"  distinct words: ${words.count()}")
      }
      var pc: DataFrame = null
      time("round-0 full pair recount (paid once)") {
        pc = Corpus.bpePairRecount(words).localCheckpoint(true)
        println(s"  distinct pairs: ${pc.count()}")
      }
      var dSum = 0.0; var rSum = 0.0
      for (round <- 1 to 10) {
        val top = pc.orderBy($"pair_count".desc, $"pair".asc)
          .limit(1).collect()(0)
        val pair = top.getString(0); val support = top.getLong(1)
        val search = " " + pair.replace(" ", "  ") + " "
        val affected = words
          .filter(concat(lit(" "), $"repr", lit(" ")).contains(search))
          .count()
        var pcNext: DataFrame = null
        var deltaRows = -1L
        val tDelta = secs {
          val d = Corpus.bpePairDeltas(words, pair).localCheckpoint(true)
          deltaRows = d.count()
          pcNext = Corpus.bpeFoldDeltas(pc, d).localCheckpoint(true)
        }
        words = Corpus.bpeApplyMerge(words, pair).localCheckpoint(true)
        val tRecount = secs(
          Corpus.bpePairRecount(words).localCheckpoint(true))
        pc = pcNext
        dSum += tDelta; rSum += tRecount
        println(f"  round $round%2d: merged '$pair' support $support%7d, " +
          f"affected words $affected%7d, delta rows $deltaRows%5d | " +
          f"delta-fold $tDelta%.2f s vs full recount $tRecount%.2f s")
      }
      println(f"bpe ${reps}x: 10-round delta-fold sum $dSum%.2f s vs " +
        f"recount sum $rSum%.2f s, ratio ${dSum / rSum}%.2f")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the q126 ADAPTIVE arm receipt (VERDICT
    // r14 item 1) — the full bpeTrainFrom loop end-to-end on the real
    // fixture corpus (possibly amplified), forced down each arm,
    // interleaved so co-load hits both sides symmetrically. The
    // fixture's 41-word vocabulary sits below BpeDeltaMinVocab, so
    // the default must match the recount side. Arg: "bpearm".
    if (args.contains("bpearm")) {
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val docsLd = docs.localCheckpoint(true)
      println(s"docs: ${docsLd.count()}")
      var dBest = Double.MaxValue; var rBest = Double.MaxValue
      for (pass <- 1 to 3) {
        val tD = secs(Corpus.bpeTrainFrom(spark, docsLd,
          deltaMinVocab = 0L).count())
        val tR = secs(Corpus.bpeTrainFrom(spark, docsLd,
          deltaMinVocab = Long.MaxValue).count())
        dBest = dBest.min(tD); rBest = rBest.min(tR)
        println(f"  pass $pass: delta arm $tD%.2f s vs recount arm $tR%.2f s")
      }
      println(f"bpearm ${reps}x: best delta $dBest%.2f s vs best " +
        f"recount $rBest%.2f s (default arm = recount below " +
        f"${Corpus.BpeDeltaMinVocab} words)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the r15 DRIFT-GATE FUSION receipt at
    // scale. centroidDriftStatsOf computes both cell assignments in
    // one tagged-broadcast scan since r15; this mode re-measures that
    // claim at `reps`× vector amplification against the former
    // two-scan + vec_id-join shape (reconstructed inline), interleaved
    // best-of-3, after a row-equality check proving the two shapes
    // compute the same verdict statistics. The codebook is the
    // UNAMPLIFIED corpus fit, eagerly checkpointed — the gate's cost
    // scales with vectors × centroids and that product is what
    // amplifies; the fit is the offline write path, not what is
    // measured — and the "fresh" codebook is a displaced twin of the
    // stored one (nonzero churn and drift without a second fit in the
    // measured region). Args: "<dir> <reps> driftgate".
    if (args.contains("driftgate")) {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val emb = graft.Tables.embeddings(spark, dir)
      val cur = VectorOps.vecsFrom(
          emb.withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
            .withColumn("vec_id", $"vec_id" * reps + $"rep").drop("rep"))
        .localCheckpoint(true)
      val stored = VectorOps.fittedCentroids(
        VectorOps.vecsFrom(emb)).localCheckpoint(true)
      val fresh = stored.select($"centroid_id",
        transform($"cv", c => c + lit(0.01)).as("cv"))
        .localCheckpoint(true)
      println(s"vectors: ${cur.count()}, centroids: ${stored.count()} x 2")
      def twoScan(): DataFrame = {
        def assign(cb: DataFrame) = cur.crossJoin(broadcast(cb))
          .withColumn("dist2", round(expr("graft_sqdist(v, cv)"), 6))
          .groupBy($"vec_id")
          .agg(min(struct($"dist2", $"centroid_id")).as("m"))
          .select($"vec_id", $"m.centroid_id".as("cell_id"),
            $"m.dist2".as("dist2"))
        val s = assign(stored)
          .select($"vec_id", $"cell_id".as("cell_s"), $"dist2".as("d_s"))
        val f = assign(fresh)
          .select($"vec_id", $"cell_id".as("cell_f"), $"dist2".as("d_f"))
        s.join(f, Seq("vec_id")).agg(
          count(lit(1)).as("n_vecs"),
          sum(when($"cell_s" =!= $"cell_f", 1L).otherwise(0L)).as("n_moved"),
          round((sum($"d_s".cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1))), 6).as("ms"),
          round((sum($"d_f".cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1))), 6).as("mf"))
      }
      def finalAgg(perVec: DataFrame): DataFrame = perVec.agg(
        count(lit(1)).as("n_vecs"),
        sum(when($"cell_s" =!= $"cell_f", 1L).otherwise(0L)).as("n_moved"),
        round((sum($"d_s".cast(DecimalType(18, 6))).cast(DoubleType)
          / count(lit(1))), 6).as("ms"),
        round((sum($"d_f".cast(DecimalType(18, 6))).cast(DoubleType)
          / count(lit(1))), 6).as("mf"))
      // two-level: unconditional min(struct) per (vec_id, tag), then a
      // 2-rows-per-vec conditional pick — the per-row agg update is
      // the two-scan's, the scan count is the fused shape's
      def fused2(): DataFrame = {
        val tagged = stored.select($"centroid_id", $"cv", lit(true).as("st"))
          .unionByName(fresh
            .select($"centroid_id", $"cv", lit(false).as("st")))
        finalAgg(cur.crossJoin(broadcast(tagged))
          .withColumn("dist2", round(expr("graft_sqdist(v, cv)"), 6))
          .groupBy($"vec_id", $"st")
          .agg(min(struct($"dist2", $"centroid_id")).as("m"))
          .groupBy($"vec_id")
          .agg(min(when($"st", $"m")).as("s"),
            min(when(!$"st", $"m")).as("f"))
          .select($"s.centroid_id".as("cell_s"), $"s.dist2".as("d_s"),
            $"f.centroid_id".as("cell_f"), $"f.dist2".as("d_f")))
      }
      // row-local: both codebooks collapse to single array cells, the
      // argmin is array_min over a transform — no per-vec aggregation
      // at all, the only exchange is the 1-row global agg
      def fused3(): DataFrame = {
        val both = stored
          .agg(collect_list(struct($"centroid_id", $"cv")).as("s_arr"))
          .crossJoin(fresh
            .agg(collect_list(struct($"centroid_id", $"cv")).as("f_arr")))
        def amin(arr: String) = expr(
          s"array_min(transform($arr, c -> struct(" +
            "round(graft_sqdist(v, c.cv), 6) AS dist2, " +
            "c.centroid_id AS centroid_id)))")
        finalAgg(cur.crossJoin(broadcast(both))
          .select(amin("s_arr").as("s"), amin("f_arr").as("f"))
          .select($"s.centroid_id".as("cell_s"), $"s.dist2".as("d_s"),
            $"f.centroid_id".as("cell_f"), $"f.dist2".as("d_f")))
      }
      def fused(): DataFrame =
        VectorOps.centroidDriftStatsOf(cur, stored, fresh)
      val fr = fused().collect().head
      val rows = Seq("two-scan" -> twoScan(), "fused2" -> fused2(),
        "fused3" -> fused3()).map { case (n, df) => n -> df.collect().head }
      rows.foreach { case (n, tr) =>
        require(fr.getLong(0) == tr.getLong(0) &&
          fr.getLong(1) == tr.getLong(1) &&
          math.abs(fr.getDouble(fr.fieldIndex("mean_dist2_stored"))
            - tr.getDouble(tr.fieldIndex("ms"))) < 1e-9 &&
          math.abs(fr.getDouble(fr.fieldIndex("mean_dist2_fresh"))
            - tr.getDouble(tr.fieldIndex("mf"))) < 1e-9,
          s"shape mismatch: fused $fr vs $n $tr")
      }
      println(s"verdict statistics agreed across all arms: " +
        s"n_vecs ${fr.getLong(0)}, n_moved ${fr.getLong(1)}")
      val best = scala.collection.mutable.Map[String, Double]()
        .withDefaultValue(Double.MaxValue)
      for (pass <- 1 to 3) {
        val ts = Seq("fused" -> secs(fused().collect()),
          "two-scan" -> secs(twoScan().collect()),
          "fused2" -> secs(fused2().collect()),
          "fused3" -> secs(fused3().collect()))
        ts.foreach { case (n, t) => best(n) = best(n).min(t) }
        println("  pass " + pass + ": " +
          ts.map { case (n, t) => f"$n $t%.2f s" }.mkString(", "))
      }
      println(f"driftgate ${reps}x best: " + Seq("fused", "two-scan",
        "fused2", "fused3").map(n => f"$n ${best(n)}%.2f s")
        .mkString(", "))
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the 100× TEXT-FLOOR INVERSION receipt
    // (VERDICT r14 item 6). The repo's defense of the sub-1 s
    // "perf-weak" text queries is that their cost is Spark's per-job
    // scheduling floor — constant in data size — so the DuckDB ratio
    // inverts as data grows. This mode measures it instead of
    // extrapolating: q74 and q114 at `reps`× doc amplification
    // (reps=100 → 500k docs from sf0.1's 5k), against the one-tokenize-scan
    // yardstick (the irreducible single pass ANY engine pays,
    // measured in-engine), with scheduler job counts — showing wall
    // grows with data while the job count (the floor) stays fixed,
    // i.e. the floor share collapses from most of the 1× wall to
    // noise. Arg: "textfloor" (run with reps=1 first for the 1× row).
    if (args.contains("textfloor")) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val docsLd = docs.localCheckpoint(true)
      println(s"textfloor: ${docsLd.count()} docs (${reps}x)")
      def best(label: String)(f: => Unit): Unit = {
        f // warm
        var w = Double.MaxValue; var j = 0
        (1 to 2).foreach { _ =>
          Thread.sleep(500); jobs.set(0)
          val t = secs(f)
          if (t < w) { w = t; j = jobs.get() }
        }
        println(f"  $label%-28s ${w}%7.2f s  ($j jobs)")
      }
      best("one tokenize+count scan") {
        docsLd.select(explode(graft.operators.TextOps.tokens($"text"))
          .as("t")).groupBy($"t").agg(count(lit(1))).count(); ()
      }
      best("q74 unigram logprob")(
        { Corpus.unigramLogProbFrom(docsLd).count(); () })
      best("q114 nb classifier")(
        { Classify.nbClassifyFrom(docsLd).count(); () })
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the q130 PREFIX-FILTER separation
    // receipt. q45's boundedness comes from a CRUTCH: the hot-shingle
    // cutoff drops every shingle with df > 256 from the similarity
    // universe — truncating the semantics to keep Σdf² finite. Prefix
    // filtering needs no cutoff: rarity-ordered prefixes never reach
    // hot shingles, so q130 stays output-sensitive over the FULL
    // universe, exactly. This mode synthesizes the separating corpus
    // deterministically: 2000·reps docs of hash-random tokens over a
    // 50k-word space (essentially disjoint — no true pairs, so output
    // cost is zero in every arm and join cost is isolated) plus one
    // of N/2000 thirty-token boilerplate blocks per doc — every
    // boilerplate shingle lands at df ≈ 2000, hot enough that the
    // uncut q45 join pays ~28·B·df²/2 rows. Three arms at τ = 0.8,
    // all required to agree on the (empty) output: q45 WITH its
    // cutoff (truncated universe), q130 with NO cutoff (full
    // universe), q45 with NO cutoff (the blowup the cutoff exists to
    // prevent). Arg: "prefixjac".
    if (args.contains("prefixjac")) {
      val n = 2000L * reps
      val b = math.max(1L, n / 2000L) // boilerplate groups → df ≈ 2000
      val synth = spark.range(n).select($"id".as("doc_id"),
        concat(
          concat_ws(" ", transform(sequence(lit(1), lit(50)),
            i => concat(lit("w"), pmod(hash($"id", i), lit(50000))))),
          lit(" "),
          concat_ws(" ", transform(sequence(lit(1), lit(30)),
            i => concat(lit("b"), pmod($"id", lit(b)), lit("x"), i))))
          .as("text"))
        .localCheckpoint(true)
      println(s"prefixjac: $n docs, $b boilerplate groups " +
        s"(boilerplate shingle df ≈ ${n / b})")
      def best(label: String)(f: => Long): Long = {
        var rows = f // warm
        var w = Double.MaxValue
        (1 to 2).foreach { _ =>
          val t0 = System.nanoTime(); rows = f
          w = math.min(w, (System.nanoTime() - t0) / 1e9)
        }
        println(f"  $label%-40s $w%7.2f s  ($rows rows)")
        rows
      }
      val cut = best("q45 brute, cutoff=256 (truncated)")(
        Dedup.jaccardPairsFrom(synth, threshold = 0.8).count())
      val pNo = best("q130 prefix, NO cutoff (full universe)")(
        Dedup.prefixJaccardPairsFrom(synth, threshold = 0.8,
          maxDocFreq = Int.MaxValue).count())
      val bNo = best("q45 brute, NO cutoff (the blowup)")(
        Dedup.jaccardPairsFrom(synth, threshold = 0.8,
          maxDocFreq = Int.MaxValue).count())
      require(cut == pNo && pNo == bNo,
        s"arms disagree: cut=$cut prefixNo=$pNo bruteNo=$bNo")
      // containment twins over the same corpus (q131 vs q85): the
      // asymmetric prefix probe must show the same separation
      val cCut = best("q85 brute, cutoff=256 (truncated)")(
        Dedup.containmentPairsFrom(synth).count())
      val cPNo = best("q131 prefix, NO cutoff (full universe)")(
        Dedup.prefixContainmentPairsFrom(synth,
          maxDocFreq = Int.MaxValue).count())
      val cBNo = best("q85 brute, NO cutoff (the blowup)")(
        Dedup.containmentPairsFrom(synth,
          maxDocFreq = Int.MaxValue).count())
      require(cCut == cPNo && cPNo == cBNo,
        s"containment arms disagree: cut=$cCut prefixNo=$cPNo bruteNo=$cBNo")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: the q132 DIRTY-FRACTION sweep — the
    // carry premise (|dirty| ≪ corpus) receipt for the prefix family
    // (VERDICT r15 item 8; the q89 family has the q89lowdirty twin).
    // Corpus: 2000·reps hash-random docs (near-disjoint, so probe
    // cost is isolated from output cost) with one planted near-dup
    // twin per 50 docs; the diff dirties a doc_id residue class at
    // ~5% / ~20% / ~50%. Per fraction, interleaved full-rebuild vs
    // incremental passes, per-side min, row counts required equal.
    // The fraction where the incremental min crosses the rebuild min
    // IS the documented rebuild trigger. Arg: "prefixjacincr".
    if (args.contains("prefixjacincr")) {
      val n = 2000L * reps
      def randText(seed: Column): Column =
        concat_ws(" ", transform(sequence(lit(1), lit(50)),
          i => concat(lit("w"), pmod(hash(seed, i), lit(50000)))))
      // twins: doc i%50==0 gets a near-copy at id i+n (49/50 tokens
      // shared → J ≈ 0.9 over 3-shingles... enough true pairs to keep
      // the verdict table non-trivial in every arm)
      val base = spark.range(n).select($"id".as("doc_id"),
        randText($"id").as("text"))
      val twins = spark.range(n).filter($"id" % 50L === 0L)
        .select(($"id" + n).as("doc_id"),
          concat(randText($"id"), lit(" twintail")).as("text"))
      val prevLd = base.unionByName(twins).localCheckpoint(true)
      println(s"prefixjacincr: ${prevLd.count()} docs, ${reps}x")
      for ((m, label) <- Seq(20L -> "5%", 5L -> "20%", 2L -> "50%")) {
        // the diff CHANGES docs in the residue class (text append)
        val curLd = prevLd.select($"doc_id",
          when($"doc_id" % m === 1L,
            concat($"text", lit(" zz"), $"doc_id")).otherwise($"text")
            .as("text"))
          .localCheckpoint(true)
        val diffLd = Corpus.snapshotDiffOf(
          prevLd.select($"doc_id",
            md5($"text".cast("binary")).as("prev_digest")),
          curLd.select($"doc_id",
            md5($"text".cast("binary")).as("cur_digest")))
          .localCheckpoint(true)
        var prevFps: DataFrame = null; var prevPass: DataFrame = null
        var prevDfT: DataFrame = null; var prevSzT: DataFrame = null
        time(s"  [$label] stored q130 state build (not charged)") {
          // ALL FOUR published tables (fps, verdicts, df, kept sizes)
          // — q132's contract reads stored state; deriving df/sizes
          // per call would charge two corpus-scale aggregates to the
          // maintenance that the nightly publish already paid
          prevFps = Dedup.shingleFpsFrom(prevLd).localCheckpoint(true)
          prevPass = Dedup.prefixJaccardPairsFrom(prevLd,
            threshold = 0.8).localCheckpoint(true)
          prevDfT = prevFps.groupBy($"fp").agg(count(lit(1)).as("df"))
            .localCheckpoint(true)
          val hotT = prevDfT
            .filter($"df" > Dedup.MaxShingleDocFreq).select($"fp")
          prevSzT = prevFps.join(broadcast(hotT), Seq("fp"), "left_anti")
            .groupBy($"doc_id").agg(count(lit(1)).as("n"))
            .localCheckpoint(true)
          prevPass.count(); ()
        }
        def secs(f: => Long): (Double, Long) = {
          val t0 = System.nanoTime(); val r = f
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
        val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
        var fullN = -1L; var incrN = -1L
        for (p <- 1 to 3) {
          val (tf, nf) = secs(
            Dedup.prefixJaccardPairsFrom(curLd, threshold = 0.8).count())
          val (ti, ni) = secs(
            Dedup.incrementalPrefixJaccardOf(prevFps, prevPass, curLd,
              diffLd, threshold = 0.8, storedDf = Some(prevDfT),
              storedSz = Some(prevSzT)).count())
          fulls += tf; incrs += ti; fullN = nf; incrN = ni
          println(f"  [$label] pass $p: rebuild $tf%.2f s, incr $ti%.2f s")
        }
        require(fullN == incrN,
          s"[$label] incremental diverged: $incrN vs rebuild $fullN")
        println(f"q132 dirty=$label%s ${reps}x: rebuild min " +
          f"${fulls.min}%.2f s, incremental min ${incrs.min}%.2f s, " +
          f"ratio ${incrs.min / fulls.min}%.2f (rows $fullN)")
      }
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q129 BPE encode at 10× (VERDICT r13
    // item 3). The merge table is the published artifact (trained
    // once, not charged per encode); the receipt prices the encode
    // against ONE plain streaming token pass over the same corpus —
    // the claim is "encode ≈ one corpus scan". Interleaved passes,
    // per-side min. Arg: "q129encode".
    if (args.contains("q129encode")) {
      def secs[T](f: => T): Double = {
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }
      val docsLd = docs.localCheckpoint(true)
      var merges: Seq[String] = null
      time(s"q126 train at ${reps}x (the published merge table, " +
           "amortized across every encode)") {
        merges = Corpus.bpeTrainFrom(spark, docsLd).collect()
          .map(_.getString(1)).toSeq
      }
      val encs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val scans = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (p <- 1 to 3) {
        val tE = secs(Corpus.bpeEncodeFrom(docsLd, merges).count())
        val tS = secs(docsLd
          .select($"doc_id",
            explode(graft.operators.TextOps.tokens($"text")).as("token"))
          .groupBy($"doc_id").agg(count(lit(1))).count())
        encs += tE; scans += tS
        println(f"  pass $p: encode $tE%.2f s, plain token scan $tS%.2f s")
      }
      println(f"q129 ${reps}x: encode min ${encs.min}%.2f s vs one " +
        f"token-scan min ${scans.min}%.2f s, ratio " +
        f"${encs.min / scans.min}%.2f")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q128 cross-modal dedup at 10× (VERDICT
    // r13 items 1+3). Reports the docs-per-vector occupancy histogram
    // and the video-edge count — the two numbers that probe the
    // MaxDocsPerVec bound — then times the keep. The vec pair table
    // is fitted from the amplified store (offline write path, not
    // charged). Arg: "q128deep".
    if (args.contains("q128deep")) {
      import graft.operators.{Multimodal, VectorOps}
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val emb10 = graft.Tables.embeddings(spark, dir)
        .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
        .withColumn("vec_id", $"vec_id" * reps + $"rep")
        .drop("rep").localCheckpoint(true)
      val frames = Multimodal
        .frameSampleFrom(Multimodal.mediaTableFrom(docs))
        .localCheckpoint(true)
      println(s"frames: ${frames.count()}")
      val fv = Multimodal.frameVecLookup(frames, emb10)
        .localCheckpoint(true)
      // occupancy histogram: docs-per-vector → number of vec_ids
      println("docs-per-vector histogram (occupancy -> vec_ids):")
      fv.groupBy($"vec_id").agg(count(lit(1)).as("occ"))
        .groupBy($"occ").agg(count(lit(1)).as("n_vecs"))
        .orderBy($"occ").collect()
        .foreach(r => println(f"  ${r.getLong(0)}%4d -> ${r.getLong(1)}"))
      val skipped = Multimodal.crossModalSkippedVecsFrom(frames, emb10)
        .count()
      println(s"vec_ids over MaxDocsPerVec=${Multimodal.MaxDocsPerVec}: " +
        s"$skipped (guard fires iff > 0)")
      var pairs: DataFrame = null
      time("vec pair table fit+build (offline write path, not charged)") {
        val corpus = VectorOps.vecsFrom(emb10).localCheckpoint(true)
        val cb = VectorOps.fittedCentroids(corpus).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        pairs = VectorOps.ivfNearDupPairsFrom(corpus, cb)
          .select($"vec_a", $"vec_b").localCheckpoint(true)
        println(s"  published vec pairs: ${pairs.count()}")
      }
      for (p <- 1 to 3) {
        val (tE, nE) = secs(
          Multimodal.crossModalEdges(frames, emb10, pairs).count())
        val (tK, nK) = secs(
          Multimodal.crossModalKeepFrom(frames, emb10, pairs).count())
        println(f"  pass $p: edges $nE in $tE%.2f s; keep $nK docs " +
          f"in $tK%.2f s")
      }
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q127 streaming vector write path at 10×
    // (VERDICT r13 item 3). Models are fitted from the amplified
    // store ONCE (the offline write path, not charged); the receipt
    // compares draining the same 10× corpus through ten micro-batches
    // of ingest-time encoding against the one-shot batch encode, and
    // requires row parity — the per-batch cost is the batch plan paid
    // incrementally, so streaming ≈ batch + per-batch scheduling.
    // Arg: "q127stream".
    if (args.contains("q127stream")) {
      import graft.operators.VectorOps
      import graft.streaming.{StreamingClean, StreamingCorpus}
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val emb10 = graft.Tables.embeddings(spark, dir)
        .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
        .withColumn("vec_id", $"vec_id" * reps + $"rep")
        .drop("rep").localCheckpoint(true)
      println(s"embeddings rows: ${emb10.count()}")
      var books: Array[(Int, Long, Seq[Double])] = null
      var cents: Array[(Long, Seq[Double])] = null
      time("PQ + IVF model fit (offline write path, not charged)") {
        val corpus = VectorOps.vecsFrom(emb10).localCheckpoint(true)
        books = VectorOps.pqCodebooksFrom(corpus).collect()
          .map(r => (r.getInt(0), r.getLong(1),
            r.getSeq[Double](2).toIndexedSeq: Seq[Double]))
        cents = VectorOps.fittedCentroids(corpus).collect()
          .map(r => (r.getLong(0),
            r.getSeq[Double](1).toIndexedSeq: Seq[Double]))
        println(s"  books: ${books.length} rows, cells: ${cents.length}")
      }
      val staged = StreamingClean.trackedTempDir("graft-pq10-in-") + "/embs"
      emb10.repartitionByRange(10, $"vec_id")
        .write.mode("overwrite").parquet(staged)
      val (tB, nB) = secs(
        VectorOps.streamEncodeBatch(emb10, books, cents).count())
      println(f"  one-shot batch encode: $nB rows in $tB%.2f s")
      val (tS, nS) = secs(StreamingCorpus
        .pqEncodeStream(spark, staged, books, cents,
          maxFilesPerTrigger = Some(1)).count())
      println(f"  streaming drain (10 micro-batches): $nS rows in $tS%.2f s")
      require(nB == nS, s"streaming/batch row parity broke: $nS vs $nB")
      // same data, ONE micro-batch: isolates the fixed streaming
      // machinery cost from the per-batch scheduling — the overhead
      // is per-BATCH, not per-row, so it amortizes with batch size
      val (t1, n1) = secs(StreamingCorpus
        .pqEncodeStream(spark, staged, books, cents,
          maxFilesPerTrigger = None).count())
      println(f"  streaming drain (1 micro-batch): $n1 rows in $t1%.2f s")
      require(nB == n1, s"1-batch row parity broke: $n1 vs $nB")
      println(f"q127 ${reps}x: 10-batch/batch ratio ${tS / tB}%.2f, " +
        f"1-batch/batch ratio ${t1 / tB}%.2f — the gap is per-batch " +
        "scheduling + the append/dedup tail, constant per batch")
      spark.stop()
      return
    }

    // fraction — the q89lowdirty protocol with the canonical-keep
    // tail, proving the keeper policy rides the maintenance saving.
    // Arg: "q104lowdirty".
    if (args.contains("q104lowdirty")) {
      val prevLd = docs.filter($"doc_id" % 170L =!= 3L)
      val curLd = docs.filter($"doc_id" % 190L =!= 7L)
        .localCheckpoint(true)
      val prevDig = prevLd.select($"doc_id",
        md5(when($"doc_id" % 130L === 5L, concat($"text", lit(":prev")))
          .otherwise($"text").cast("binary")).as("prev_digest"))
      val curDig = curLd.select($"doc_id",
        md5($"text".cast("binary")).as("cur_digest"))
      val diffLd = Corpus.snapshotDiffOf(prevDig, curDig)
        .localCheckpoint(true)
      diffLd.groupBy($"status").count().orderBy($"status").collect()
        .foreach(r => println(s"  low-dirty diff ${r.get(0)}: ${r.get(1)}"))
      var idxLd: (DataFrame, DataFrame, DataFrame, DataFrame) = null
      time("q104 low-dirty stored-index build (not charged)") {
        idxLd = Dedup.indexState(prevLd)
      }
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      for (p <- 1 to 3) {
        val (tf, nf) = secs(
          Dedup.canonicalKeepCorpusFrom(curLd,
            Dedup.clusterLabels(
              Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(curLd)
                .localCheckpoint(false)).select($"doc_a", $"doc_b"))
              .select($"doc_id", $"lbl".as("cluster_id"))).count())
        val (ti, ni) = secs(
          Dedup.canonicalKeepCorpusFrom(curLd,
            Dedup.clusterLabels(
              Dedup.maintainedVerifiedPairs(idxLd._1, idxLd._2, idxLd._3,
                idxLd._4, curLd, diffLd))
              .select($"doc_id", $"lbl".as("cluster_id"))).count())
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental canonical keep diverged: $incrN vs full $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      println(f"q104 low-dirty ${reps}x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(rows $fullN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q115 at 10× with the LOW (~1.9%) dirty
    // fraction. Note the clone amplification is ADVERSARIAL here:
    // every dirty doc's spans recur in its 9 replicas, so the
    // affected-fp expansion pulls ~10× the dirty slice into the
    // candidate set — the receipt measures maintenance WITH that
    // expansion priced in. Arg: "q115lowdirty".
    if (args.contains("q115lowdirty")) {
      val prevLd = docs.filter($"doc_id" % 170L =!= 3L)
      val curLd = docs.filter($"doc_id" % 190L =!= 7L)
        .localCheckpoint(true)
      val prevDig = prevLd.select($"doc_id",
        md5(when($"doc_id" % 130L === 5L, concat($"text", lit(":prev")))
          .otherwise($"text").cast("binary")).as("prev_digest"))
      val curDig = curLd.select($"doc_id",
        md5($"text".cast("binary")).as("cur_digest"))
      val diffLd = Corpus.snapshotDiffOf(prevDig, curDig)
        .localCheckpoint(true)
      diffLd.groupBy($"status").count().orderBy($"status").collect()
        .foreach(r => println(s"  low-dirty diff ${r.get(0)}: ${r.get(1)}"))
      var prevSpans: DataFrame = null; var prevOut: DataFrame = null
      time("q115 low-dirty stored span state build (not charged)") {
        prevSpans = Dedup.spansOf(Dedup.spanToksFrom(prevLd))
          .localCheckpoint(true)
        prevOut = Dedup.spanDedupFrom(prevLd).localCheckpoint(true)
      }
      // the timed workload must be a CHECKSUM, not count(): the
      // rebuild hangs off a row-preserving left join, so count()
      // lets Catalyst prune the whole dup machinery off the batch
      // side (measured: 50k-doc "full build" in 0.14 s — a no-op)
      def checksum(df: DataFrame): Long = df
        .agg((sum($"n_removed") +
          sum(length($"cleaned_text").cast("long")) +
          count(lit(1))).as("c"))
        .collect()(0).getLong(0)
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      for (p <- 1 to 3) {
        val (tf, nf) = secs(checksum(Dedup.spanDedupFrom(curLd)))
        val (ti, ni) = secs(checksum(Dedup.incrementalSpanDedupOf(
          prevSpans, prevOut, curLd, diffLd)))
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental span dedup checksum diverged: $incrN vs $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      println(f"q115 low-dirty ${reps}x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(checksum $fullN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q116 at 10× with the LOW (~1.9%) dirty
    // fraction — the q92-family receipt on the classifier: the
    // saving is the corpus text pass; the rescore-all is charged to
    // both sides. Arg: "q116lowdirty".
    if (args.contains("q116lowdirty")) {
      val prevLd = docs.filter($"doc_id" % 170L =!= 3L)
      val curLd = docs.filter($"doc_id" % 190L =!= 7L)
        .localCheckpoint(true)
      val prevDig = prevLd.select($"doc_id",
        md5(when($"doc_id" % 130L === 5L, concat($"text", lit(":prev")))
          .otherwise($"text").cast("binary")).as("prev_digest"))
      val curDig = curLd.select($"doc_id",
        md5($"text".cast("binary")).as("cur_digest"))
      val diffLd = Corpus.snapshotDiffOf(prevDig, curDig)
        .localCheckpoint(true)
      var prevTf: DataFrame = null; var meta: DataFrame = null
      var trainTf: DataFrame = null; var wc: DataFrame = null
      var cdoc: DataFrame = null
      time("q116 low-dirty stored model state build (not charged)") {
        prevTf = Classify.docTf(prevLd).localCheckpoint(true)
        val prevTrain = Classify.trainSlice(prevLd)
        meta = prevTrain.select($"doc_id", $"lang").localCheckpoint(true)
        trainTf = Classify.docTf(prevTrain).join(meta, Seq("doc_id"))
          .select($"doc_id", $"lang", $"token", $"tf")
          .localCheckpoint(true)
        wc = trainTf.groupBy($"lang", $"token").agg(sum($"tf").as("cnt"))
          .localCheckpoint(true)
        cdoc = meta.groupBy($"lang").agg(count(lit(1)).as("n_docs_c"))
          .localCheckpoint(true)
      }
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      // checksum workload (prediction-dependent), not count(): the
      // same pruning trap as q115's protocol
      def checksum(df: DataFrame): Long = df
        .agg((sum(when($"correct", 1L).otherwise(0L)) + count(lit(1)))
          .as("c")).collect()(0).getLong(0)
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      for (p <- 1 to 3) {
        val (tf, nf) = secs(checksum(Classify.nbClassifyFrom(curLd)))
        val (ti, ni) = secs(checksum(Classify.incrementalNbClassifyOf(
          prevTf, meta, trainTf, wc, cdoc, curLd, diffLd)))
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental NB checksum diverged: $incrN vs $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      println(f"q116 low-dirty ${reps}x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(checksum $fullN)")
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: q125 at 50× vectors with a LOW (~0.25%)
    // dirty fraction — the q93lowdirty protocol on the PQ code table.
    // Codebooks fit on the diff-untouched stable slice (offline, not
    // charged — production loads the published artifact); the stored
    // code table carries under one broadcast anti-join and only the
    // dirty slice re-encodes. The timed workload is a CHECKSUM over
    // (code, dist2), not count(): count() lets Catalyst prune the
    // min-struct argmin (and with it every graft_sqdist) off the
    // full-encode side, the q115 trap. Arg: "q125lowdirty".
    if (args.contains("q125lowdirty")) {
      val mul = reps * 5
      val emb50 = graft.Tables.embeddings(spark, dir)
        .withColumn("rep", explode(sequence(lit(0), lit(mul - 1))))
        .withColumn("vec_id", $"vec_id" * mul + $"rep")
        .drop("rep")
      val corpus = VectorOps.vecsFrom(emb50).localCheckpoint(true)
      println(s"embeddings rows (50x): ${corpus.count()}")
      val (addMod, addRes) = (1200L, 3L)
      val (remMod, remRes) = (1240L, 7L)
      val (chgMod, chgRes) = (1160L, 5L)
      val prevV = corpus.filter($"vec_id" % addMod =!= addRes)
      val curV = corpus.filter($"vec_id" % remMod =!= remRes)
        .localCheckpoint(true)
      var books: DataFrame = null
      // base-sized STABLE sample, remapped to base id space: production
      // codebooks are fixed-size regardless of corpus scale, and the
      // fit's centroid seed is id-pattern-based (% 100), so the sample
      // ids must be dense base ids for the seed to yield the same
      // codebook size q120 publishes at fixture scale. Both timed
      // sides share these books, so the ratio is unaffected by the
      // sample choice.
      time("q125 stable-sample codebook fit (offline, not charged)") {
        books = VectorOps.pqCodebooksFrom(
            corpus.filter($"vec_id" % mul === 0
                && $"vec_id" % addMod =!= addRes
                && $"vec_id" % remMod =!= remRes
                && $"vec_id" % chgMod =!= chgRes)
              .withColumn("vec_id", ($"vec_id" / mul).cast("long"))
              .localCheckpoint(false))
          .localCheckpoint(true)
        println(s"  subspace cells: ${books.count()}")
      }
      var prevCodes: DataFrame = null
      time("q125 stored code table build (prev nightly run, not charged)") {
        prevCodes = VectorOps.pqAssign(VectorOps.subVecs(prevV), books)
          .select($"vec_id", $"m", $"code", $"dist2")
          .localCheckpoint(true)
      }
      val contentStr = concat_ws(",",
        expr("transform(v, x -> CAST(x AS STRING))"))
      val prevDig = prevV.select($"vec_id".as("doc_id"),
        md5(when($"vec_id" % chgMod === chgRes,
              concat(contentStr, lit(":prev")))
            .otherwise(contentStr).cast("binary")).as("prev_digest"))
      val curDig = curV.select($"vec_id".as("doc_id"),
        md5(contentStr.cast("binary")).as("cur_digest"))
      val diff = Corpus.snapshotDiffOf(prevDig, curDig)
        .select($"doc_id".as("vec_id"), $"status").localCheckpoint(true)
      diff.groupBy($"status").count().orderBy($"status").collect()
        .foreach(r => println(s"  diff ${r.get(0)}: ${r.get(1)}"))
      def checksum(df: DataFrame): Long = df
        .agg((sum($"code") + count(lit(1)) +
          sum((round($"dist2", 6) * 1e6).cast("long"))).as("c"))
        .collect()(0).getLong(0)
      def secs(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val incrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var fullN = -1L; var incrN = -1L
      // uncharged warmup: the incremental side finishes in well under
      // a second here, so codegen/JIT warmup would otherwise dominate
      // its pass-1 figure and blow the spread discipline
      checksum(VectorOps.incrementalPqCodesOf(prevCodes, curV, diff, books))
      for (p <- 1 to 3) {
        val (tf, nf) = secs(checksum(
          VectorOps.pqAssign(VectorOps.subVecs(curV), books)
            .select($"vec_id", $"m", $"code", $"dist2")))
        val (ti, ni) = secs(checksum(
          VectorOps.incrementalPqCodesOf(prevCodes, curV, diff, books)))
        fulls += tf; incrs += ti; fullN = nf; incrN = ni
        println(f"  pass $p: full $tf%.2f s, incremental $ti%.2f s")
      }
      require(fullN == incrN,
        s"incremental PQ checksum diverged: $incrN vs full $fullN")
      val spread = math.max(fulls.max / fulls.min, incrs.max / incrs.min)
      println(f"q125 low-dirty ${mul}x: full min ${fulls.min}%.2f s, " +
        f"incremental min ${incrs.min}%.2f s, ratio " +
        f"${incrs.min / fulls.min}%.2f, per-side spread ${spread}%.2f " +
        f"(checksum $fullN)")
      spark.stop()
      return
    }

    val shf = Dedup.shingleFpsFrom(docs).cache()
    time("shingle fps")(shf.count())
    val lshPairs = Dedup.lshNearDupPairsFrom(shf).cache()
    time("LSH near-dup pairs")(lshPairs.count())

    // corpus family (q58–q65) at the amplified scale — the round-5
    // hardening targets: q62's round count vs diameter and q64's
    // per-(split,bucket) window width are the two knees to watch
    time("q58 split assign")(Corpus.splitAssignFrom(docs).count())
    time("q59 decontaminate")(Corpus.decontaminateFrom(docs).count())
    time("q60 vocabulary")(Corpus.vocabularyFrom(docs).count())
    time("q61 pii redact")(Corpus.piiRedactFrom(docs).count())
    time("q62 dedup clusters")(
      Dedup.dedupClustersFrom(lshPairs.select($"doc_a", $"doc_b")).count())
    time("q63 filter funnel")(Corpus.filterFunnelFrom(docs).count())
    val packed = Corpus.shardPackFrom(docs).cache()
    time("q64 shard pack")(packed.count())
    val w64 = packed
      .withColumn("pbucket", Corpus.packBucketCol)
      .groupBy($"split", $"pbucket").count()
      .agg(max($"count")).collect()(0).getLong(0)
    println(s"q64 widest ordered-window partition: $w64 rows")
    packed.unpersist()
    time("q65 tf-idf top terms")(Corpus.tfidfTopTermsFrom(docs).count())
    time("q72 chunk docs")(Corpus.chunkDocsFrom(docs).count())
    time("q73 repetition stats")(Corpus.repetitionStatsFrom(docs).count())
    time("q74 unigram logprob")(Corpus.unigramLogProbFrom(docs).count())
    time("q75 mixture sample")(Corpus.mixtureSampleFrom(docs,
      Corpus.MixtureRates, Corpus.MixtureDefaultRate).count())
    time("q76 training corpus (composed)")(
      Corpus.trainingCorpusFrom(spark, docs).count())
    time("q77 source cap")(
      Corpus.sourceCapFrom(docs, Corpus.SourceCapN).count())
    time("q79 seq pack")(Corpus.seqPackFrom(docs).count())
    time("q80 bpe pairs")(Corpus.bpePairStatsFrom(docs).count())
    time("q81 length quantiles")(Corpus.lengthQuantilesFrom(docs).count())
    time("q82 repeated spans")(Dedup.repeatedSpansFrom(docs).count())
    time("q83 ppl buckets")(Corpus.perplexityBucketsFrom(docs).count())
    time("q83 ppl buckets (sketch boundaries)")(
      Corpus.perplexityBucketsSketch(docs).count())
    // q84/q88 at 10×-of-10× (100× ≈ sf10, 500k docs): the diff is one
    // full-outer join; the incremental rescore should cost ~the dirty
    // fraction of the full rescore — THE receipt for incremental
    // maintenance. Measured at 100× rather than 10× because at 50k
    // docs the scorer runs in ~0.4 s and the incremental plan's extra
    // join stages dominate their own saving; the crossover needs the
    // scorer to be the cost.
    val docs100 = docs
      .withColumn("rep2", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("doc_id", $"doc_id" * reps + $"rep2")
      .withColumn("text", concat($"text", lit(" s"), $"rep2"))
      .drop("rep2")
    val prevDocs = Corpus.snapshotPrev(docs100)
    val curDocs = Corpus.snapshotCur(docs100)
    val diff = Corpus.snapshotDiffDerived(docs100).localCheckpoint(false)
    time("q84 snapshot diff")(diff.count())
    val prevScores = Corpus.repetitionStatsFrom(prevDocs)
      .localCheckpoint(true) // the STORED table — not charged to q88
    time("q88 full rescore (baseline)")(
      Corpus.repetitionStatsFrom(curDocs).count())
    time("q88 incremental (carry + dirty-slice rescore)")(
      Corpus.incrementalScoresOf(prevScores, curDocs, diff).count())
    // the work-reduction component in isolation: the scorer subtree
    // over just the dirty slice vs the full corpus above
    val dirtyIds = diff.filter($"status".isin("added", "changed"))
      .select($"doc_id")
    time("q88 dirty-slice rescore alone")(
      Corpus.repetitionStatsFrom(
        curDocs.join(broadcast(dirtyIds), Seq("doc_id"))).count())
    // q92 at the same 100×: the stored tf carries; tokenization runs
    // over only the dirty slice, the rescore over the compact tf —
    // the saving is the corpus TEXT pass, not the scoring join
    val prevTf92 = Corpus.tfFrom(prevDocs)
      .localCheckpoint(true) // the STORED table — not charged to q92
    val prevVocab92 = Corpus.vocabFromTf(prevTf92).localCheckpoint(true)
    time("q92 full rescore from text (baseline)")(
      Corpus.unigramLogProbFrom(curDocs).count())
    time("q92 incremental (stored tf + vocab deltas + rescore)")(
      Corpus.incrementalLogProbOf(prevTf92, prevVocab92, curDocs, diff)
        .count())
    // q89 at 10×: full rebuild re-signs the whole corpus; incremental
    // signs the ~18% dirty slice and carries the stored index
    val prevD = Corpus.snapshotPrev(docs)
    val curD = Corpus.snapshotCur(docs)
    val diffD = Corpus.snapshotDiffDerived(docs).localCheckpoint(true)
    var idx: (DataFrame, DataFrame, DataFrame, DataFrame) = null
    time("q89 stored-index build (prev nightly run, not charged)") {
      idx = Dedup.indexState(prevD)
    }
    time("q89 full rebuild (baseline)")(
      Dedup.dedupKeepCorpusFrom(curD, Dedup.dedupClustersFrom(
        Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(curD)
          .localCheckpoint(false)).select($"doc_a", $"doc_b"))).count())
    time("q89 incremental (delta sign + index maintain)")(
      Dedup.incrementalKeepCorpusOf(idx._1, idx._2, idx._3, idx._4,
        curD, diffD)
        .count())
    time("q85 containment pairs")(Dedup.containmentPairsFrom(docs).count())
    time("q86 heavy hitters + CMS")(Corpus.heavyHittersFrom(docs).count())
    val media = graft.operators.Multimodal.mediaTableFrom(docs)
    time("q66 frame sample")(
      graft.operators.Multimodal.frameSampleFrom(media).count())
    time("q67 media resize")(
      graft.operators.Multimodal.mediaResizeFrom(media).count())

    // opt-in: pathological-diameter connected components. A 100k-node
    // path graph (diameter 100k) is the propagation tier's worst case;
    // dedupClustersFrom must escalate to the large-star/small-star
    // tier and converge in O(log n) rounds. Run with a 3rd arg "chain".
    if (args.contains("chain")) {
      val n = 100000L
      val chain = spark.range(n - 1)
        .select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
      time(s"q62 chain graph n=$n (escalates to star tier)") {
        val out = Dedup.dedupClustersFrom(chain)
          .agg(max($"cluster_id"), max($"cluster_size")).collect()(0)
        require(out.getLong(0) == 0L && out.getLong(1) == n,
          s"chain CC wrong: ${out}")
      }
    }

    val emb = graft.Tables.embeddings(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("vec_id", $"vec_id" * reps + $"rep")
      .drop("rep")
    println(s"embeddings rows: ${emb.count()}")
    time("q78 label coherence")(
      VectorOps.labelCoherenceFrom(emb).count())
    val vecs = emb
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("graft_l2norm(v)"))
    val queries = vecs.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    time("brute-force cosine 10 queries") {
      vecs.join(broadcast(queries), $"vec_id" =!= $"query_id")
        .select(expr("graft_dot(qv, v) / (qn * nrm)").as("c"))
        .agg(max($"c")).collect()
    }
    // q69 cell-blocked near-dups at 10×: replicas are byte-identical
    // vectors, so cells grow with N (every-100th-id seeding) and the
    // true-pair count explodes combinatorially (each clone family is
    // mutually cos=1.0) — the output-sensitive property; the exact
    // baseline's guard would refuse this corpus outright.
    val corpus = vecs.localCheckpoint(true)
    var cb: Array[(Long, Seq[Double])] = null
    time("q69 codebook fit (offline write-path, memoized in the named query)") {
      cb = VectorOps.fittedCentroids(corpus).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      println(s"  cells: ${cb.length}")
    }
    time("q69 ivf near-dup pairs (cell-blocked, fitted codebook)") {
      println(s"  pairs: ${VectorOps.ivfNearDupPairsFrom(corpus, cb).count()}")
    }
    // q91 at 10×: the stored assignment table carries under a
    // broadcast anti-join; only the ~18% dirty slice reassigns
    // against the frozen sample codebook
    var cb91: DataFrame = null
    time("q91 sample codebook fit (offline write-path, not charged)") {
      cb91 = VectorOps.fittedCentroids(
        VectorOps.vecSnapshotSample(corpus).localCheckpoint(false))
        .localCheckpoint(true)
    }
    var prevAssign91: DataFrame = null
    time("q91 stored assignment build (prev nightly run, not charged)") {
      prevAssign91 = VectorOps.assignCellsThin(
        VectorOps.vecSnapshotPrev(corpus), cb91).localCheckpoint(true)
    }
    val diff91 = VectorOps.vecSnapshotDiff(corpus).localCheckpoint(true)
    time("q91 full reassign (baseline)")(
      VectorOps.assignCellsThin(VectorOps.vecSnapshotCur(corpus), cb91)
        .count())
    time("q91 incremental (carry + dirty reassign)")(
      VectorOps.incrementalIvfAssignOf(prevAssign91,
        VectorOps.vecSnapshotCur(corpus), diff91, cb91).count())
    spark.stop()
  }
}
