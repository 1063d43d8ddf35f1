package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.Force.{resultHash, secs}
import graft.delta.Delta
import graft.operators.{Classify, Corpus, Dedup, Multimodal, TextOps,
  VectorOps, Weather}
import graft.streaming.{StreamingClean, StreamingCorpus}
import graft.syntax._

/** Scale receipts: the table of incremental-versus-full (and
  * arm-versus-arm) timings that SCALE.md quotes.
  *
  * A row is a scene builder (uncharged: amplified inputs, the stored
  * state a nightly run would have published) and two or more arms,
  * each delivering a DataFrame. Every row runs one protocol: one
  * uncharged warm-up pass, then interleaved passes, so co-load hits
  * every arm alike; each arm reports its minimum, its spread
  * (max/min) and the Spark jobs of its fastest pass. Every arm is
  * forced by [[graft.Force.resultHash]] over its full result — never
  * `.count()`, which lets Catalyst prune the measured work — and, where
  * the row says its arms must agree, the hashes must be equal.
  *
  * Usage: runMain graft.tools.Receipts <row>[,<row>...] <sfDir> [scale]
  * (scale defaults to the row's own; an unknown name lists the rows).
  * A row may also be any driver query name: the query alone, timed by
  * the same protocol.
  */
object Receipts {

  /** One measured arm: construction (eager checkpoints included) and
    * the full-result hash both run inside the timed region. */
  final case class Arm(label: String, run: () => DataFrame)

  /** The inputs every scene builds from: the fixture directory and
    * the amplification factor. */
  final case class Scene(spark: SparkSession, dir: String, scale: Int) {
    def docs: DataFrame = ampDocs(Tables.documents(spark, dir), scale)
    def embeddings: DataFrame =
      ampVecs(Tables.embeddings(spark, dir), scale)
    def vecs: DataFrame = VectorOps.vecsFrom(embeddings)
  }

  final case class Row(name: String, scale: Int, agree: Boolean,
                       passes: Int, build: Scene => Seq[Arm])

  /** What one arm delivered: its hash, its best wall, its spread and
    * the jobs of its best pass. */
  final case class Result(label: String, hash: String, best: Double,
                          spread: Double, jobs: Int, jobSum: Double)

  // ---------------------------------------------------------------
  // shared helpers: one job counter, one amplifier per input kind,
  // one snapshot builder
  // ---------------------------------------------------------------

  /** The job counter: every Spark job submitted while `f` runs, with
    * its wall in ms, broadcast and subquery jobs included. Job ids are
    * handed out in submission order and the listener bus delivers in
    * order, so once the closing marker job's end arrives, every job
    * between the two markers has reported. */
  private final class Jobs(sc: SparkContext) extends SparkListener {
    private val started = new ConcurrentHashMap[Int, java.lang.Long]
    private val walls = new ConcurrentHashMap[Int, java.lang.Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      walls.put(e.jobId, e.time - started.getOrDefault(e.jobId, e.time)); ()
    }
    private def marker(): Int = {
      val job = sc.parallelize(Seq(0), 1).countAsync()
      job.get()
      job.jobIds.head
    }
    def apply[A](f: => A): (A, Seq[Long]) = {
      val from = marker()
      val a = f
      val to = marker()
      while (!walls.containsKey(to)) Thread.sleep(5)
      val ms = (from + 1 until to).flatMap(id => Option(walls.get(id)))
        .map(_.longValue)
      (from to to).foreach { id => started.remove(id); walls.remove(id) }
      (a, ms)
    }
  }

  /** Documents ×k: replica `rep` gets doc_id·k + rep and a suffix —
    * " r<rep>" on the text (near-dup structure kept per replica), or
    * on every token when `tokenDisjoint` (vocabulary and stream length
    * grow ×k while the pair mass stays the fixture's own). */
  def ampDocs(docs: DataFrame, k: Int,
              tokenDisjoint: Boolean = false): DataFrame =
    if (k == 1) docs
    else docs
      .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("doc_id", $"doc_id" * k + $"rep")
      .withColumn("text", if (tokenDisjoint) expr(
          "array_join(transform(split(text, ' '), " +
            "t -> concat(t, '_', rep)), ' ')")
        else concat($"text", lit(" r"), $"rep"))
      .drop("rep")

  /** Embeddings ×k: byte-identical replicas at vec_id·k + rep. */
  def ampVecs(emb: DataFrame, k: Int): DataFrame =
    if (k == 1) emb
    else emb
      .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("vec_id", $"vec_id" * k + $"rep")
      .drop("rep")

  /** Events ×k: replica `rep` shifted by `rep` months of seconds, so
    * hour-group density stays constant while the group count scales. */
  def ampEvents(events: DataFrame, k: Int): DataFrame =
    if (k == 1) events
    else events
      .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("event_id", $"event_id" * k + $"rep")
      .withColumn("ts", expr("timestampadd(SECOND, rep * 2678400, ts)"))
      .drop("rep")

  /** Snapshot residues: prev lacks ids ≡ added (mod), cur lacks ids ≡
    * removed (mod), and ids ≡ changed (mod) carry new content. */
  final case class Mods(add: (Long, Long), rem: (Long, Long),
                        chg: (Long, Long))
  /** The engine's q84 derivation: ~18% of the corpus dirty. */
  val DefaultDirty = Mods(
    (Corpus.SnapAddedMod.toLong, Corpus.SnapAddedRes.toLong),
    (Corpus.SnapRemovedMod.toLong, Corpus.SnapRemovedRes.toLong),
    (Corpus.SnapChangedMod.toLong, Corpus.SnapChangedRes.toLong))
  /** ~1.9% of documents dirty: the nightly regime. */
  val LowDirtyDocs = Mods((170L, 3L), (190L, 7L), (130L, 5L))
  /** ~0.25% of vectors dirty: |dirty| × probes ≪ cells. */
  val LowDirtyVecs = Mods((1200L, 3L), (1240L, 7L), (1160L, 5L))

  final case class Snapshot(prev: DataFrame, cur: DataFrame, diff: Delta,
                            stable: DataFrame)

  /** A previous and a current crawl of `frame` keyed by `id`, their
    * delta, and the slice no diff touches. `content` is the digested
    * payload (text, or a vector's printed components). */
  def snapshot(frame: DataFrame, id: String, content: Column,
               m: Mods): Snapshot = {
    def is(r: (Long, Long)) = col(id) % r._1 === r._2
    val prev = frame.filter(!is(m.add))
    val cur = frame.filter(!is(m.rem)).localCheckpoint(true)
    val diff = Delta(Corpus.snapshotDiffOf(
        prev.select(col(id), md5(when(is(m.chg),
          concat(content, lit(":prev"))).otherwise(content)
          .cast(BinaryType)).as("prev_digest")),
        cur.select(col(id), md5(content.cast(BinaryType)).as("cur_digest")),
        id).select(col(id), $"status").localCheckpoint(true), id)
    diff.status.groupBy($"status").count().orderBy($"status").collect()
      .foreach(r => println(s"  diff ${r.get(0)}: ${r.get(1)}"))
    Snapshot(prev, cur, diff,
      frame.filter(!is(m.add) && !is(m.rem) && !is(m.chg)))
  }

  private def docSnapshot(s: Scene, m: Mods): Snapshot =
    snapshot(s.docs, "doc_id", $"text", m)

  private def vecSnapshot(vecs: DataFrame, m: Mods): Snapshot =
    snapshot(vecs, "vec_id",
      concat_ws(",", expr("transform(v, x -> CAST(x AS STRING))")), m)

  // ---------------------------------------------------------------
  // row scenes
  // ---------------------------------------------------------------

  /** The single-operator 10× sweep: one arm per operator, no
    * agreement (they compute different things). */
  private def sweep(s: Scene): Seq[Arm] = {
    val docs = s.docs.localCheckpoint(true)
    val fps = Dedup.shingleFpsFrom(docs).localCheckpoint(true)
    val lsh = Dedup.lshNearDupPairsFrom(fps).select($"doc_a", $"doc_b")
      .localCheckpoint(true)
    val emb = s.embeddings.localCheckpoint(true)
    val vecs = VectorOps.vecsFrom(emb).localCheckpoint(true)
    val queries = vecs.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val cb = VectorOps.fittedCentroids(vecs).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val media = Multimodal.mediaTableFrom(docs)
    Seq(
      "silver clean (kernel)" -> (() => Weather.cleanToHourly(
        Weather.bronzeFromEvents(
          ampEvents(Tables.events(s.spark, s.dir), s.scale)))),
      "shingle fps" -> (() => Dedup.shingleFpsFrom(docs)),
      "LSH near-dup pairs" -> (() => Dedup.lshNearDupPairsFrom(fps)),
      "q58 split assign" -> (() => Corpus.splitAssignFrom(docs)),
      "q59 decontaminate" -> (() => Corpus.decontaminateFrom(docs)),
      "q60 vocabulary" -> (() => Corpus.vocabularyFrom(docs)),
      "q61 pii redact" -> (() => Corpus.piiRedactFrom(docs)),
      "q62 dedup clusters" -> (() => Dedup.dedupClustersFrom(lsh)),
      "q63 filter funnel" -> (() => Corpus.filterFunnelFrom(docs)),
      "q64 shard pack" -> (() => Corpus.shardPackFrom(docs)),
      "q65 tf-idf top terms" -> (() => Corpus.tfidfTopTermsFrom(docs)),
      "q72 chunk docs" -> (() => Corpus.chunkDocsFrom(docs)),
      "q73 repetition stats" -> (() => Corpus.repetitionStatsFrom(docs)),
      "q74 unigram logprob" -> (() => Corpus.unigramLogProbFrom(docs)),
      "q75 mixture sample" -> (() => Corpus.mixtureSampleFrom(docs,
        Corpus.MixtureRates, Corpus.MixtureDefaultRate)),
      "q76 training corpus" -> (() => Corpus.trainingCorpusFrom(s.spark, docs)),
      "q77 source cap" -> (() =>
        Corpus.sourceCapFrom(docs, Corpus.SourceCapN)),
      "q79 seq pack" -> (() => Corpus.seqPackFrom(docs)),
      "q80 bpe pairs" -> (() => Corpus.bpePairStatsFrom(docs)),
      "q81 length quantiles" -> (() => Corpus.lengthQuantilesFrom(docs)),
      "q82 repeated spans" -> (() => Dedup.repeatedSpansFrom(docs)),
      "q83 ppl buckets" -> (() => Corpus.perplexityBucketsFrom(docs)),
      "q83 ppl buckets (sketch)" -> (() =>
        Corpus.perplexityBucketsSketch(docs)),
      "q84 snapshot diff" -> (() =>
        Corpus.snapshotDiffDerived(docs).orderBy($"doc_id")),
      "q85 containment pairs" -> (() => Dedup.prefixContainmentPairsFrom(docs)),
      "q86 heavy hitters + CMS" -> (() => Corpus.heavyHittersFrom(docs)),
      "q66 frame sample" -> (() => Multimodal.frameSampleFrom(media)),
      "q67 media resize" -> (() => Multimodal.mediaResizeFrom(media)),
      "q78 label coherence" -> (() => VectorOps.labelCoherenceFrom(emb)),
      "brute-force cosine 10 queries" -> (() =>
        vecs.join(broadcast(queries), $"vec_id" =!= $"query_id")
          .select(expr("graft_dot(qv, v) / (qn * nrm)").as("c"))
          .agg(max($"c"))),
      "q69 ivf near-dup pairs" -> (() => VectorOps.ivfNearDupPairsFrom(vecs, cb))
    ).map { case (l, f) => Arm(l, f) }
  }

  /** q88/q92 at scale² (100× from 10×): the scorer has to be the cost
    * before the incremental plan's extra joins pay for themselves. */
  private def scored(s: Scene)(stored: DataFrame => DataFrame,
      full: DataFrame => DataFrame,
      incr: (DataFrame, DataFrame, Delta) => DataFrame): Seq[Arm] = {
    val docs = ampDocs(s.docs, s.scale)
    val cur = Corpus.snapshotCur(docs)
    val diff = Delta(Corpus.snapshotDiffDerived(docs).localCheckpoint(true),
      "doc_id")
    val prev = stored(Corpus.snapshotPrev(docs)).localCheckpoint(true)
    Seq(Arm("full", () => full(cur)), Arm("incremental",
      () => incr(prev, cur, diff)))
  }

  /** q89's kept corpus: full rebuild vs the maintained stored index. */
  private def keepArms(snap: Snapshot): Seq[Arm] = {
    val idx = Dedup.indexState(snap.prev)
    Seq(Arm("full", () => Dedup.dedupKeepCorpusFrom(snap.cur,
        Dedup.dedupClustersFrom(fullPairs(snap.cur)))),
      Arm("incremental", () => Dedup.incrementalKeepCorpusOf(idx._1,
        idx._2, idx._3, idx._4, snap.cur, snap.diff)))
  }

  private def fullPairs(docs: DataFrame): DataFrame =
    Dedup.lshNearDupPairsFrom(Dedup.shingleFpsFrom(docs)
      .localCheckpoint(false)).select($"doc_a", $"doc_b")

  private def labels(pairs: DataFrame): DataFrame =
    Dedup.clusterLabels(pairs).select($"doc_id", $"lbl".as("cluster_id"))

  /** The q126 crossover over `rounds` merges from `words`: fold each
    * merged pair's signed deltas into the pair table, or recount each
    * merged word table. The merge sequence is the scene's. */
  private def bpeRounds(words: DataFrame, rounds: Int): Seq[Arm] = {
    val pc = Corpus.bpePairRecount(words).localCheckpoint(true)
    var (w, t) = (words, pc)
    val steps = (1 to rounds).map { _ =>
      val pair = t.orderBy($"pair_count".desc, $"pair".asc).limit(1)
        .collect()(0).getString(0)
      val merged = Corpus.bpeApplyMerge(w, pair).localCheckpoint(true)
      t = Corpus.bpeFoldDeltas(t, Corpus.bpePairDeltas(w, pair))
        .localCheckpoint(true)
      val step = (w, pair, merged)
      w = merged
      step
    }
    println(s"  ${words.count()} distinct words, ${pc.count()} pairs; " +
      s"merges ${steps.map(_._2).mkString("'", "', '", "'")}")
    Seq(Arm(s"full recount x$rounds", () => steps.map { case (_, _, m) =>
        Corpus.bpePairRecount(m).localCheckpoint(true)
      }.last.select($"pair", $"pair_count")),
      Arm(s"delta-fold x$rounds", () => steps.foldLeft(pc) {
        case (acc, (before, pair, _)) => Corpus.bpeFoldDeltas(acc,
          Corpus.bpePairDeltas(before, pair)).localCheckpoint(true)
      }.select($"pair", $"pair_count")))
  }

  /** 2,000·scale hash-random docs over a 50k-word space (near-disjoint:
    * no true pairs, so the join cost is isolated), each with one of
    * 30-token boilerplate blocks shared by `df` docs. */
  private def boilerplateCorpus(s: Scene): DataFrame = {
    val n = 2000L * s.scale
    // hot past the 256 cutoff from scale 4; 2,000 from scale 25
    val df = math.min(2000L, 80L * s.scale)
    val b = n / df
    println(s"  $n docs, $b boilerplate groups (shingle df ≈ $df)")
    s.spark.range(n).select($"id".as("doc_id"), concat(randText($"id"),
        lit(" "), concat_ws(" ", transform(sequence(lit(1), lit(30)),
          i => concat(lit("b"), pmod($"id", lit(b)), lit("x"), i))))
      .as("text"))
      .localCheckpoint(true)
  }

  private def randText(seed: Column): Column =
    concat_ws(" ", transform(sequence(lit(1), lit(50)),
      i => concat(lit("w"), pmod(hash(seed, i), lit(50000)))))

  /** q132 at one dirty fraction: 2,000·scale near-disjoint docs with
    * a planted twin per 50; the diff changes ids ≡ 1 (mod `m`). */
  private def prefixIncr(s: Scene, m: Long): Seq[Arm] = {
    val n = 2000L * s.scale
    val base = s.spark.range(n).select($"id".as("doc_id"),
      randText($"id").as("text"))
    val twins = s.spark.range(n).filter($"id" % 50L === 0L)
      .select(($"id" + n).as("doc_id"),
        concat(randText($"id"), lit(" twintail")).as("text"))
    val prev = base.unionByName(twins).localCheckpoint(true)
    val cur = prev.select($"doc_id", when($"doc_id" % m === 1L,
        concat($"text", lit(" zz"), $"doc_id")).otherwise($"text")
        .as("text"))
      .localCheckpoint(true)
    val diff = Delta(Corpus.snapshotDiffOf(
        prev.select($"doc_id", md5($"text".cast(BinaryType)).as("prev_digest")),
        cur.select($"doc_id", md5($"text".cast(BinaryType)).as("cur_digest")))
      .localCheckpoint(true), "doc_id")
    // all four published tables: q132 reads stored state, so deriving
    // df and kept sizes per call would charge the nightly publish
    val fps = Dedup.shingleFpsFrom(prev).localCheckpoint(true)
    val verdicts = Dedup.prefixJaccardPairsFrom(prev, threshold = 0.8)
      .localCheckpoint(true)
    val dfT = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    val sizes = fps.join(broadcast(dfT.filter($"df" > Dedup.MaxShingleDocFreq)
        .select($"fp")), Seq("fp"), "left_anti")
      .groupBy($"doc_id").agg(count(lit(1)).as("n")).localCheckpoint(true)
    Seq(Arm("rebuild", () => Dedup.prefixJaccardPairsFrom(cur, threshold = 0.8)),
      Arm("incremental", () => Dedup.incrementalPrefixJaccardOf(fps,
        verdicts, cur, diff, threshold = 0.8, storedDf = Some(dfT),
        storedSz = Some(sizes))))
  }

  /** q93/q95 semantic keep: full N-probe rebuild vs maintenance of the
    * stored index (stable-slice codebook, assignment, verified pairs). */
  private def semantic(s: Scene, m: Mods): Seq[Arm] = {
    val emb = s.embeddings.localCheckpoint(true)
    val snap = vecSnapshot(VectorOps.vecsFrom(emb).localCheckpoint(true), m)
    val cb = VectorOps.fittedCentroids(snap.stable.localCheckpoint(false))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val prev = snap.prev.localCheckpoint(false)
    val prevAssign = VectorOps.assignCellsProbes(prev, cb,
        VectorOps.NearDupProbes)
      .select($"vec_id", $"cell_id").localCheckpoint(true)
    val prevPairs = VectorOps.ivfNearDupPairsProbes(prev, cb,
        VectorOps.NearDupProbes)
      .select($"vec_a", $"vec_b").localCheckpoint(true)
    val curEmb = emb.filter(!($"vec_id" % m.rem._1 === m.rem._2))
      .localCheckpoint(true)
    Seq(Arm("full", () => VectorOps.semanticKeepCorpusFrom(curEmb,
        VectorOps.ivfNearDupPairsProbes(snap.cur, cb, VectorOps.NearDupProbes))),
      Arm("incremental", () => VectorOps.incrementalSemanticKeepOf(
        prevAssign, prevPairs, curEmb, snap.diff, cb)))
  }

  val Rows: Seq[Row] = Seq(
    Row("sweep", 10, agree = false, passes = 1, sweep),
    Row("q88", 10, agree = true, passes = 3, s => scored(s)(
      Corpus.repetitionStatsFrom, Corpus.repetitionStatsFrom,
      Corpus.incrementalScoresOf)),
    Row("q92", 10, agree = true, passes = 3, s => scored(s)(
      Corpus.tfFrom, Corpus.unigramLogProbFrom, (tf, cur, diff) =>
        Corpus.incrementalLogProbOf(tf,
          Corpus.vocabFromTf(tf).localCheckpoint(true), cur, diff))),
    Row("q89", 10, agree = true, passes = 3,
      s => keepArms(docSnapshot(s, DefaultDirty))),
    Row("q89lowdirty", 10, agree = true, passes = 3,
      s => keepArms(docSnapshot(s, LowDirtyDocs))),
    Row("q104lowdirty", 10, agree = true, passes = 3, { s =>
      val snap = docSnapshot(s, LowDirtyDocs)
      val idx = Dedup.indexState(snap.prev)
      Seq(Arm("full", () => Dedup.canonicalKeepCorpusFrom(snap.cur,
          labels(fullPairs(snap.cur)))),
        Arm("incremental", () => Dedup.canonicalKeepCorpusFrom(snap.cur,
          labels(Dedup.maintainedVerifiedPairs(idx._1, idx._2, idx._3,
            idx._4, snap.cur, snap.diff)))))
    }),
    // one machinery run publishes the verified pairs and their labels;
    // every consumer then reads published leaves
    Row("publishonce", 10, agree = false, passes = 3, { s =>
      val snap = docSnapshot(s, LowDirtyDocs)
      val idx = Dedup.indexState(snap.prev)
      def publish() = {
        val pairs = Dedup.maintainedVerifiedPairs(idx._1, idx._2, idx._3,
          idx._4, snap.cur, snap.diff).localCheckpoint(true)
        (pairs, labels(pairs).localCheckpoint(true))
      }
      val (pairs, cl) = publish()
      Seq(Arm("full q104 recompute", () => Dedup.canonicalKeepCorpusFrom(
          snap.cur, labels(fullPairs(snap.cur)))),
        Arm("publish", () => publish()._2),
        Arm("q104 consumer", () => Dedup.canonicalKeepCorpusFrom(snap.cur, cl)),
        Arm("q101-keeper consumer", () => Dedup.dedupKeepCorpusFrom(snap.cur, cl)),
        Arm("q107 read", () => pairs.orderBy($"doc_a", $"doc_b")))
    }),
    // keeper policy over one pair table: min-id (q70) vs best quality
    // (q103) — same cardinality, different members
    Row("q103deep", 10, agree = false, passes = 3, { s =>
      val docs = s.docs
      val pairs = fullPairs(docs).localCheckpoint(true)
      Seq(Arm("q70", () => Dedup.dedupKeepCorpusFrom(docs,
          Dedup.dedupClustersFrom(pairs))),
        Arm("q103", () => Dedup.canonicalKeepCorpusFrom(docs, labels(pairs))))
    }),
    Row("q115lowdirty", 10, agree = true, passes = 3, { s =>
      val snap = docSnapshot(s, LowDirtyDocs)
      val spans = Dedup.spansOf(Dedup.spanToksFrom(snap.prev))
        .localCheckpoint(true)
      val out = Dedup.spanDedupFrom(snap.prev).localCheckpoint(true)
      Seq(Arm("full", () => Dedup.spanDedupFrom(snap.cur)),
        Arm("incremental", () => Dedup.incrementalSpanDedupOf(spans, out,
          snap.cur, snap.diff)))
    }),
    Row("q116lowdirty", 10, agree = true, passes = 3, { s =>
      val snap = docSnapshot(s, LowDirtyDocs)
      val prevTf = Classify.docTf(snap.prev).localCheckpoint(true)
      val train = Classify.trainSlice(snap.prev)
      val meta = train.select($"doc_id", $"lang").localCheckpoint(true)
      val trainTf = Classify.docTf(train).join(meta, Seq("doc_id"))
        .select($"doc_id", $"lang", $"token", $"tf").localCheckpoint(true)
      val wc = trainTf.groupBy($"lang", $"token").agg(sum($"tf").as("cnt"))
        .localCheckpoint(true)
      val cdoc = meta.groupBy($"lang").agg(count(lit(1)).as("n_docs_c"))
        .localCheckpoint(true)
      Seq(Arm("full", () => Classify.nbClassifyFrom(snap.cur)),
        Arm("incremental", () => Classify.incrementalNbClassifyOf(prevTf,
          meta, trainTf, wc, cdoc, snap.cur, snap.diff)))
    }),
    // q91 against the frozen sample codebook: the assignment pass is
    // the cost from 50× (≈ 850 cells)
    Row("q91", 10, agree = true, passes = 3, { s =>
      val vecs = s.vecs.localCheckpoint(true)
      val cb = VectorOps.fittedCentroids(VectorOps.vecSnapshotSample(vecs)
        .localCheckpoint(false)).localCheckpoint(true)
      val prev = VectorOps.assignCellsThin(VectorOps.vecSnapshotPrev(vecs),
        cb).localCheckpoint(true)
      val diff = Delta(VectorOps.vecSnapshotDiff(vecs).localCheckpoint(true),
        "vec_id")
      val cur = VectorOps.vecSnapshotCur(vecs)
      Seq(Arm("full", () => VectorOps.assignCellsThin(cur, cb)),
        Arm("incremental", () =>
          VectorOps.incrementalIvfAssignOf(prev, cur, diff, cb)))
    }),
    // the default mods dirty every cell: the rebuild-trigger regime
    Row("q93deep", 10, agree = true, passes = 3,
      s => semantic(s, DefaultDirty)),
    Row("q93lowdirty", 10, agree = true, passes = 3,
      s => semantic(s, LowDirtyVecs)),
    Row("q125lowdirty", 50, agree = true, passes = 3, { s =>
      val snap = vecSnapshot(s.vecs.localCheckpoint(true), LowDirtyVecs)
      // a base-sized stable sample in base id space: production
      // codebooks are fixed-size, and the fit's seed is id-patterned
      val books = VectorOps.pqCodebooksFrom(snap.stable
          .filter($"vec_id" % s.scale === 0)
          .withColumn("vec_id", ($"vec_id" / s.scale).cast(LongType))
          .localCheckpoint(false))
        .localCheckpoint(true)
      val prev = VectorOps.pqAssign(VectorOps.subVecs(snap.prev), books)
        .select($"vec_id", $"m", $"code", $"dist2").localCheckpoint(true)
      Seq(Arm("full", () => VectorOps.pqAssign(VectorOps.subVecs(snap.cur),
          books).select($"vec_id", $"m", $"code", $"dist2")),
        Arm("incremental", () =>
          VectorOps.incrementalPqCodesOf(prev, snap.cur, snap.diff, books)))
    }),
    // the BpeDeltaMinVocab crossover on a synthetic V-word Zipf
    // vocabulary (V = scale): word i spells i's base-20 digits
    Row("bpevocab", 2000000, agree = true, passes = 3, { s =>
      val v = s.scale.toLong.max(1000L)
      bpeRounds(s.spark.range(v)
        .select(array_join(expr(
          "transform(sequence(1, length(conv(id, 10, 20))), " +
            "i -> chr(97 + CAST(conv(substring(conv(id, 10, 20), i, 1), " +
            "20, 10) AS INT)))"), "  ").as("repr"),
          (lit(v) / ($"id" + 1L)).cast(LongType).as("cnt"))
        .groupBy($"repr").agg(sum($"cnt").as("cnt"))
        .localCheckpoint(true), rounds = 5)
    }),
    Row("bpedeltas", 10, agree = true, passes = 3, s => bpeRounds(
      Corpus.bpeInitialWords(s.docs).localCheckpoint(true), rounds = 10)),
    // the whole q126 loop forced down each arm; both give one merge list
    Row("bpearm", 10, agree = true, passes = 3, { s =>
      val docs = s.docs.localCheckpoint(true)
      Seq(Arm("recount arm", () =>
          Corpus.bpeTrainFrom(s.spark, docs, deltaMinVocab = Long.MaxValue)),
        Arm("delta arm", () =>
          Corpus.bpeTrainFrom(s.spark, docs, deltaMinVocab = 0L)))
    }),
    // q129 encode against one plain token pass; the merge table is the
    // published artifact, trained in the scene
    Row("q129encode", 10, agree = false, passes = 3, { s =>
      val docs = s.docs.localCheckpoint(true)
      val merges = Corpus.bpeTrainFrom(s.spark, docs).collect()
        .map(_.getString(1)).toSeq
      Seq(Arm("token scan", () => docs.select($"doc_id",
            explode(TextOps.tokens($"text")).as("token"))
          .groupBy($"doc_id").agg(count(lit(1)))),
        Arm("encode", () => Corpus.bpeEncodeFrom(docs, merges)))
    }),
    // q74/q114 against the one tokenize scan any engine pays: wall grows
    // with data while the job count (the per-job floor) stays fixed
    Row("textfloor", 100, agree = false, passes = 2, { s =>
      val docs = s.docs.localCheckpoint(true)
      Seq(Arm("one tokenize scan", () => docs
          .select(explode(TextOps.tokens($"text")).as("t"))
          .groupBy($"t").agg(count(lit(1)))),
        Arm("q74 unigram logprob", () => Corpus.unigramLogProbFrom(docs)),
        Arm("q114 nb classifier", () => Classify.nbClassifyFrom(docs)))
    }),
    // prefix filtering needs no hot-shingle cutoff: q45 with its cutoff,
    // q130 over the full universe, q45 over the full universe
    Row("prefixjac", 25, agree = true, passes = 2, { s =>
      val docs = boilerplateCorpus(s)
      Seq(Arm("q45 brute, cutoff 256", () =>
          Dedup.jaccardPairsFrom(docs, threshold = 0.8)),
        Arm("q130 prefix, no cutoff", () => Dedup.prefixJaccardPairsFrom(
          docs, threshold = 0.8, maxDocFreq = Int.MaxValue)),
        Arm("q45 brute, no cutoff", () => Dedup.jaccardPairsFrom(docs,
          threshold = 0.8, maxDocFreq = Int.MaxValue)))
    })) ++
    // the q132 dirty-fraction sweep: ~5%, ~20%, ~50% of docs changed
    Seq(20L -> "5", 5L -> "20", 2L -> "50").map { case (m, pct) =>
      Row(s"prefixjacincr-$pct", 25, agree = true, passes = 3,
        s => prefixIncr(s, m))
    } ++ Seq(
    // MaxDocsPerVec: the occupancy histogram and the over-bound count
    // probe the guard; the published vec pair table is the scene's
    Row("q128deep", 10, agree = false, passes = 3, { s =>
      val emb = s.embeddings.localCheckpoint(true)
      val frames = Multimodal.frameSampleFrom(Multimodal.mediaTableFrom(s.docs))
        .localCheckpoint(true)
      println("  docs-per-vector occupancy -> vec_ids: " +
        Multimodal.frameVecLookup(frames, emb).groupBy($"vec_id")
          .agg(count(lit(1)).as("occ")).groupBy($"occ").count()
          .orderBy($"occ").collect().map(r => s"${r.get(0)}->${r.get(1)}")
          .mkString(" "))
      println(s"  vec_ids over MaxDocsPerVec=${Multimodal.MaxDocsPerVec}: " +
        Multimodal.crossModalSkippedVecsFrom(frames, emb).count())
      val vecs = VectorOps.vecsFrom(emb).localCheckpoint(true)
      val pairs = VectorOps.ivfNearDupPairsFrom(vecs,
          VectorOps.fittedCentroids(vecs).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1))))
        .select($"vec_a", $"vec_b").localCheckpoint(true)
      Seq(Arm("edges", () => Multimodal.crossModalEdges(frames, emb, pairs)),
        Arm("keep", () => Multimodal.crossModalKeepFrom(frames, emb, pairs)))
    }),
    // q127: ingest-time encoding drained in 10 micro-batches or 1,
    // against the one-shot batch encode; the models are the scene's
    Row("q127stream", 10, agree = true, passes = 3, { s =>
      val emb = s.embeddings.localCheckpoint(true)
      val vecs = VectorOps.vecsFrom(emb).localCheckpoint(true)
      val books = VectorOps.pqCodebooksFrom(vecs).collect()
        .map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Double](2).toIndexedSeq: Seq[Double]))
      val cents = VectorOps.fittedCentroids(vecs).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq: Seq[Double]))
      val staged = StreamingClean.trackedTempDir("graft-pq-in-") + "/embs"
      emb.repartitionByRange(10, $"vec_id").write.parquet(staged)
      Seq(Arm("batch encode", () =>
          VectorOps.streamEncodeBatch(emb, books, cents)),
        Arm("stream, 10 batches", () => StreamingCorpus.pqEncodeStream(
          s.spark, staged, books, cents, maxFilesPerTrigger = Some(1))),
        Arm("stream, 1 batch", () => StreamingCorpus.pqEncodeStream(
          s.spark, staged, books, cents)))
    }),
    // q134 exact streaming pairs over 16 equal micro-batches (2 per
    // scale below 8) against one batch q130 over the same docs: the
    // drain must agree, and its first- and second-half batch times show
    // whether per-batch cost stays flat in the batch index
    Row("xpair", 10, agree = true, passes = 3, { s =>
      val n = math.min(16, 2 * s.scale)
      val docs = ampDocs(Tables.documents(s.spark, s.dir), s.scale,
        tokenDisjoint = true).localCheckpoint(true)
      val batches = (0 until n).map(k =>
        docs.filter($"doc_id" % n === k).localCheckpoint(true))
      Seq(Arm("batch q130", () => Dedup.prefixJaccardPairsFrom(docs,
          threshold = Dedup.PrefixJaccardThreshold)),
        Arm("maintained", { () =>
          val root = StreamingClean.trackedTempDir("graft-xpair-")
          val ts = batches.map(b =>
            secs(StreamingCorpus.processPrefixPairBatch(b, root))._2)
          println(f"    maintained: first-half batches ${ts.take(n / 2).sum}%.2f s" +
            f", second-half ${ts.drop(n / 2).sum}%.2f s")
          StreamingCorpus.resolvePrefixPairs(s.spark, root)
        }))
    }),
    // q62 on a 10,000·scale path graph (diameter n): the propagation
    // tier must escalate to the star tier; one component, min-id label
    Row("chain", 10, agree = true, passes = 3, { s =>
      val n = 10000L * s.scale
      val chain = s.spark.range(n - 1)
        .select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
      Seq(Arm("q62 clusters", () => Dedup.dedupClustersFrom(chain)),
        Arm("one component", () => s.spark.range(n).select($"id".as("doc_id"),
          lit(0L).as("cluster_id"), lit(n).as("cluster_size"))))
    }),
    // stage attribution of the q136 exact kept corpus, each stage from
    // its materialized input: pairs → clusters → keep
    Row("q136", 1, agree = false, passes = 3, { s =>
      val docs = s.docs
      def pairs() = Dedup.prefixJaccardPairsOver(Dedup.shingleFpsFrom(docs),
        "fp", Dedup.PrefixJaccardThreshold).select($"doc_a", $"doc_b")
      val stored = pairs().localCheckpoint(true)
      val clusters = Dedup.dedupClustersFrom(stored).localCheckpoint(true)
      Seq(Arm("pairs", () => pairs()),
        Arm("clusters", () => Dedup.dedupClustersFrom(stored)),
        Arm("keep", () => Dedup.dedupKeepCorpusFrom(docs, clusters)))
    }),
    // the text-scoring family's per-job floor, as driver queries over
    // the fixture itself: jobs × per-job cost vs wall
    Row("floors", 1, agree = false, passes = 3, s =>
      Seq("q114_nb_classifier", "q116_incremental_nb",
        "q109_incremental_bigram", "q83_ppl_buckets", "q74_unigram_logprob",
        "q65_tfidf_topterms").map(queryArm(s, _)))
  )

  /** A driver query as an arm over the fixture itself (scale unused). */
  private def queryArm(s: Scene, q: String): Arm =
    Arm(q, () => SparkEntry.queries(q)(s.spark, s.dir))

  /** The row named `name`: a table row, or any driver query
    * (`SparkEntry.queries`) as a one-arm row, the `floors` arm shape. */
  def row(name: String): Option[Row] =
    Rows.find(_.name == name).orElse(SparkEntry.queries.get(name).map(_ =>
      Row(name, 1, agree = false, passes = 3, s => Seq(queryArm(s, name)))))

  /** Run one row: build its scene, warm every arm once (the hashes of
    * that pass are the agreement check), then `passes` interleaved
    * timed passes, each required to reproduce its arm's hash. */
  def run(spark: SparkSession, row: Row, dir: String, scale: Int,
          passes: Int): Seq[Result] = {
    val jobs = new Jobs(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobs)
    try {
      println(s"[receipt] ${row.name} at ${scale}x over $dir")
      val (arms, tScene) = secs(row.build(Scene(spark, dir, scale)))
      println(f"  scene built in $tScene%.2f s (not charged)")
      val hashes = arms.map { a =>
        val (h, t) = secs(resultHash(a.run()))
        println(f"  warm-up ${a.label}: $t%.2f s, hash $h")
        h
      }
      if (row.agree) require(hashes.distinct.size == 1,
        s"${row.name}: arms disagree: " +
          arms.map(_.label).zip(hashes).mkString(", "))
      val timed = (1 to passes).map { p =>
        arms.zip(hashes).map { case (a, h0) =>
          val ((h, t), ms) = jobs(secs(resultHash(a.run())))
          require(h == h0, s"${row.name}/${a.label} pass $p: hash $h, " +
            s"warm-up $h0")
          println(f"  pass $p ${a.label}: $t%.2f s, ${ms.size} jobs")
          (t, ms)
        }
      }
      val results = arms.indices.map { i =>
        val runs = timed.map(_(i))
        val (best, ms) = if (runs.isEmpty) (Double.NaN, Seq.empty[Long])
          else runs.minBy(_._1)
        Result(arms(i).label, hashes(i), best,
          if (runs.isEmpty) Double.NaN else runs.map(_._1).max / best,
          ms.size, ms.sum / 1e3)
      }
      results.foreach(r => println(f"${row.name} ${scale}x ${r.label}: " +
        f"min ${r.best}%.2f s (${r.best / results.head.best}%.2f of " +
        f"${results.head.label}), spread ${r.spread}%.2f, ${r.jobs} jobs " +
        f"(job-sum ${r.jobSum}%.2f s)"))
      if (row.agree) println(s"${row.name} ${scale}x: hashes agree (${hashes.head})")
      results
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  def main(args: Array[String]): Unit = {
    val picked = args.headOption.toSeq.flatMap(_.split(',')).map(row)
    if (args.length < 2 || picked.contains(None)) {
      System.err.println("usage: Receipts <row>[,<row>...] <sfDir> [scale]" +
        "\nrows: " + Rows.map(r => s"${r.name} (${r.scale}x)").mkString(", ") +
        ", or any driver query name (one arm, 3 passes)")
      sys.exit(2)
    }
    val spark = graft.Session.local("graft-receipts")
    spark.sparkContext.setLogLevel("ERROR")
    try picked.flatten.foreach(row => run(spark, row, args(1),
      args.lift(2).fold(row.scale)(_.toInt), row.passes))
    finally spark.stop()
  }
}
