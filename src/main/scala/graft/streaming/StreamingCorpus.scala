package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.delta.Delta
import graft.syntax._

/** The corpus-dedup operator family under Structured Streaming: exact
  * deduplication of an ARRIVING document stream — the ingest-time shape
  * of a training-data pipeline, where dedup state must persist across
  * micro-batches instead of being a one-shot groupBy.
  *
  * State per content fingerprint = (smallest doc_id seen, copies seen),
  * held in `flatMapGroupsWithState` — the `KeyValueGroupedDataset`
  * custom-state path (SURVEY §2.11). Both state fields are
  * order-independent reductions (min / count), so the drained result is
  * byte-identical to the batch q44 groupBy NO MATTER how documents are
  * split into micro-batches or in what order they arrive — which is
  * what makes the streaming path oracle-checkable against the batch
  * SQL, the same parity discipline q34 applies to the weather kernel.
  *
  * Scale notes: state is one (16-byte digest, two longs) entry per
  * DISTINCT document — bounded by corpus content, not stream length;
  * at 10⁹ distinct docs the state store shards across executors by the
  * digest (the same key the batch shuffle uses). In a live (unbounded)
  * deployment the emitted changelog feeds the downstream sink in
  * Update mode; `Trigger.AvailableNow` here drains a bounded backlog
  * and stops, exactly like the weather clean (StreamingClean).
  */
object StreamingCorpus {

  /** documents.parquet raw schema for the streaming reader. */
  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming reader over a documents parquet file or directory. */
  def readDocumentsStream(spark: SparkSession, docsPath: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Drain.files(spark, docsPath, documentsRawSchema, maxFilesPerTrigger)

  case class FpDoc(fp: String, doc_id: Long)
  case class FpState(fp: String, keeper_doc_id: Long, n_copies: Long)

  /** Drain `docsPath` through the stateful dedup and return the final
    * (fp, keeper_doc_id, n_copies) table — the q44 shape. The memory
    * sink holds the Update-mode changelog (one row per fingerprint per
    * batch whose state changed); the final reduction keeps each
    * fingerprint's last state via order-independent min/max (keeper
    * only ever decreases, copies only ever grow). */
  def dedupStream(spark: SparkSession, docsPath: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits.{newProductEncoder, newStringEncoder}
    val fps = readDocumentsStream(spark, docsPath, maxFilesPerTrigger)
      .select(
        md5(regexp_replace(lower(trim($"text")), "\\s+", " ")
          .cast(BinaryType)).as("fp"),
        $"doc_id")
      .as[FpDoc]
    val updater = (fp: String, rows: Iterator[FpDoc],
                   state: GroupState[FpState]) => {
      val batch = rows.toSeq
      val prev = state.getOption
      val next = FpState(fp,
        (prev.map(_.keeper_doc_id) ++ batch.map(_.doc_id)).min,
        prev.map(_.n_copies).getOrElse(0L) + batch.size)
      state.update(next)
      // the updater only runs for keys with rows in the batch, so
      // n_copies strictly grew — every invocation IS a state change
      // and emits one changelog row
      Iterator(next)
    }
    val changelog = fps.groupByKey(_.fp)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(updater)
    Drain.memory(changelog, "graft_corpus_dedup_", OutputMode.Update)(
      _.groupBy($"fp")
        .agg(min($"keeper_doc_id").as("keeper_doc_id"),
             max($"n_copies").as("n_copies"))
        .orderBy($"keeper_doc_id"))
  }

  /** q68 — streaming-vs-batch dedup parity: the full stateful pipeline
    * over the fixture documents. Its oracle is the BATCH q44 SQL —
    * passing means ingest-time dedup state converges to exactly what
    * the one-shot groupBy computes. */
  def dedupViaStreaming(spark: SparkSession, sfDir: String): DataFrame =
    dedupStream(spark, s"$sfDir/documents.parquet")

  // ---------------------------------------------------------------
  // q71 — streaming NEAR-dup dedup (VERDICT r6 item 1): ingest-time
  // MinHash-band LSH, the streaming twin of the batch q47→q62→q70
  // chain. Exact-digest state (q68) only catches byte-identical
  // copies; a real ingest pipeline also wants near-dups caught as
  // documents ARRIVE — each micro-batch signs its documents, probes
  // the band-bucket state accumulated by every earlier batch, and
  // records the candidate pairs it discovers, so a document arriving
  // Tuesday pairs with its Monday near-original without waiting for
  // the nightly batch.
  //
  // State lives in append-only parquet LOGS under one state root —
  // bands (doc_id, band_id, band_val), fps (doc_id, fp), cand
  // (band-tagged candidate pairs), docs (the corpus itself) — NOT in
  // flatMapGroupsWithState executor state, deliberately:
  //   (a) verification needs each candidate's full shingle-fp set; as
  //       executor state that set would be duplicated into all 4 band
  //       buckets per doc, while the store holds it once;
  //   (b) the stores ARE the product — the same bands/fps tables the
  //       batch path computes, queryable mid-stream for audits;
  //   (c) every per-batch transformation is the BATCH operator
  //       (lshBands, verifyJaccard, clusterLabels /
  //       dedupKeepCorpusFrom) applied to micro-batch frames, so
  //       streaming-vs-batch parity is structural, not reimplemented.
  // At 100 TB the append-only logs shard by their join keys (bands by
  // hash(band_val), fps by doc_id) under the warehouse layout; a
  // micro-batch's probe join touches only its buckets' partitions and
  // nothing is ever rewritten — the same touched-partition discipline
  // as the Silver sink.
  //
  // Mega-bucket guard, cross-batch exact: occupancy only GROWS, so
  //   - a batch skips pair-generation for any bucket already over
  //     [[graft.operators.Dedup.MaxBucketDocs]] (it is final-oversized
  //     for certain — bounds per-bucket work at ~cap²/2 pairs ever);
  //   - pairs recorded earlier, while the bucket was still small, are
  //     band-tagged in the cand log and dropped at resolution time iff
  //     the bucket's FINAL occupancy exceeds the cap (unless the pair
  //     also shares a healthy bucket) — byte-for-byte the batch q47
  //     guard semantics (StreamingCorpusSpec pins the crossing case).
  // ---------------------------------------------------------------

  /** Read a state log if it exists, else an empty frame of `schema` —
    * first-batch reads and a pair log that never saw a candidate. */
  private def readLog(spark: SparkSession, path: String,
                      schema: StructType): DataFrame =
    if (new java.io.File(path).exists())
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  private val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_id", IntegerType),
    StructField("band_val", StringType)))
  private val candSchema = StructType(Seq(
    StructField("band_id", IntegerType), StructField("band_val", StringType),
    StructField("doc_a", LongType), StructField("doc_b", LongType)))

  /** One micro-batch of the streaming LSH: sign the arriving docs,
    * probe the band log as of the PREVIOUS batch, record new candidate
    * pairs (at least one side arriving now), then append this batch's
    * docs/fps/bands to the logs. Append-only + read-side dedup keeps a
    * replayed batch (foreachBatch is at-least-once) a no-op in every
    * downstream result. */
  private def processNearDupBatch(batch: DataFrame, root: String): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val docs = batch.select($"doc_id", $"text")
    // one signature pass feeds the fps log AND the band computation
    val fps = Dedup.shingleFpsFrom(docs).localCheckpoint(false)
    val newBands = Dedup.lshBands(fps).localCheckpoint(false)
    val all = readLog(spark, s"$root/bands", bandsSchema)
      .union(newBands).distinct()
    // bucket occupancy as of THIS batch: already-oversized buckets are
    // final-oversized (occupancy is monotone), so skip their pairs now
    val oversized = all.groupBy($"band_id", $"band_val")
      .agg(count(lit(1)).as("bn")).filter($"bn" > Dedup.MaxBucketDocs)
      .select($"band_id", $"band_val")
    val prunedNew = newBands.join(broadcast(oversized),
      Seq("band_id", "band_val"), "left_anti")
    val prunedAll = all.join(broadcast(oversized),
      Seq("band_id", "band_val"), "left_anti")
    // new × all (old×old pairs were recorded when their later doc
    // arrived); canonical (least, greatest) + distinct collapses the
    // doubled new×new matches
    val newPairs = prunedNew.as("x")
      .join(prunedAll.as("y"), Seq("band_id", "band_val"))
      .filter($"x.doc_id" =!= $"y.doc_id")
      .select($"band_id", $"band_val",
        least($"x.doc_id", $"y.doc_id").as("doc_a"),
        greatest($"x.doc_id", $"y.doc_id").as("doc_b"))
      .distinct()
    // record candidates BEFORE appending the band log: the pair scan
    // must see the pre-batch band snapshot it was computed against
    newPairs.write.mode("append").parquet(s"$root/cand")
    newBands.write.mode("append").parquet(s"$root/bands")
    fps.write.mode("append").parquet(s"$root/fps")
    docs.write.mode("append").parquet(s"$root/docs")
  }

  /** Resolution — the drain-time tail of the streaming LSH: apply the
    * final-occupancy guard to the candidate log, verify survivors with
    * true Jaccard, cluster, and materialize the kept corpus. Exactly
    * the batch q47-verify → q62 → q70 operators over the streamed
    * state, which is why q71's oracle IS the batch kept-corpus SQL.
    * In a live deployment this runs per trigger (or on a schedule)
    * over the same logs; under AvailableNow it runs once at drain. */
  private def resolveKeptCorpus(spark: SparkSession, root: String): DataFrame = {
    import graft.operators.Dedup
    val bands = readLog(spark, s"$root/bands", bandsSchema).distinct()
    val oversized = bands.groupBy($"band_id", $"band_val")
      .agg(count(lit(1)).as("bn")).filter($"bn" > Dedup.MaxBucketDocs)
      .select($"band_id", $"band_val")
    val cand = readLog(spark, s"$root/cand", candSchema).distinct()
      .join(broadcast(oversized), Seq("band_id", "band_val"), "left_anti")
      .select($"doc_a", $"doc_b").distinct()
    val fps = spark.read.parquet(s"$root/fps").distinct()
    val verified = Dedup.verifyJaccard(cand, fps, Dedup.JaccardThreshold)
    // r17: label-only CC — the keep never reads cluster_size (q137's
    // shape; see dedupKeepCorpusFrom callers).
    val clusters = Dedup.clusterLabels(
      verified.select($"doc_a", $"doc_b"))
      .select($"doc_id", $"lbl".as("cluster_id"))
    val docs = spark.read.parquet(s"$root/docs").dropDuplicates("doc_id")
    Dedup.dedupKeepCorpusFrom(docs, clusters)
  }

  /** Drain `docsPath` through the streaming LSH into a fresh state
    * root and return the kept corpus (doc_id, n_chars) — the q70
    * shape. */
  def nearDupStream(spark: SparkSession, docsPath: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val root = StreamingClean.trackedTempDir("graft-lsh-state-")
    Drain.foreachBatch(readDocumentsStream(spark, docsPath, maxFilesPerTrigger),
        "graft_streaming_near_dups_") { (batch, _) =>
      processNearDupBatch(batch, root)
    }
    resolveKeptCorpus(spark, root)
  }

  /** q71 — streaming-vs-batch NEAR-dup parity: the fixture corpus is
    * staged as four doc_id-ranged files and drained one file per
    * micro-batch, so candidate discovery genuinely crosses batch
    * boundaries (a doc in batch 3 probes state from batch 1). Oracle =
    * the batch q70 SQL: the streamed keeper set must equal what the
    * one-shot q47→q62→q70 chain computes. */
  def nearDupViaStreaming(spark: SparkSession, sfDir: String): DataFrame =
    nearDupStream(spark, stageDocs(spark, sfDir), maxFilesPerTrigger = Some(1))

  // ---------------------------------------------------------------
  // q134 — streaming EXACT near-dup pairs: the arrival-time twin of
  // q130's cutoff-free prefix-filter verdicts, completing the exact
  // path's deployment story (q71 catches near-dups at ingest
  // approximately via banded MinHash; this catches them EXACTLY).
  //
  // Per batch: sign the arriving docs, probe the accumulated fp log
  // with the batch's CURRENTLY-KEPT fps, and record every
  // shared-kept-fp pair in the candidate log. Exactness rides the
  // hot-cutoff's MONOTONICITY (the q71 bucket-occupancy argument,
  // applied to document frequency): df only grows, so a shingle that
  // is kept under the FINAL cutoff was kept in every batch — every
  // final q130 pair shares ≥ ⌈τ·min⌉ ≥ 1 finally-kept fps and is
  // therefore recorded no later than its later endpoint's batch.
  // Probing only currently-kept fps simultaneously BOUNDS per-fp
  // fan-out at the cutoff; finally-hot fps may record extra
  // candidates early, which drain-time verification (true Jaccard
  // over the FINAL kept universe, [[graft.operators.Dedup
  // .verifyJaccard]]) prunes — over-capture is filtered, never
  // invented.
  //
  // State is the q71 append-only-log discipline SHARDED BY fp
  // (VERDICT r16 item 2 — the r16 comment promised this layout
  // without implementing it): the fp log and a MAINTAINED document-
  // frequency table both partition by b = hash(fp) mod
  // [[FpLogBuckets]], and each micro-batch
  //   (1) reads only its fps' bucket partitions of the log (partition-
  //       pruned probe — the posting lists the batch's pairs are made
  //       of, which is the output-sensitive floor of the operator),
  //   (2) maintains df INCREMENTALLY with one tagged-union delta
  //       aggregate over the touched buckets (the q132 shape) instead
  //       of re-reading and re-aggregating the FULL accumulated log,
  // so per-batch cost tracks the batch's content (its size + its fps'
  // posting mass + the touched buckets' df slice, which is bounded by
  // vocabulary), not stream length. The `xpair` receipt
  // (`tools.Receipts`) drains 16 batches this way against one batch
  // q130 over the same docs; SCALE.md keeps the historical A/B against
  // the retired r16 full-recount shape (a whole-log re-read and df
  // recount per batch).
  //
  // Replay idempotence is DOC-granular: Structured Streaming
  // redelivers whole files, so the guard is a broadcast anti-join
  // against the seen-docs log restricted to the batch's ids (both
  // sides batch-bounded) — never an fp-log-sized shuffle. Write order
  // is the crash-safety argument: candidates, fp log, seen-docs, df —
  // a crash at any point leaves the replay either re-appending rows
  // the drain's read-side distinct removes (cand/fps) or leaving df
  // UNDER-counted, which keeps more fps under the cutoff →
  // over-capture, pruned by drain-time verification; a lost candidate
  // or an OVER-counted df (the one direction that could drop a pair)
  // is impossible in every interleaving. The drain recounts df from
  // the log itself (exact no matter what the maintained table says);
  // the spec pins maintained == recount on a clean run.
  // ---------------------------------------------------------------

  /** fp-shard count for the streaming exact-pair state. 32 keeps
    * fixture-scale batches from scattering thousands of tiny files;
    * a warehouse deployment sizes it like any bucketed table (enough
    * buckets that one bucket's postings+df slice fits an executor —
    * thousands at 100 TB), which is what makes the per-batch
    * partition pruning real there: a batch touches the buckets its
    * fps hash to, not the whole log. */
  private[streaming] val FpLogBuckets = 32

  private val fpsLogSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp", LongType),
    StructField("b", IntegerType)))
  private val dfTableSchema = StructType(Seq(
    StructField("fp", LongType), StructField("df", LongType),
    StructField("b", IntegerType)))
  private val seenDocsSchema = StructType(Seq(
    StructField("doc_id", LongType)))
  private val pairLogSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType)))

  private def fpBucket(c: Column): Column =
    pmod(xxhash64(c), lit(FpLogBuckets)).cast(IntegerType)

  /** One micro-batch: sign, probe the accumulated fp log under the
    * CURRENT hot cutoff — reading only the batch's fp buckets —
    * record new candidate pairs, append fps, fold the df delta into
    * the maintained table. */
  private[graft] def processPrefixPairBatch(batch: DataFrame,
                                            root: String): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    // doc-granular replay guard (header comment): drop already-seen
    // docs BEFORE signing — a replayed batch is a no-op at the cost
    // of one broadcast anti-join over batch-bounded sides
    val batchIds = batch.select($"doc_id").distinct()
    val seenOfBatch = readLog(spark, s"$root/docs", seenDocsSchema)
      .join(broadcast(batchIds), Seq("doc_id"), "left_semi")
    val fresh = Dedup.shingleFpsFrom(batch
        .join(broadcast(seenOfBatch), Seq("doc_id"), "left_anti")
        .select($"doc_id", $"text"))
      .withColumn("b", fpBucket($"fp"))
      .localCheckpoint(false)
    // the batch's bucket footprint — bounded by FpLogBuckets; its
    // first action materializes the signing checkpoint
    val touched = fresh.select($"b").distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return
    // ONE read of the pre-batch log, PRUNED to the touched buckets;
    // consumed only by the probe job below, which runs BEFORE the
    // append so the probe sees the pre-batch snapshot it was
    // computed against
    val oldLog = readLog(spark, s"$root/fps", fpsLogSchema)
      .filter($"b".isin(touched.map(Integer.valueOf): _*))
      .select($"doc_id", $"fp")
    // maintained df AFTER this batch = stored counts of the touched
    // buckets + the batch's delta, ONE tagged-union aggregate (the
    // q132 delta shape) — vocabulary-bounded, never stream-length.
    // Eagerly checkpointed: the partition publish below swaps out
    // the files it was computed from, and the hot cutoff reads it
    // twice.
    val newDf = readLog(spark, s"$root/df", dfTableSchema)
      .filter($"b".isin(touched.map(Integer.valueOf): _*))
      .select($"fp", $"df", $"b")
      .unionByName(fresh.groupBy($"fp", $"b")
        .agg(count(lit(1)).as("df")).select($"fp", $"df", $"b"))
      .groupBy($"fp", $"b").agg(sum($"df").as("df"))
      .select($"fp", $"df", $"b")
      .localCheckpoint(true)
    // the CURRENT cutoff over the batch's fps: every fp the probe
    // can see lives in a touched bucket, so the touched-bucket df
    // slice decides hotness completely
    val hot = newDf.filter($"df" > Dedup.MaxShingleDocFreq).select($"fp")
    val keptNew = fresh.select($"doc_id", $"fp")
      .join(broadcast(hot), Seq("fp"), "left_anti")
    // new × all (old×old pairs were recorded when their later doc
    // arrived); canonical (least, greatest) + distinct collapses the
    // doubled new×new matches — the q71 shape on fp buckets
    val keptAll = oldLog
      .unionByName(fresh.select($"doc_id", $"fp"))
      .join(broadcast(hot), Seq("fp"), "left_anti")
    // probe join strategy: left to the planner here (a batch's fp set
    // is ~1M rows at fixture scale — broadcasting it per batch was
    // measured THRASHING the shared local JVM, 4.8→31 s/batch). At
    // warehouse scale the log is a bucketBy(fp) table, so this join
    // co-locates per bucket and only the batch side shuffles into the
    // bucket layout — the log itself is never re-shuffled per batch
    val newPairs = keptNew.as("x").join(keptAll.as("y"), Seq("fp"))
      .filter($"x.doc_id" =!= $"y.doc_id")
      .select(least($"x.doc_id", $"y.doc_id").as("doc_a"),
        greatest($"x.doc_id", $"y.doc_id").as("doc_b"))
      .distinct()
    // the crash-safe order (header comment): cand, fp log, seen, df.
    // The b-keyed repartitions keep the sharded writes at one file
    // per touched bucket per batch instead of tasks × buckets.
    newPairs.write.mode("append").parquet(s"$root/cand")
    fresh.select($"doc_id", $"fp", $"b").repartition($"b")
      .write.mode("append").partitionBy("b").parquet(s"$root/fps")
    fresh.select($"doc_id").distinct()
      .write.mode("append").parquet(s"$root/docs")
    graft.sources.UpsertWriter.publishPartitions(spark, newDf, s"$root/df", "b")
  }

  /** The maintained df table (fp, df) — spec/receipt accessor: on a
    * clean (crash-free) run it must equal the drain's recount from
    * the log, which is what keeps it safe to probe with. */
  private[graft] def maintainedDf(spark: SparkSession,
                                  root: String): DataFrame =
    readLog(spark, s"$root/df", dfTableSchema).select($"fp", $"df")

  /** The drained state's (kept relation, candidate set) under the
    * FINAL hot cutoff — the measure-independent half of resolution,
    * shared by the Jaccard (q134) and containment (q135) drains: the
    * candidate log records any-shared-kept-fp pairs, which is
    * complete for BOTH measures at any τ > 0. */
  private def drainedPairState(spark: SparkSession,
                               root: String): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val fps = readLog(spark, s"$root/fps", fpsLogSchema)
      .select($"doc_id", $"fp").distinct()
      .localCheckpoint(false)
    val hot = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" > Dedup.MaxShingleDocFreq).select($"fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val cand = readLog(spark, s"$root/cand", pairLogSchema).distinct()
    (kept, cand)
  }

  /** Drain-time resolution: true Jaccard over the FINAL kept universe
    * for every recorded candidate — exactly the batch q130 verdict
    * semantics, which is why q134's oracle IS q130's SQL. */
  private[graft] def resolvePrefixPairs(spark: SparkSession,
                                        root: String): DataFrame = {
    import graft.operators.Dedup
    val (kept, cand) = drainedPairState(spark, root)
    Dedup.verifyJaccard(cand, kept, Dedup.PrefixJaccardThreshold)
      .localCheckpoint(false) // the q130 sort-sample discipline
      .orderBy($"doc_a", $"doc_b")
  }

  /** q135's resolution: the containment measure over the same drained
    * state — the batch q131 verdict semantics. */
  private def resolvePrefixContain(spark: SparkSession,
                                   root: String): DataFrame = {
    import graft.operators.Dedup
    val (kept, cand) = drainedPairState(spark, root)
    Dedup.verifyContainment(cand, kept, Dedup.ContainmentThreshold)
      .localCheckpoint(false)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Drain `docsPath` through the streaming exact-pair harness into a
    * fresh state root and resolve with `measure` (the q130 Jaccard or
    * q131 containment tail). */
  private def exactPairDrain(spark: SparkSession, docsPath: String,
                             maxFilesPerTrigger: Option[Int],
                             measure: (SparkSession, String) => DataFrame)
      : DataFrame = {
    val root = StreamingClean.trackedTempDir("graft-xpair-state-")
    Drain.foreachBatch(readDocumentsStream(spark, docsPath, maxFilesPerTrigger),
        "graft_streaming_prefix_pairs_") { (batch, _) =>
      processPrefixPairBatch(batch, root)
    }
    measure(spark, root)
  }

  /** q134's drain: q130-shaped verdict table. */
  def prefixPairStream(spark: SparkSession, docsPath: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame =
    exactPairDrain(spark, docsPath, maxFilesPerTrigger, resolvePrefixPairs)

  /** q135's drain: q131-shaped verdict table over the same harness. */
  def prefixContainStream(spark: SparkSession, docsPath: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame =
    exactPairDrain(spark, docsPath, maxFilesPerTrigger,
      resolvePrefixContain)

  /** q134 — streaming-vs-batch EXACT pair parity: staged as four
    * doc_id-ranged files drained one per micro-batch, so pair
    * discovery genuinely crosses batch boundaries. Oracle = the
    * batch q130 SQL. */
  def prefixPairsViaStreaming(spark: SparkSession,
                              sfDir: String): DataFrame =
    prefixPairStream(spark, stageDocs(spark, sfDir),
      maxFilesPerTrigger = Some(1))

  /** q135 — the containment twin of q134 over the same staged drain.
    * Oracle = the batch q131 SQL. */
  def prefixContainViaStreaming(spark: SparkSession,
                                sfDir: String): DataFrame =
    prefixContainStream(spark, stageDocs(spark, sfDir),
      maxFilesPerTrigger = Some(1))

  // ---------------------------------------------------------------
  // q87 — streaming heavy hitters under BOUNDED state: the q86 output
  // recovered from two fixed-size streaming summaries (VERDICT r8
  // item 5 — no vocabulary-sized state anywhere).
  //
  //   (1) the count-min sketch as additive per-(row, bucket) state —
  //       depth × width (4 × 1024) counters NO MATTER the stream
  //       length or vocabulary; supplies the estimate column.
  //   (2) a SPACE-SAVING candidate set (Metwally et al. 2005,
  //       "Efficient computation of frequent and top-k elements in
  //       data streams"): tokens shard by hash into SsShards groups,
  //       each holding at most SsCapacity (token, cnt, err) counters —
  //       an arriving token already tracked increments its counter;
  //       an untracked token takes over the shard's minimum counter,
  //       inheriting its count as the overestimate error. State is
  //       O(shards × capacity) + one exact occurrence total per shard,
  //       independent of vocabulary; supplies the exact top-K cut.
  //
  // Space-saving guarantees (per shard over its token substream of N
  // occurrences): every tracked count OVERestimates by at most its
  // recorded err ≤ N/capacity, and any token with true count >
  // N/capacity is guaranteed tracked — so the top-K cut is exact
  // whenever the K-th count clears the error floor, and err == 0
  // certifies a count as exact. On the fixture corpora the vocabulary
  // fits the candidate set outright (nothing evicts, every err is 0,
  // the spec pins it), which is what lets the oracle stay the batch
  // q86 SQL — the same drained-state-equals-batch parity q68/q71
  // prove, now THROUGH a bounded summary. On an adversarial stream
  // whose tail crowds out the head, the cut degrades gracefully: counts
  // stay within the documented ε = 1/capacity bound per shard, and a
  // nonzero err column flags every approximate row. Sharding by token
  // hash keeps the guarantee: each token lives in exactly one shard,
  // so cross-shard merge never mixes counters of one token.
  // ---------------------------------------------------------------

  case class KeyCount(key: String, cnt: Long)

  /** Space-saving posture: 16 shards × 256 counters = 4,096 tracked
    * candidates and a per-shard error floor of N_shard/256 — sized so
    * K = 50 top tokens survive with slack on any remotely Zipfian
    * stream, while total state stays fixed at roughly the CMS's own
    * footprint. */
  val SsShards = 16
  val SsCapacity = 256

  case class SsEntry(token: String, cnt: Long, err: Long)
  case class SsShardState(shard: Int, version: Long, total: Long,
                          entries: Seq[SsEntry])

  /** One space-saving step over a batch of (token, occurrences)
    * increments — pure, so the spec can drive it past capacity
    * directly. Folding a token's whole batch count in one step is
    * equivalent to arriving one occurrence at a time: after the first
    * arrival the token is tracked, and subsequent occurrences only
    * increment. Batch order is pinned (sorted by token) and eviction
    * ties break by token, so replays and retries are deterministic. */
  private[graft] def spaceSavingFold(
      entries: Map[String, (Long, Long)],
      batch: Seq[(String, Long)],
      cap: Int): Map[String, (Long, Long)] =
    batch.sortBy(_._1).foldLeft(entries) { case (m, (tok, c)) =>
      m.get(tok) match {
        case Some((cnt, err)) => m.updated(tok, (cnt + c, err))
        case None if m.size < cap => m.updated(tok, (c, 0L))
        case None =>
          val (evTok, (evCnt, _)) =
            m.minBy { case (t, (cnt, _)) => (cnt, t) }
          (m - evTok).updated(tok, (evCnt + c, evCnt))
      }
    }

  /** Drain a stream of string keys through sharded space-saving state
    * and return the final candidate table (token, cnt, err) plus the
    * exact occurrence total — O(SsShards × SsCapacity) state however
    * long the stream runs. The changelog folds by max version per
    * shard (versions only grow; the state store itself is
    * exactly-once, so a replayed emission is a duplicate row, not a
    * double count). */
  private def spaceSavingStream(spark: SparkSession, keys: Dataset[String],
                                prefix: String): (DataFrame, DataFrame) = {
    import spark.implicits.newProductEncoder
    val updater = (shard: Int, rows: Iterator[String],
                   state: GroupState[SsShardState]) => {
      val counts = rows.toSeq.groupBy(identity)
        .view.mapValues(_.size.toLong).toSeq
      val prev = state.getOption
      val m0 = prev.map(_.entries.map(e => e.token -> (e.cnt, e.err)).toMap)
        .getOrElse(Map.empty[String, (Long, Long)])
      val m1 = spaceSavingFold(m0, counts, SsCapacity)
      val next = SsShardState(shard,
        prev.map(_.version).getOrElse(0L) + 1L,
        prev.map(_.total).getOrElse(0L) + counts.map(_._2).sum,
        m1.toSeq.sortBy(_._1).map { case (t, (c, e)) => SsEntry(t, c, e) })
      state.update(next)
      Iterator(next)
    }
    val changelog = keys
      .groupByKey(k => Math.floorMod(k.hashCode, SsShards))(
        spark.implicits.newIntEncoder)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(updater)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"version".desc)
    val finalState = Drain.memory(changelog, prefix, OutputMode.Update)(
      _.withColumn("rn", row_number().over(w)).filter($"rn" === 1))
    val candidates = finalState
      .select(explode($"entries").as("e"))
      .select($"e.token".as("token"), $"e.cnt".as("cnt"),
        $"e.err".as("err"))
    val total = finalState
      .agg(sum($"total").cast(LongType).as("n"))
    (candidates, total)
  }

  /** Drain a stream of string keys through per-key additive count
    * state and return the final (key, cnt) table. The changelog folds
    * with max — counts only grow — so replayed batches cannot inflate
    * the result. */
  private def countStream(spark: SparkSession, keys: Dataset[String],
                          prefix: String): DataFrame = {
    import spark.implicits.newProductEncoder
    val updater = (key: String, rows: Iterator[String],
                   state: GroupState[KeyCount]) => {
      val next = KeyCount(key,
        state.getOption.map(_.cnt).getOrElse(0L) + rows.size)
      state.update(next)
      Iterator(next)
    }
    val changelog = keys.groupByKey(identity)(
        spark.implicits.newStringEncoder)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(updater)
    Drain.memory(changelog, prefix, OutputMode.Update)(
      _.groupBy($"key").agg(max($"cnt").as("cnt")))
  }

  /** Drain `docsPath` through both bounded summaries and compose the
    * q86 output: the top-K cut from the space-saving candidate set,
    * estimates from the CMS state, the exact stream length from the
    * per-shard totals — via the shared [[graft.operators.Corpus
    * .composeHeavyHittersTotal]] tail. The candidate `err` column is
    * dropped at the boundary: the named query's oracle is the batch
    * q86 schema, and on any stream where the top-K survives with
    * err = 0 (spec-pinned for the fixtures) the output is
    * byte-identical to it. */
  def heavyHitterStream(spark: SparkSession, docsPath: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.operators.{Corpus, TextOps}
    import spark.implicits.newStringEncoder
    val toks = readDocumentsStream(spark, docsPath, maxFilesPerTrigger)
      .select(explode(TextOps.tokens($"text")).as("token")).as[String]
    val (candidates, total) =
      spaceSavingStream(spark, toks, "graft_hh_ss_")
    // each token occurrence feeds one cell per sketch row; the cell id
    // string "r:b" is the state key. Derived from the SAME token
    // stream definition as the candidate side (each started query
    // still reads its own source instance) so the two cannot drift.
    val cells = toks
      .select(Corpus.cmsRows.as("r"), $"token")
      .select(concat($"r".cast(StringType), lit(":"),
        Corpus.cmsBucket($"r", $"token").cast(StringType)).as("cell"))
      .as[String]
    val counters = countStream(spark, cells, "graft_hh_cms_")
      .select(
        split($"key", ":").getItem(0).cast(IntegerType).as("r"),
        split($"key", ":").getItem(1).cast(LongType).as("b"),
        $"cnt".as("c"))
    Corpus.composeHeavyHittersTotal(
      candidates.select($"token", $"cnt"), counters, total)
  }

  /** The drained space-saving state itself, for audits and the spec:
    * (token, cnt, err) candidates + the exact occurrence total. */
  private[graft] def heavyHitterCandidates(
      spark: SparkSession, docsPath: String,
      maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) = {
    import graft.operators.TextOps
    import spark.implicits.newStringEncoder
    val toks = readDocumentsStream(spark, docsPath, maxFilesPerTrigger)
      .select(explode(TextOps.tokens($"text")).as("token")).as[String]
    spaceSavingStream(spark, toks, "graft_hh_ss_")
  }

  /** q87 — streaming-vs-batch heavy-hitter parity: the fixture corpus
    * drained one doc_id-ranged file per micro-batch through both
    * counter states. Oracle = the batch q86 SQL. */
  def heavyHittersViaStreaming(spark: SparkSession, sfDir: String): DataFrame =
    heavyHitterStream(spark, stageDocs(spark, sfDir),
      maxFilesPerTrigger = Some(1))

  // ---------------------------------------------------------------
  // q106 — streaming SEMANTIC dedup (VERDICT r9 item 3): ingest-time
  // paraphrase-dup detection over an ARRIVING embedding stream — the
  // streaming twin of the batch q93 chain, built exactly the way q71
  // wraps the q47 machinery. Each micro-batch assigns its vectors to
  // their NearDupProbes nearest cells of a FROZEN codebook (published
  // offline at index build — the q91 posture; a stream cannot refit
  // without invalidating all earlier assignments), probes the
  // assignment state accumulated by every earlier batch for same-cell
  // candidates, verifies them with the exact cosine kernel against
  // the stored vectors, and appends the verified pairs — so a
  // paraphrase arriving Tuesday pairs with its Monday original
  // without waiting for the nightly batch. Drain-time resolution is
  // the SHARED batch tail (connected components + keep), which is why
  // the oracle IS the batch q93 SQL.
  //
  // State lives in append-only parquet logs (assign / vecs / pairs /
  // meta) for the same three reasons as q71's — verification needs
  // full vectors, the logs ARE the q50-shaped product tables, and
  // per-batch transforms are the batch operators. No occupancy guard:
  // IVF cell size is bounded (~100·probes) by the every-100th
  // codebook seeding, so there is no oversized-bucket case (the q95
  // structural note). At 100 TB the logs shard by their join keys
  // (assign/vecs by cell_id/vec_id) under the warehouse layout and a
  // batch's candidate join touches only its probed cells' partitions.
  // ---------------------------------------------------------------

  /** embeddings.parquet raw schema for the streaming reader. */
  val embeddingsRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming reader over an embeddings parquet file or directory. */
  def readEmbeddingsStream(spark: SparkSession, embPath: String,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Drain.files(spark, embPath, embeddingsRawSchema, maxFilesPerTrigger)

  private val vecAssignSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell_id", LongType)))
  private val vecPairSchema = StructType(Seq(
    StructField("vec_a", LongType), StructField("vec_b", LongType)))
  private val vecLogSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("nrm", DoubleType)))

  /** One micro-batch of the streaming semantic dedup: normalize and
    * assign the arriving vectors against the frozen codebook, probe
    * the assignment log as of every earlier batch, verify new
    * same-cell candidates with the exact cosine kernel, then append
    * this batch's state. Append-only + read-side dedup keeps a
    * replayed batch a no-op downstream (the q71 discipline). */
  private[graft] def processSemanticBatch(batch: DataFrame, root: String,
      codebook: Array[(Long, Seq[Double])]): Unit = {
    import graft.operators.VectorOps
    val spark = batch.sparkSession
    // one normalization pass feeds the vec log AND the assignment
    val newVecs = VectorOps.vecsFrom(batch).localCheckpoint(false)
    val newAssign = VectorOps.assignCellsProbes(newVecs, codebook,
        VectorOps.NearDupProbes)
      .select($"vec_id", $"cell_id").localCheckpoint(false)
    val allAssign = readLog(spark, s"$root/assign", vecAssignSchema)
      .union(newAssign).distinct()
    // new × all (old×old pairs were recorded when their later vector
    // arrived); canonical (least, greatest) + distinct collapses the
    // doubled new×new matches and multi-cell co-occurrences
    val cand = newAssign.as("x").join(allAssign.as("y"), Seq("cell_id"))
      .filter($"x.vec_id" =!= $"y.vec_id")
      .select(least($"x.vec_id", $"y.vec_id").as("vec_a"),
              greatest($"x.vec_id", $"y.vec_id").as("vec_b"))
      .distinct()
    val allVecs = readLog(spark, s"$root/vecs", vecLogSchema)
      .union(newVecs)
    val verified = cand
      .join(allVecs.select($"vec_id".as("vec_a"), $"v".as("va"),
        $"nrm".as("na")), Seq("vec_a"))
      .join(allVecs.select($"vec_id".as("vec_b"), $"v".as("vb"),
        $"nrm".as("nb")), Seq("vec_b"))
      .select($"vec_a", $"vec_b",
        round(VectorOps.dot("va", "vb") / ($"na" * $"nb"), 6).as("cos_sim"))
      .filter($"cos_sim" >= VectorOps.CosineDupThreshold)
      .select($"vec_a", $"vec_b")
    // record pairs BEFORE appending the assignment log (the q71
    // ordering: the pair scan must see its pre-batch state snapshot)
    verified.write.mode("append").parquet(s"$root/pairs")
    newAssign.write.mode("append").parquet(s"$root/assign")
    newVecs.write.mode("append").parquet(s"$root/vecs")
    batch.select($"vec_id", $"label")
      .write.mode("append").parquet(s"$root/meta")
  }

  /** Resolution — drain-time tail: dedup the pair log and hand it to
    * the SHARED batch components-and-keep operator. */
  private[graft] def resolveSemanticKeep(spark: SparkSession,
                                         root: String): DataFrame = {
    import graft.operators.VectorOps
    val pairs = readLog(spark, s"$root/pairs", vecPairSchema).distinct()
    val meta = spark.read.parquet(s"$root/meta").dropDuplicates("vec_id")
    VectorOps.semanticKeepCorpusFrom(meta, pairs)
  }

  /** Drain `embPath` through the streaming semantic dedup against a
    * frozen `codebook` and return the kept corpus (vec_id, label) —
    * the q93 shape. */
  def semanticDedupStream(spark: SparkSession, embPath: String,
                          codebook: Array[(Long, Seq[Double])],
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val root = StreamingClean.trackedTempDir("graft-sem-state-")
    Drain.foreachBatch(readEmbeddingsStream(spark, embPath, maxFilesPerTrigger),
        "graft_streaming_semdedup_") { (batch, _) =>
      processSemanticBatch(batch, root, codebook)
    }
    resolveSemanticKeep(spark, root)
  }

  /** q106 — streaming-vs-batch SEMANTIC dedup parity: the fixture
    * embeddings staged as four vec_id-ranged files and drained one
    * file per micro-batch against the same offline-fitted codebook
    * the batch q93 uses, so candidate discovery genuinely crosses
    * batch boundaries. Oracle = the batch q93 SQL. */
  def semanticDedupViaStreaming(spark: SparkSession,
                                sfDir: String): DataFrame = {
    val cb = graft.operators.VectorOps.codebookRowsFor(spark, sfDir)
    semanticDedupStream(spark, stageEmbeddings(spark, sfDir), cb,
      maxFilesPerTrigger = Some(1))
  }

  // ---------------------------------------------------------------
  // q127 — streaming vector WRITE path: PQ-encode + IVF-assign at
  // ingest, the vector index's arrival-time twin (VERDICT r10 item 4:
  // the filter family had streaming twins, but a streaming corpus
  // with embeddings could not be quantized/assigned as it arrived —
  // q125 was batch-incremental only). The models are FROZEN published
  // artifacts (PQ subspace codebooks + IVF centroids, fitted offline
  // by the q120/q50 write-path jobs); each arriving micro-batch is
  // encoded row-locally against the broadcast models and appended to
  // the code log. No cross-batch state machine at all — encoding is
  // per-vector, so this is strictly simpler than q71/q106 (the q119
  // observation on the vector side); replay (foreachBatch is
  // at-least-once) is a no-op because the drain-time read
  // deduplicates by (vec_id, m).
  //
  // 100 TB shape: per batch, one scan of the arriving slice against
  // broadcast models (M·cells + cells tiny rows) — the batch q120/q50
  // plans paid incrementally; no corpus shuffle, bounded memory (the
  // models), linear total work. This is how a production vector index
  // actually ingests: fit nightly, encode on arrival.
  // ---------------------------------------------------------------

  private val pqLogSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("m", IntegerType),
    StructField("code", LongType),
    StructField("dist2", DoubleType),
    StructField("cell_id", LongType)))

  /** Encode one embeddings micro-batch against the frozen models and
    * append to the code log (at-least-once; read-side dedup). */
  private[graft] def processVectorBatch(batch: DataFrame, root: String,
      books: Array[(Int, Long, Seq[Double])],
      cents: Array[(Long, Seq[Double])]): Unit = {
    graft.operators.VectorOps.streamEncodeBatch(batch, books, cents)
      .write.mode("append").parquet(s"$root/codes")
    ()
  }

  /** Drain-time tail: dedup the code log — the published encoded
    * corpus (vec_id, m, code, dist2, cell_id). */
  private[graft] def resolveVectorCodes(spark: SparkSession,
                                        root: String): DataFrame =
    readLog(spark, s"$root/codes", pqLogSchema)
      .dropDuplicates("vec_id", "m")
      .orderBy($"vec_id", $"m")

  /** Drain `embPath` through ingest-time PQ+IVF encoding against the
    * frozen `books`/`cents` and return the encoded corpus. */
  def pqEncodeStream(spark: SparkSession, embPath: String,
                     books: Array[(Int, Long, Seq[Double])],
                     cents: Array[(Long, Seq[Double])],
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val root = StreamingClean.trackedTempDir("graft-pq-state-")
    Drain.foreachBatch(readEmbeddingsStream(spark, embPath, maxFilesPerTrigger),
        "graft_streaming_pq_") { (batch, _) =>
      processVectorBatch(batch, root, books, cents)
    }
    resolveVectorCodes(spark, root)
  }

  /** q127 — streaming-vs-batch vector-write parity: the fixture
    * embeddings staged as four vec_id-ranged files, drained one file
    * per micro-batch against the SAME published models the batch
    * q120/q50 write paths use. Oracle = the batch q120 chain joined
    * to the batch q50 chain (code rows with the cell riding along). */
  def pqViaStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.VectorOps
    val books = VectorOps.pqCodebookRowsFor(spark, sfDir)
    val cents = VectorOps.codebookRowsFor(spark, sfDir)
    pqEncodeStream(spark, stageEmbeddings(spark, sfDir), books, cents,
      maxFilesPerTrigger = Some(1))
  }

  // ---------------------------------------------------------------
  // q119 — streaming benchmark decontamination: q59 at INGEST, the
  // last corpus filter without a streaming twin. The benchmark n-gram
  // set is a PUBLISHED artifact (an eval suite exists before the
  // crawl), so it builds once batch-side and broadcasts into every
  // micro-batch; contamination is doc-local against that static set,
  // so each arriving document is flagged in the batch it arrives in —
  // no cross-batch state machine at all (strictly simpler than
  // q71/q106, the same observation that made q106 simpler than q71).
  // The per-batch flag rows append to a log; replay (foreachBatch is
  // at-least-once) is a no-op because the drain-time read
  // deduplicates by doc_id — the q71 append-only discipline.
  //
  // 100 TB shape: per batch, one shingle Generator pass over the
  // arriving slice + a map-side broadcast join against the eval-suite
  // fp set — the batch q59 plan, paid incrementally; no corpus
  // shuffle, bounded memory (the bench set), linear total work.
  // ---------------------------------------------------------------

  private val decontamOutSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shared_ngrams", LongType),
    StructField("total_ngrams", LongType),
    StructField("contamination", DoubleType)))

  /** Drain `docsPath` through ingest-time decontamination and return
    * the contaminated-doc table — the q59 shape. `bench` = the
    * published benchmark fp set (one `fp` column). */
  def decontamStream(spark: SparkSession, docsPath: String,
                     bench: DataFrame,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.operators.Corpus
    val root = StreamingClean.trackedTempDir("graft-dc-state-")
    val docs = readDocumentsStream(spark, docsPath, maxFilesPerTrigger)
      .filter($"doc_id" >= Corpus.BenchmarkMaxDocId)
    Drain.foreachBatch(docs, "graft_streaming_decontam_") { (batch, _) =>
      graft.GraftExtensions.register(batch.sparkSession)
      val fps = batch.select($"doc_id",
          expr(s"graft_shingle_fps(text, ${Corpus.DecontamK})").as("fp"))
        .localCheckpoint(false)
      val totals = fps.groupBy($"doc_id")
        .agg(count(lit(1)).as("total_ngrams"))
      val shared = fps.join(broadcast(bench), Seq("fp"))
        .groupBy($"doc_id").agg(count(lit(1)).as("shared_ngrams"))
      shared.join(totals, Seq("doc_id"))
        .select($"doc_id", $"shared_ngrams", $"total_ngrams",
          round($"shared_ngrams" * lit(1.0) / $"total_ngrams", 6)
            .as("contamination"))
        .write.mode("append").parquet(s"$root/out")
    }
    readLog(spark, s"$root/out", decontamOutSchema)
      .dropDuplicates("doc_id")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // q123 — streaming NB scoring: the q114 classifier at INGEST — the
  // model-based quality/routing gate applied to documents as they
  // arrive (the fastText-filter deployment shape: the model is a
  // PUBLISHED artifact fitted offline on the train split; ingest only
  // LOADS and applies it). Scoring is doc-local against the static
  // model, so — like q119 — there is no cross-batch state machine:
  // each batch pays the q114 scoring join over its own slice, flag
  // rows append to a log, and drain-time doc_id dedup absorbs
  // replays.
  //
  // 100 TB shape: per batch, one tokenize pass over the arriving
  // slice + the q114 scoring join (class list broadcast, word counts
  // keyed — never broadcast-assumed) + a |classes|-row per-doc
  // argmax. Linear total work, memory bounded by the model.
  // ---------------------------------------------------------------

  private val nbOutSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("pred_lang", StringType), StructField("score", DoubleType),
    StructField("correct", BooleanType)))

  /** Drain `docsPath` through ingest-time NB scoring against the
    * published `model`; returns the q114 shape. */
  def nbScoreStream(spark: SparkSession, docsPath: String,
                    model: graft.operators.Classify.NbModel,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.operators.Classify
    val root = StreamingClean.trackedTempDir("graft-nb-state-")
    Drain.foreachBatch(readDocumentsStream(spark, docsPath, maxFilesPerTrigger),
        "graft_streaming_nb_") { (batch, _) =>
      Classify.nbScore(batch, Classify.docTf(batch), model)
        .write.mode("append").parquet(s"$root/out")
    }
    readLog(spark, s"$root/out", nbOutSchema)
      .dropDuplicates("doc_id")
      .orderBy($"doc_id")
  }

  /** q123 — streaming-vs-batch NB parity: the model fits batch-side
    * on the q58 train split (the offline publish step), then the
    * corpus drains through ingest-time scoring in four ranged
    * micro-batches. Oracle = the batch q114 SQL. */
  def nbViaStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Classify
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    nbScoreStream(spark, stageDocs(spark, sfDir),
      Classify.nbModelFrom(Classify.trainSlice(docs)),
      maxFilesPerTrigger = Some(1))
  }

  /** Stage the fixture corpus / embeddings as four id-ranged files
    * (one per micro-batch) — shared by the streaming-parity
    * harnesses. */
  private def stageDocs(spark: SparkSession, sfDir: String): String =
    Drain.stageRanged(spark.read.parquet(s"$sfDir/documents.parquet"),
      "doc_id", 4)

  private def stageEmbeddings(spark: SparkSession, sfDir: String): String =
    Drain.stageRanged(spark.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", 4)

  /** q119 — streaming-vs-batch decontamination parity: fixture corpus
    * staged as four ranged files, one per micro-batch; the benchmark
    * set derives batch-side exactly as q59 derives it. Oracle = the
    * batch q59 SQL. */
  def decontamViaStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Corpus
    graft.GraftExtensions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter($"doc_id" < Corpus.BenchmarkMaxDocId)
      .select(expr(s"graft_shingle_fps(text, ${Corpus.DecontamK})").as("fp"))
      .distinct().localCheckpoint(true)
    decontamStream(spark, stageDocs(spark, sfDir), bench,
      maxFilesPerTrigger = Some(1))
  }

  // ---------------------------------------------------------------
  // q138 — streaming drift-gated logprob: the q118 decision loop at
  // INGEST, completing the drift-gate family's batch/streaming
  // matrix. In a live pipeline the nightly diff is itself a FEED —
  // add/change/remove events land continuously — so the q117 gate
  // should be evaluated as deltas arrive, not once a night: each
  // micro-batch folds its vocabulary delta into a maintained current
  // vocabulary (the q92 integer fold, so the final table is
  // byte-equal to the batch newVocab: counts are additive and each
  // doc's loss/gain is folded exactly once) and evaluates the q117
  // verdict against the STORED vocabulary. The per-batch verdict
  // TRAJECTORY is a first-class output — the ops signal "how far has
  // the model drifted as of NOW", which is the reason to run the
  // gate at ingest at all — and the drain acts on the final verdict
  // through the SAME single-homed acting tail batch q118 calls
  // ([[graft.operators.Corpus.gatedLogProbFromParts]]), which is why
  // the oracle is the q118 SQL verbatim.
  //
  // State is EPOCH-VERSIONED, not append-only: the maintained vocab
  // at epoch e is a deterministic pure function of (epoch e-1 table,
  // batch e content), written as a complete overwrite of
  // vocab/epoch=e — an at-least-once redelivery of batch e
  // recomputes the identical epoch, so replay is a no-op by
  // construction and no seen-docs guard is needed for the versioned
  // state (contrast q134, whose fp log is append-only and guards
  // doc-granularly). The tf/dirty/verdict side-logs stay append-only
  // with drain-time dedup, the q71 discipline; a crash leaves an
  // epoch dir either complete or absent (parquet job commit), and an
  // absent epoch e just recomputes from e-1.
  //
  // 100 TB shape: per batch, ONE tokenize pass over the arriving
  // delta slice + a vocab-sized fold + the vocab-sized gate join —
  // exactly the q117 contract ("two vocab-sized frames and one
  // aggregate row — never a corpus pass") paid per batch. The
  // lost-side delta reads STORED tf rows restricted to the batch's
  // ids (broadcast by batch-premise), never prior text. Nothing here
  // is corpus-sized or stream-length-sized; at warehouse scale the
  // vocab table shards by token like any bucketed dimension.
  // ---------------------------------------------------------------

  private val diffFeedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("status", StringType),
    StructField("text", StringType)))
  private val vocabSchema = StructType(Seq(
    StructField("token", StringType), StructField("cnt", LongType)))
  private val tfLogSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("token", StringType),
    StructField("tf", LongType)))
  private val dirtyLogSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("status", StringType)))
  private val verdictLogSchema = StructType(Seq(
    StructField("epoch", LongType),
    StructField("n_tokens_union", LongType),
    StructField("n_tokens_moved", LongType),
    StructField("moved_share", DoubleType),
    StructField("l1_mass_share", DoubleType),
    StructField("verdict", StringType)))

  private def vocabEpochs(root: String): Seq[Long] =
    Option(new java.io.File(s"$root/vocab").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .map(_.getName.stripPrefix("epoch=").toLong)

  private def vocabAt(spark: SparkSession, root: String,
                      epoch: Long): DataFrame =
    readLog(spark, s"$root/vocab/epoch=$epoch", vocabSchema)

  /** Publish the stored nightly vocabulary as epoch -1 — the table
    * the maintained chain folds from and the gate compares against. */
  private[graft] def initDriftGateRoot(prevVocab: DataFrame,
                                       root: String): Unit =
    prevVocab.select($"token", $"cnt")
      .write.mode("overwrite").parquet(s"$root/vocab/epoch=-1")

  /** One micro-batch of the streaming drift gate: fold the batch's
    * vocabulary delta into vocab/epoch=`epoch` (idempotent complete
    * overwrite — see the header's replay argument), append the
    * batch's tf/dirty rows for the drain, and record the gate verdict
    * of (stored vocab, vocab-as-of-now) — the trajectory row. */
  private[graft] def processDriftGateBatch(batch: DataFrame, epoch: Long,
                                           root: String,
                                           prevTf: DataFrame): Unit = {
    import graft.operators.Corpus
    val spark = batch.sparkSession
    val base = vocabEpochs(root).filter(_ < epoch).max
    val baseV = vocabAt(spark, root, base)
    val batchIds = batch.select($"doc_id", $"status").localCheckpoint(false)
    // the ONLY text processing: the batch's added/changed slice. Lazy
    // checkpoint — the fold job and the freshtf append both read it.
    val gained = Corpus.tfFrom(batch.filter(Delta.isFresh)
        .select($"doc_id", $"text"))
      .localCheckpoint(false)
    // stored tf rows of the batch's stale docs (their OLD counts) —
    // batch-bounded ids broadcast into the stored table, never the
    // reverse, and never the previous snapshot's text
    val lost = Delta(batchIds, "doc_id").lost(prevTf)
    // exact integer fold; two consumers (epoch write + verdict row)
    val newV = Corpus.maintainedVocab(baseV, lost = lost, gained = gained)
      .localCheckpoint(false)
    newV.write.mode("overwrite").parquet(s"$root/vocab/epoch=$epoch")
    Corpus.vocabDriftVerdictOf(vocabAt(spark, root, -1L), newV)
      .select(lit(epoch).as("epoch"), $"n_tokens_union", $"n_tokens_moved",
        $"moved_share", $"l1_mass_share", $"verdict")
      .write.mode("append").parquet(s"$root/verdicts")
    gained.write.mode("append").parquet(s"$root/freshtf")
    batchIds.write.mode("append").parquet(s"$root/dirty")
  }

  /** The per-batch gate verdicts in arrival order — the ingest-time
    * decision trajectory (spec surface; the last row's verdict is the
    * one the drain acts on). */
  private[graft] def driftGateTrajectory(spark: SparkSession,
                                         root: String): DataFrame =
    readLog(spark, s"$root/verdicts", verdictLogSchema)
      .dropDuplicates("epoch").orderBy($"epoch")

  /** Drain-time acting: the final maintained vocabulary (byte-equal
    * to batch q118's newVocab) + the accumulated fresh tf and dirty
    * set feed the shared acting tail — exactly the batch q118
    * semantics, which is why q138's oracle IS q118's SQL. */
  private[graft] def resolveDriftGate(spark: SparkSession, root: String,
                                      prevTf: DataFrame,
                                      prevScores: DataFrame): DataFrame = {
    import graft.operators.Corpus
    val finalV = vocabAt(spark, root, vocabEpochs(root).max)
    val stored = vocabAt(spark, root, -1L)
    val freshTf = readLog(spark, s"$root/freshtf", tfLogSchema).distinct()
    val diff = Delta(
      readLog(spark, s"$root/dirty", dirtyLogSchema).distinct(), "doc_id")
    Corpus.gatedLogProbFromParts(prevTf, stored, prevScores,
      freshTf, diff, finalV)
  }

  /** Drain a diff feed (doc_id, status, text-if-added/changed) through
    * the ingest-time drift gate and return the acted q118-shaped
    * maintenance output. */
  def driftGateStream(spark: SparkSession, feedPath: String,
                      prevTf: DataFrame, prevVocab: DataFrame,
                      prevScores: DataFrame,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val root = StreamingClean.trackedTempDir("graft-dg-state-")
    initDriftGateRoot(prevVocab, root)
    Drain.foreachBatch(
        Drain.files(spark, feedPath, diffFeedSchema, maxFilesPerTrigger),
        "graft_streaming_driftgate_") { (batch, id) =>
      processDriftGateBatch(batch, id, root, prevTf)
    }
    resolveDriftGate(spark, root, prevTf, prevScores)
  }

  /** q138 — streaming-vs-batch drift-gate parity: the stored state
    * (prev-snapshot tf/vocab/scores) publishes batch-side exactly as
    * q118 reads it, the diff feed stages as four doc_id-ranged files
    * (one per micro-batch), and the drain must match the batch q118
    * SQL. */
  def gatedLogProbViaStreaming(spark: SparkSession,
                               sfDir: String): DataFrame = {
    import graft.operators.Corpus
    val (prevTf, prevVocab, _) = Corpus.tfState(spark, sfDir)
    val cur = Corpus.snapshotCur(graft.Tables.documents(spark, sfDir))
    val feed = Delta.documents(spark, sfDir).status.filter(Delta.dirty)
      .join(cur.select($"doc_id", $"text"), Seq("doc_id"), "left")
      .select($"doc_id", $"status", $"text")
    driftGateStream(spark, Drain.stageRanged(feed, "doc_id", 4), prevTf,
      prevVocab,
      Corpus.storedLogProbScores(spark, sfDir), maxFilesPerTrigger = Some(1))
  }

  // ---------------------------------------------------------------
  // q139 — streaming drift-gated IVF maintenance: the q110 decision
  // loop at INGEST — the VECTOR half of the matrix q138 completes on
  // the text side. The two families are NOT symmetric, and the
  // asymmetry dictates the design: q138's per-batch verdict is the
  // EXACT q117 gate because the vocabulary gate is an integer fold
  // over delta-maintainable counts, but q105's verdict needs a FRESH
  // Lloyd fit over the accumulated current snapshot — re-fitting per
  // micro-batch would cost O(stream) per batch, the exact defect the
  // fp-sharded q134 state exists to avoid. So the ingest-time signal
  // here is the cheap sound half: each batch assigns its ARRIVALS
  // against the STORED codebook (one broadcast-codebook scan over the
  // batch — vector-local, the q91 soundness argument) and tracks the
  // arrivals' quantization error against the stored index's published
  // baseline error; the trajectory row's `watch` flag (error drift >
  // the q105 Dist2RefitDrift bound) is the documented EARLY-WARNING
  // heuristic, and the EXACT q105 verdict + acted maintenance run
  // ONCE at drain through the very batch operator
  // ([[graft.operators.VectorOps.gatedIvfMaintenanceOf]]) — which is
  // why q139's oracle is the q110 SQL verbatim.
  //
  // State is append-only (arrivals + dirty logs, drain-time dedup,
  // the q71 discipline — replay appends identical rows); the
  // trajectory row is recomputed from the deduped accumulated log, so
  // a redelivered batch lands the identical row and epoch-dedup at
  // read absorbs it.
  //
  // 100 TB shape: per batch, one broadcast-codebook argmin over the
  // arriving slice + an arrivals-log-sized mean (bounded by the DIFF,
  // not the corpus); the drain pays one fresh fit + the gate's fused
  // single corpus scan + the chosen branch — exactly the nightly q110
  // cost, paid once. Nothing per-batch is corpus- or stream-sized.
  // ---------------------------------------------------------------

  private val vecFeedSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("status", StringType),
    StructField("embedding", ArrayType(FloatType))))
  private val arrivalsLogSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType)),
    StructField("nrm", DoubleType), StructField("cell_id", LongType),
    StructField("dist2", DoubleType)))
  private val vecDirtySchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("status", StringType)))
  private val vecTrajSchema = StructType(Seq(
    StructField("epoch", LongType), StructField("n_arrivals", LongType),
    StructField("mean_dist2_batch", DoubleType),
    StructField("mean_dist2_cum", DoubleType),
    StructField("baseline_dist2", DoubleType),
    StructField("err_drift_cum", DoubleType),
    StructField("watch", BooleanType)))

  /** One micro-batch of the streaming IVF gate: assign the batch's
    * added/changed vectors against the stored codebook, append
    * arrivals + dirty ids, and record the early-warning trajectory
    * row (arrival quantization error vs the stored `baseline`). */
  private[graft] def processVecGateBatch(batch: DataFrame, epoch: Long,
      root: String, cbRows: Array[(Long, Seq[Double])],
      baseline: Double): Unit = {
    import graft.operators.VectorOps
    val spark = batch.sparkSession
    val codebook = spark.createDataFrame(cbRows.toIndexedSeq)
      .toDF("centroid_id", "cv")
    val arrivals = VectorOps.vecsFrom(batch.filter(Delta.isFresh)
      .select($"vec_id", $"embedding"))
    val assigned = VectorOps.assignCells(arrivals, broadcast(codebook))
      .select($"vec_id", $"v", $"nrm", $"cell_id", $"dist2")
    assigned.write.mode("append").parquet(s"$root/arrivals")
    batch.select($"vec_id", $"status")
      .write.mode("append").parquet(s"$root/dirty")
    // trajectory from the DEDUPED accumulated log (which now includes
    // this batch), so a replayed batch recomputes the identical row;
    // dist2 is 6dp-rounded by assignCells, so the decimal means are
    // exact and order-independent
    val batchIds = assigned.select($"vec_id").distinct()
    val log = readLog(spark, s"$root/arrivals", arrivalsLogSchema)
      .dropDuplicates("vec_id").localCheckpoint(false)
    val dmean: Column =
      sum($"dist2".cast(DecimalType(18, 6))).cast(DoubleType) /
        count(lit(1))
    val batchMean = log.join(broadcast(batchIds), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n"), dmean.as("m"))
    val cumMean = log.agg(dmean.as("mc"))
    batchMean.crossJoin(cumMean)
      .select(lit(epoch).as("epoch"), $"n".as("n_arrivals"),
        round($"m", 6).as("mean_dist2_batch"),
        round($"mc", 6).as("mean_dist2_cum"),
        lit(baseline).as("baseline_dist2"),
        round(($"mc" - lit(baseline)) / lit(baseline), 6)
          .as("err_drift_cum"))
      .withColumn("watch", coalesce(
        $"err_drift_cum" > graft.operators.VectorOps.Dist2RefitDrift,
        lit(false)))
      .write.mode("append").parquet(s"$root/traj")
  }

  /** The per-batch early-warning rows in arrival order (spec
    * surface). */
  private[graft] def vecGateTrajectory(spark: SparkSession,
                                       root: String): DataFrame =
    readLog(spark, s"$root/traj", vecTrajSchema)
      .dropDuplicates("epoch").orderBy($"epoch")

  /** Drain-time acting: reconstruct the current snapshot from the
    * stored prev vectors + the accumulated feed, then run the EXACT
    * batch q110 operator — fresh fit, fused gate, chosen branch. */
  private[graft] def resolveVecGate(spark: SparkSession, root: String,
      prevVecs: DataFrame, prevAssign: DataFrame,
      storedCb: DataFrame): DataFrame = {
    import graft.operators.VectorOps
    val arrivals = readLog(spark, s"$root/arrivals", arrivalsLogSchema)
      .dropDuplicates("vec_id").localCheckpoint(false)
    val diff = Delta(readLog(spark, s"$root/dirty", vecDirtySchema)
      .dropDuplicates("vec_id").localCheckpoint(false), "vec_id")
    val cur = diff.carry(prevVecs)
      .unionByName(arrivals.select($"vec_id", $"v", $"nrm"))
      .localCheckpoint(false)
    VectorOps.gatedIvfMaintenanceOf(prevAssign, cur, diff, storedCb,
      VectorOps.fittedCentroids(cur).localCheckpoint(false))
  }

  /** Drain a vector diff feed through the ingest-time IVF gate and
    * return the acted q110-shaped maintenance output. */
  def vecGateStream(spark: SparkSession, feedPath: String,
      cbRows: Array[(Long, Seq[Double])], prevVecs: DataFrame,
      prevAssign: DataFrame, baseline: Double,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val root = StreamingClean.trackedTempDir("graft-vg-state-")
    Drain.foreachBatch(
        Drain.files(spark, feedPath, vecFeedSchema, maxFilesPerTrigger),
        "graft_streaming_vecgate_") { (batch, id) =>
      processVecGateBatch(batch, id, root, cbRows, baseline)
    }
    resolveVecGate(spark, root, prevVecs, prevAssign,
      spark.createDataFrame(cbRows.toIndexedSeq).toDF("centroid_id", "cv"))
  }

  /** q139 — streaming-vs-batch IVF-gate parity: stored state (sample
    * codebook, prev assignment, its baseline error) publishes
    * batch-side exactly as q110 reads it; the vector diff feed stages
    * as four vec_id-ranged files. Oracle = the batch q110 SQL. */
  def gatedIvfViaStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.VectorOps
    val all = VectorOps.vecsFrom(graft.Tables.embeddings(spark, sfDir))
    val (cbRows, prevAssign, _, _) = VectorOps.vecIndexState(spark, sfDir)
    val baseline = prevAssign
      .agg((sum($"dist2".cast(DecimalType(18, 6))).cast(DoubleType)
        / count(lit(1))).as("m"))
      .head().getDouble(0)
    val feed = Delta.embeddings(spark, sfDir).status.filter(Delta.dirty)
      .join(graft.Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"embedding"), Seq("vec_id"), "left")
      .select($"vec_id", $"status", $"embedding")
    vecGateStream(spark, Drain.stageRanged(feed, "vec_id", 4), cbRows,
      VectorOps.vecSnapshotPrev(all), prevAssign, baseline,
      maxFilesPerTrigger = Some(1))
  }
}
