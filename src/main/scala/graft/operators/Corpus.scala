package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.delta.Delta
import graft.state.Published
import graft.syntax._

/** Corpus-management operators for the training-data pipeline — the
  * steps that sit between raw ingested documents and a training run:
  * deterministic train/validation/test splits, benchmark
  * decontamination, vocabulary statistics, and PII redaction.
  *
  * None of these exist in the reference (its corpus is telemetry, not
  * text) — they are north-star LLM-pipeline operators in the same
  * family as Dedup/TextOps, and every one is expressed as a
  * declarative single-pass plan that holds at 100 TB:
  *
  *  - splits are a pure map over md5(doc_id) — no shuffle, no state,
  *    stable under corpus growth (a doc's split never changes when
  *    other docs are added — the property reservoir/random sampling
  *    lacks and the reason hash-splits are the production standard);
  *  - decontamination broadcasts the benchmark n-gram set (eval
  *    suites are tiny next to the corpus) so the corpus side is one
  *    scan with a map-side semi-join — no corpus shuffle at all;
  *  - vocabulary is one partial-aggregated groupBy (map-side combine
  *    absorbs the token skew: "the" collapses to one row per task
  *    before the exchange);
  *  - redaction is a pure per-row regex map (codegen'd, no UDF).
  */
object Corpus {

  // ---------------------------------------------------------------
  // q58 — deterministic train/validation/test split. bucket =
  // md5(doc_id) mod 100; the hash (not rand()) makes the assignment
  // reproducible across runs, engines, and corpus versions.
  // ---------------------------------------------------------------

  val TrainPctEnd = 80
  val ValidationPctEnd = 90

  /** md5(doc_id) mod 100 — the split bucket, shared by q58 and the
    * shard packer (q64) so the two can never disagree on a doc's
    * split. */
  private[graft] def bucketCol: Column =
    expr("CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)") % 100

  private[graft] def splitCol(bucket: Column): Column =
    when(bucket < TrainPctEnd, lit("train"))
      .when(bucket < ValidationPctEnd, lit("validation"))
      .otherwise(lit("test"))

  /** Oracle twin of [[bucketCol]]/[[splitCol]] (Classify's NB oracle
    * reuses the split CASE so the two engines can never disagree on
    * train membership). */
  private[graft] val bucketSql =
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
  private[graft] val splitCaseSql =
    s"""CASE WHEN $bucketSql < $TrainPctEnd THEN 'train'
       |     WHEN $bucketSql < $ValidationPctEnd THEN 'validation'
       |     ELSE 'test' END""".stripMargin

  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssignFrom(Tables.documents(spark, dir))

  def splitAssignFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", bucketCol)
      .select($"doc_id", $"bucket", splitCol($"bucket").as("split"))
      .orderBy($"doc_id")

  val splitAssignSql: String = splitAssignSqlFrom("documents")

  def splitAssignSqlFrom(src: String): String =
    s"""SELECT doc_id, $bucketSql AS bucket,
       |$splitCaseSql AS split
       |FROM $src ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q59 — benchmark decontamination: flag corpus documents sharing
  // any k-word n-gram with a benchmark/eval set (the fixture stands
  // in doc_id < BenchmarkMaxDocId for the eval suite). k = 5 words:
  // long enough that random co-occurrence is negligible (measured on
  // the fixtures: k=3 flags 58% of docs by chance, k=5 flags exactly
  // the genuine near-duplicates), short enough to catch paraphrase
  // fragments. Production corpora use k ≈ 13 tokens (the GPT-3/PaLM
  // convention) — a parameter, not a structural change.
  // ---------------------------------------------------------------

  val DecontamK = 5
  val BenchmarkMaxDocId = 10L

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrom(Tables.documents(spark, dir))

  def decontaminateFrom(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val fps = docs.select($"doc_id",
      expr(s"graft_shingle_fps(text, $DecontamK)").as("fp"))
    // benchmark n-gram set: tiny (an eval suite), distinct + broadcast
    // → the corpus side joins map-side, no corpus shuffle
    val bench = fps.filter($"doc_id" < BenchmarkMaxDocId)
      .select($"fp").distinct()
    val corpus = fps.filter($"doc_id" >= BenchmarkMaxDocId)
    val totals = corpus.groupBy($"doc_id").agg(count(lit(1)).as("total_ngrams"))
    val shared = corpus.join(broadcast(bench), Seq("fp"))
      .groupBy($"doc_id").agg(count(lit(1)).as("shared_ngrams"))
    shared.join(totals, Seq("doc_id"))
      .select($"doc_id", $"shared_ngrams", $"total_ngrams",
        round($"shared_ngrams" * lit(1.0) / $"total_ngrams", 6)
          .as("contamination"))
      .orderBy($"doc_id")
  }

  /** k-word-gram CTE chain for the oracle; mirrors Dedup.shinglesCte
    * at k = [[DecontamK]] with the same fp derivation. */
  private def ngramCte(k: Int, src: String = "documents"): String = {
    val concat = (0 until k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""tok AS (
       |  SELECT doc_id, ${TextOps.tokensSql} AS toks FROM $src),
       |shd AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, len(toks) - ${k - 1}),
       |      i -> $concat)) AS s
       |  FROM tok WHERE len(toks) >= $k),
       |fps AS (
       |  SELECT DISTINCT doc_id,
       |    CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS fp
       |  FROM shd)""".stripMargin
  }

  val decontaminateSql: String = decontaminateSqlFrom("documents")

  def decontaminateSqlFrom(src: String): String =
    s"""WITH ${ngramCte(DecontamK, src)},
       |bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id < $BenchmarkMaxDocId),
       |corp AS (SELECT doc_id, fp FROM fps WHERE doc_id >= $BenchmarkMaxDocId),
       |tot AS (SELECT doc_id, COUNT(*) AS total_ngrams FROM corp GROUP BY doc_id),
       |sh AS (SELECT c.doc_id, COUNT(*) AS shared_ngrams
       |       FROM corp c JOIN bench b ON c.fp = b.fp GROUP BY c.doc_id)
       |SELECT s.doc_id, s.shared_ngrams, t.total_ngrams,
       |  ROUND(s.shared_ngrams * 1.0 / t.total_ngrams, 6) AS contamination
       |FROM sh s JOIN tot t ON s.doc_id = t.doc_id
       |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q60 — vocabulary statistics: corpus-wide token frequency and
  // document frequency, top [[VocabTopK]] by frequency. The building
  // block of tokenizer training and stopword/quality heuristics.
  // ---------------------------------------------------------------

  val VocabTopK = 100

  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    vocabularyFrom(Tables.documents(spark, dir))

  def vocabularyFrom(docs: DataFrame): DataFrame =
    docs
      .select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("freq"),
           countDistinct($"doc_id").as("doc_freq"))
      .orderBy($"freq".desc, $"token".asc)
      .limit(VocabTopK)

  val vocabularySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextOps.tokensSql}) AS token FROM documents)
       |SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
       |FROM toks GROUP BY token
       |ORDER BY freq DESC, token ASC LIMIT $VocabTopK""".stripMargin

  // ---------------------------------------------------------------
  // q61 — PII redaction: scrub emails and phone-like digit runs,
  // report counts and redacted text length. The fixture corpus is
  // synthetic word-soup with no PII, so the query first grafts a
  // deterministic contact line onto each document (IN BOTH ENGINES —
  // the augmentation is part of the oracle-checked query, documented
  // here, not hidden) so the redaction path is exercised end-to-end
  // on every row rather than vacuously matching on zeros. The regexes
  // stay inside the Java-regex ∩ RE2 common subset (char classes,
  // bounded repeats — no lookaround, no backrefs) so both engines
  // match identically.
  // ---------------------------------------------------------------

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactFrom(Tables.documents(spark, dir))

  def piiRedactFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("aug",
        concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com or +1-555-"),
          lpad(($"doc_id" % 10000).cast(StringType), 4, "0")))
      .select($"doc_id",
        regexp_count($"aug", lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count($"aug", lit(PhoneRe)).cast(LongType).as("n_phones"),
        length(regexp_replace(regexp_replace($"aug", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).cast(LongType).as("redacted_len"))
      .orderBy($"doc_id")

  val piiRedactSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |         || '@example.com or +1-555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS a
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(a, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(a, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(length(regexp_replace(regexp_replace(a, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
       |FROM aug ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q63 — quality filter funnel: the C4/RefinedWeb-style gating
  // report. Every doc gets exactly one verdict, first-match-wins
  // (the q22 drop-reason discipline): too_short → low_quality →
  // non_target_lang → exact_dup → kept, and the funnel reports docs
  // AND token volume per verdict — the numbers a pipeline review
  // actually asks for ("how much data does each gate cost?").
  //
  // Scale shape: one narrow pass computes every per-doc signal; the
  // only exchange is the dup-keeper window, keyed on md5(norm) — the
  // q44 discipline: hash first so the shuffle key is a 32-char digest
  // instead of the full document text — then a partial-aggregated
  // groupBy over 5 verdict rows.
  //
  // Keeper semantics: keeper = min(doc_id) over ALL docs sharing the
  // normalized text, regardless of whether earlier gates would have
  // dropped that keeper. A sequential-gate pipeline (dedup AFTER
  // filtering) would instead pick the keeper among survivors — which
  // can retain one more copy when the min-id copy was e.g. non-target
  // lang. This funnel is a REPORT over independent signals, so the
  // simpler all-docs keeper is the intended semantics; the oracle SQL
  // mirrors it exactly, and a retention pipeline that needs
  // survivor-keeper composes the gates sequentially instead.
  // ---------------------------------------------------------------

  val FunnelMinTokens = 20L
  val FunnelMinUniqRatio = 0.30
  val TargetLangs = Seq("en", "es", "fr")

  def filterFunnel(spark: SparkSession, dir: String): DataFrame =
    filterFunnelFrom(Tables.documents(spark, dir))

  def filterFunnelFrom(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"norm_md5")
    docs
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("n_tokens", size($"toks").cast(LongType))
      .withColumn("uniq_ratio",
        size(array_distinct($"toks")).cast(DoubleType) / $"n_tokens")
      .withColumn("norm_md5",
        md5(regexp_replace(lower(trim($"text")), "\\s+", " ").cast(BinaryType)))
      .withColumn("keeper", min($"doc_id").over(w))
      .withColumn("verdict",
        when($"n_tokens" < FunnelMinTokens, lit("too_short"))
          .when($"uniq_ratio" < FunnelMinUniqRatio, lit("low_quality"))
          .when(!$"lang".isin(TargetLangs: _*), lit("non_target_lang"))
          .when($"keeper" =!= $"doc_id", lit("exact_dup"))
          .otherwise(lit("kept")))
      .groupBy($"verdict")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .orderBy($"verdict")
  }

  val filterFunnelSql: String = {
    val langs = TargetLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id, lang,
       |    len(${TextOps.tokensSql}) AS n_tokens,
       |    CAST(len(list_distinct(${TextOps.tokensSql})) AS DOUBLE)
       |      / len(${TextOps.tokensSql}) AS uniq_ratio,
       |    MIN(doc_id) OVER (PARTITION BY
       |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS keeper
       |  FROM documents),
       |v AS (
       |  SELECT CASE WHEN n_tokens < $FunnelMinTokens THEN 'too_short'
       |              WHEN uniq_ratio < $FunnelMinUniqRatio THEN 'low_quality'
       |              WHEN lang NOT IN ($langs) THEN 'non_target_lang'
       |              WHEN keeper <> doc_id THEN 'exact_dup'
       |              ELSE 'kept' END AS verdict,
       |         n_tokens
       |  FROM m)
       |SELECT verdict, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM v GROUP BY verdict ORDER BY verdict""".stripMargin
  }

  // ---------------------------------------------------------------
  // q64 — token-budget shard packing: assign each doc to a training
  // shard by running token count WITHIN its q58 split — the layout
  // step between a cleaned corpus and a dataloader. Greedy sequential
  // packing: shard = floor(tokens-before-me / budget), so shards hold
  // ~budget tokens each and the assignment is deterministic.
  //
  // Scale shape — TWO-LEVEL deterministic packing. A single ordered
  // window per split funnels a third of the corpus through one task,
  // so the running sum is decomposed:
  //
  //   1. each doc hashes to one of [[NumPackBuckets]] pack buckets
  //      (an md5 slice independent of the split slice), and the
  //      ordered window runs within (split, bucket) — the widest
  //      sort any task sees is corpus / (splits × buckets);
  //   2. a per-(split, bucket) totals aggregate (splits × buckets
  //      rows — trivially broadcastable) yields each bucket's
  //      exclusive prefix offset within its split;
  //   3. cum_before = bucket offset + within-bucket running sum —
  //      exactly the global running sum in (split, bucket, doc_id)
  //      order, computed without any global window.
  //
  // Packing order is therefore (bucket, doc_id) within a split — as
  // deterministic as pure doc_id order, just a different fixed
  // permutation. NumPackBuckets is fixture-sized (16); a production
  // deployment raises it so each window partition holds ~one task's
  // worth of rows (e.g. 10⁴ buckets at 10⁹ docs) — a parameter, not
  // a structural change. Budget likewise (~10⁸ tokens/shard in prod).
  // ---------------------------------------------------------------

  val ShardTokenBudget = 2000L
  val NumPackBuckets = 16

  /** md5 slice (chars 9–16, disjoint from [[bucketCol]]'s 1–8) mod
    * [[NumPackBuckets]] — the pack bucket, uncorrelated with the
    * split bucket so buckets stay balanced within every split.
    * Package-visible so the width-bound spec can recompute it. */
  private[graft] def packBucketCol: Column =
    expr("CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 9, 8), 16, 10) AS BIGINT)") % NumPackBuckets

  private val packBucketSql =
    s"CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 8) AS BIGINT) % $NumPackBuckets"

  def shardPack(spark: SparkSession, dir: String): DataFrame =
    shardPackFrom(Tables.documents(spark, dir))

  def shardPackFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs
      .withColumn("n_tokens", size(TextOps.tokens($"text")).cast(LongType))
      .withColumn("split", splitCol(bucketCol))
      .withColumn("pbucket", packBucketCol)
    // level 2: exclusive prefix offset per (split, bucket) — the
    // aggregate is splits × NumPackBuckets rows, so the ordered window
    // over it is driver-trivial and the join back broadcasts
    val wOff = Window.partitionBy($"split").orderBy($"pbucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = m.groupBy($"split", $"pbucket")
      .agg(sum($"n_tokens").as("bucket_tokens"))
      .withColumn("bucket_offset",
        coalesce(sum($"bucket_tokens").over(wOff), lit(0L)))
      .select($"split", $"pbucket", $"bucket_offset")
    // level 1: running sum within (split, bucket) — bounded partitions
    val wIn = Window.partitionBy($"split", $"pbucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    m.join(broadcast(offsets), Seq("split", "pbucket"))
      .withColumn("cum_before",
        $"bucket_offset" + coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .select($"doc_id", $"split", $"n_tokens", $"cum_before",
        floor($"cum_before" / ShardTokenBudget).cast(LongType).as("shard_id"))
      .orderBy($"doc_id")
  }

  val shardPackSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, $splitCaseSql AS split,
       |    $packBucketSql AS pbucket,
       |    len(${TextOps.tokensSql}) AS n_tokens
       |  FROM documents),
       |off AS (
       |  SELECT split, pbucket,
       |    COALESCE(SUM(SUM(n_tokens)) OVER (PARTITION BY split
       |      ORDER BY pbucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS bucket_offset
       |  FROM m GROUP BY split, pbucket),
       |c AS (
       |  SELECT m.doc_id, m.split, m.n_tokens,
       |    CAST(o.bucket_offset + COALESCE(SUM(m.n_tokens) OVER (
       |      PARTITION BY m.split, m.pbucket ORDER BY m.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS cum_before
       |  FROM m JOIN off o ON m.split = o.split AND m.pbucket = o.pbucket)
       |SELECT doc_id, split, CAST(n_tokens AS BIGINT) AS n_tokens, cum_before,
       |  CAST(FLOOR(cum_before / $ShardTokenBudget) AS BIGINT) AS shard_id
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q79 — sequence packing: where q64 assigns whole documents to
  // shards, this computes each document's TOKEN-LEVEL placement in
  // the fixed-length training sequences a dataloader actually feeds
  // the model. The causal-LM convention: within each q58 split,
  // documents are concatenated into one token stream (each doc
  // terminated by an EOS separator) and the stream is cut into
  // SeqPackLen-token blocks; a document may span several blocks and a
  // block may hold several documents. The manifest emitted here —
  // (first sequence, offset within it, last sequence, span count) per
  // doc — is exactly what an indexed dataloader needs to seek any
  // document, and what attribution tooling needs to map a training
  // sequence back to its sources.
  //
  // Packing is per split (train/val/test streams must never share a
  // sequence), and the stream order is the q64 permutation —
  // (pack-bucket, doc_id) — so the running sum reuses the same
  // two-level decomposition: an ordered window within (split,
  // pbucket) plus broadcast per-bucket exclusive offsets. No global
  // window at any corpus size; everything after the running sum is
  // row-local arithmetic.
  // ---------------------------------------------------------------

  /** Tokens per training sequence — fixture-sized (production: the
    * model context length, 2k–128k). */
  val SeqPackLen = 128L

  def seqPack(spark: SparkSession, dir: String): DataFrame =
    seqPackFrom(Tables.documents(spark, dir))

  /** (doc_id, split, n_tokens incl. the EOS separator, cum_before,
    * seq_first, off_first, seq_last, n_seqs), ordered by doc_id.
    * `cum_before` is the doc's start position in its split's stream;
    * sequence ids restart at 0 per split. */
  def seqPackFrom(docs: DataFrame): DataFrame = {
    val m = docs
      // +1: every document is terminated by one EOS token, so the
      // stream is doc ⊕ EOS ⊕ doc ⊕ EOS … and no block can ever
      // begin mid-document without the separator in front of it
      .withColumn("n_tokens",
        (size(TextOps.tokens($"text")) + 1).cast(LongType))
      .withColumn("split", splitCol(bucketCol))
      .withColumn("pbucket", packBucketCol)
    val wOff = Window.partitionBy($"split").orderBy($"pbucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = m.groupBy($"split", $"pbucket")
      .agg(sum($"n_tokens").as("bucket_tokens"))
      .withColumn("bucket_offset",
        coalesce(sum($"bucket_tokens").over(wOff), lit(0L)))
      .select($"split", $"pbucket", $"bucket_offset")
    val wIn = Window.partitionBy($"split", $"pbucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    m.join(broadcast(offsets), Seq("split", "pbucket"))
      .withColumn("cum_before",
        $"bucket_offset" + coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .select($"doc_id", $"split", $"n_tokens", $"cum_before",
        floor($"cum_before" / SeqPackLen).cast(LongType).as("seq_first"),
        ($"cum_before" % SeqPackLen).cast(LongType).as("off_first"),
        floor(($"cum_before" + $"n_tokens" - 1) / SeqPackLen)
          .cast(LongType).as("seq_last"))
      .withColumn("n_seqs", $"seq_last" - $"seq_first" + 1L)
      .orderBy($"doc_id")
  }

  val seqPackSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, $splitCaseSql AS split,
       |    $packBucketSql AS pbucket,
       |    len(${TextOps.tokensSql}) + 1 AS n_tokens
       |  FROM documents),
       |off AS (
       |  SELECT split, pbucket,
       |    COALESCE(SUM(SUM(n_tokens)) OVER (PARTITION BY split
       |      ORDER BY pbucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS bucket_offset
       |  FROM m GROUP BY split, pbucket),
       |c AS (
       |  SELECT m.doc_id, m.split, m.n_tokens,
       |    CAST(o.bucket_offset + COALESCE(SUM(m.n_tokens) OVER (
       |      PARTITION BY m.split, m.pbucket ORDER BY m.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS cum_before
       |  FROM m JOIN off o ON m.split = o.split AND m.pbucket = o.pbucket)
       |SELECT doc_id, split, CAST(n_tokens AS BIGINT) AS n_tokens, cum_before,
       |  CAST(FLOOR(cum_before / $SeqPackLen) AS BIGINT) AS seq_first,
       |  CAST(cum_before % $SeqPackLen AS BIGINT) AS off_first,
       |  CAST(FLOOR((cum_before + n_tokens - 1) / $SeqPackLen) AS BIGINT)
       |    AS seq_last,
       |  CAST(FLOOR((cum_before + n_tokens - 1) / $SeqPackLen)
       |    - FLOOR(cum_before / $SeqPackLen) + 1 AS BIGINT) AS n_seqs
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q65 — TF-IDF top terms per document: the classic salience
  // ranking (retrieval features, keyword extraction, topic drift
  // monitoring over a training corpus). tf·ln(N/df) rounded to 6dp;
  // ties break lexicographically so the top-k is deterministic.
  //
  // Scale shape: tf and df are both partial-aggregated groupBys over
  // the exploded token stream; the scalar N broadcasts; the final
  // tf⋈df join shuffles on token (df's vocabulary can be billions of
  // rows on web corpora — broadcasting it is NOT assumed).
  // ---------------------------------------------------------------

  val TfIdfTopTerms = 3

  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTermsFrom(Tables.documents(spark, dir))

  def tfidfTopTermsFrom(docs: DataFrame): DataFrame = {
    val toks = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    // df derived FROM tf, not from a second pass over the exploded
    // stream: tf already holds one row per (doc, token), so a count
    // over a token window IS the document frequency — one pipeline,
    // no countDistinct expansion, no token-keyed join. The window
    // shuffles tf on token exactly like the join did; token
    // cardinality is unbounded, so nothing here assumes a broadcast.
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy($"token")
    val scored = tf
      .withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round($"tf" * log($"n_docs".cast(DoubleType) / $"df"), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"token".asc)
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter($"rank" <= TfIdfTopTerms)
      .select($"doc_id", $"token", $"tf", $"df", $"tfidf", $"rank")
      .orderBy($"doc_id", $"rank")
  }

  val tfidfTopTermsSql: String = tfidfTopTermsSqlFrom("documents")

  def tfidfTopTermsSqlFrom(src: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextOps.tokensSql}) AS token FROM $src),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM $src),
       |scored AS (
       |  SELECT t.doc_id, t.token, t.tf, d.df,
       |    ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
       |  FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n)
       |SELECT doc_id, token, tf, df, tfidf, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, token ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $TfIdfTopTerms ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q72 — document chunking: split each document into fixed-size
  // token windows with overlap — the step that turns a cleaned corpus
  // into training sequences (every LLM data pipeline ends here). The
  // sliding-window convention: starts advance by stride until the
  // first window that reaches the document's end (so every token is
  // covered, the tail is never re-emitted as a redundant sub-suffix,
  // and a doc shorter than one window yields exactly one chunk).
  //
  // 100 TB shape: pure row-local generate — tokenize, compute the
  // start list, explode, slice. Zero shuffle; the ORDER BY below is
  // oracle ceremony. Chunk count ≈ tokens/stride, so output scales
  // linearly with the corpus; no row ever holds more than one
  // document's tokens (the explode is per-doc, not per-corpus).
  // ---------------------------------------------------------------

  val ChunkTokens = 64
  val ChunkStride = 48 // 16-token overlap between consecutive chunks

  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkDocsFrom(Tables.documents(spark, dir))

  def chunkDocsFrom(docs: DataFrame): DataFrame =
    docs
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      // last start = the first stride multiple whose window reaches
      // the end: 0 for short docs, else ceil((n - W) / S) * S
      .select($"doc_id", $"toks",
        expr(s"""CASE WHEN size(toks) <= $ChunkTokens THEN 0
                 ELSE ((size(toks) - $ChunkTokens + $ChunkStride - 1)
                       div $ChunkStride) * $ChunkStride END""")
          .as("last_start"))
      .select($"doc_id", $"toks",
        posexplode(expr(s"sequence(0, last_start, $ChunkStride)"))
          .as(Seq("chunk_idx", "start_token")))
      .select($"doc_id",
        $"chunk_idx".cast(LongType).as("chunk_idx"),
        $"start_token".cast(LongType).as("start_token"),
        expr(s"slice(toks, start_token + 1, $ChunkTokens)").as("chunk_toks"))
      .select($"doc_id", $"chunk_idx", $"start_token",
        size($"chunk_toks").cast(LongType).as("n_tokens"),
        array_join($"chunk_toks", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_idx")

  val chunkDocsSql: String = chunkDocsSqlFrom("documents")

  def chunkDocsSqlFrom(src: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${TextOps.tokensSql} AS toks FROM $src),
       |st AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) <= $ChunkTokens THEN 0
       |         ELSE ((len(toks) - $ChunkTokens + $ChunkStride - 1)
       |               // $ChunkStride) * $ChunkStride END AS last_start
       |  FROM tok),
       |ch AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, last_start, $ChunkStride)) AS start_token
       |  FROM st)
       |SELECT doc_id,
       |  start_token // $ChunkStride AS chunk_idx,
       |  start_token,
       |  len(toks[start_token + 1 : start_token + $ChunkTokens]) AS n_tokens,
       |  array_to_string(toks[start_token + 1 : start_token + $ChunkTokens],
       |                  ' ') AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------
  // q73 — repetition statistics: the Gopher-style redundancy signals
  // (Rae et al. 2021, "Scaling Language Models", table A1) that the
  // q41 length/punctuation score cannot see — duplicate-line fraction
  // (by count and by character mass) and the fraction of word-bigrams
  // claimed by the single most frequent bigram. Boilerplate and
  // template spam score well on q41 but light up here.
  //
  // 100 TB shape: two groupBys keyed by (doc_id, line) and
  // (doc_id, bigram) — both partial-aggregated, both keyed by doc so
  // the shuffle is ~corpus-sized, never a global token table; the
  // per-doc rollup then rides the same doc_id partitioning. No
  // per-doc state ever exceeds one document's distinct lines/bigrams.
  // ---------------------------------------------------------------

  val MaxDupLineFrac = 0.30
  val MaxTopBigramFrac = 0.20

  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStatsFrom(Tables.documents(spark, dir))

  def repetitionStatsFrom(docs: DataFrame): DataFrame = {
    val lineAgg = docs
      .select($"doc_id", explode(expr(
        "filter(split(text, '\\n'), l -> trim(l) != '')")).as("line"))
      .groupBy($"doc_id", $"line")
      .agg(count(lit(1)).as("cnt"), length($"line").as("chars"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_lines"),
        round(sum($"cnt" - 1) * lit(1.0) / sum($"cnt"), 6)
          .as("dup_line_frac"),
        round(sum(($"cnt" - 1) * $"chars") * lit(1.0)
          / sum($"cnt" * $"chars"), 6).as("dup_line_char_frac"))
    val bigramAgg = docs
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
           END""")).as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(round(max($"cnt") * lit(1.0) / sum($"cnt"), 6)
        .as("top_bigram_frac"))
    lineAgg.join(bigramAgg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_lines", $"dup_line_frac", $"dup_line_char_frac",
        coalesce($"top_bigram_frac", lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        $"dup_line_frac" <= MaxDupLineFrac &&
          $"top_bigram_frac" <= MaxTopBigramFrac)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // q74 — unigram log-probability scoring: the perplexity-proxy
  // quality filter (CCNet/RedPajama use a KenLM 5-gram; the unigram
  // model is the same pipeline shape with the LM swapped). Score =
  // mean over tokens of ln(corpus unigram probability); documents of
  // improbable-token soup (OCR noise, code in a prose corpus, another
  // language) score far below prose and fail the gate.
  //
  // 100 TB shape: tf is per-(doc, token) — partial aggregation
  // collapses repeats map-side; the vocab join is keyed by token (the
  // q65 discipline: the vocabulary is NEVER assumed broadcastable);
  // the corpus-total is one scalar crossJoin(broadcast). Parity
  // discipline: each token's logprob is rounded to 6dp and summed as
  // DECIMAL (order-independent exact integer arithmetic — the
  // graft.functions.Exact pattern), so a 32-way Spark aggregate and
  // the single-threaded oracle produce bit-identical doubles.
  // ---------------------------------------------------------------

  /** Gate: mean token logprob ≥ −8 nats (p ≥ ~3e-4 on average). */
  val MinAvgLogProb = -8.0

  def unigramLogProb(spark: SparkSession, dir: String): DataFrame =
    unigramLogProbFrom(Tables.documents(spark, dir))

  /** The (doc_id, token, tf) term-frequency table — q74's expensive
    * half (tokenize + explode + corpus-keyed aggregate), shared with
    * the q92 incremental path, which maintains it as stored state. */
  private[graft] def tfFrom(docs: DataFrame): DataFrame =
    docs.select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))

  /** The corpus vocabulary (token, cnt) as an aggregate of the tf
    * table — counts merge by addition, the property q92's delta
    * maintenance relies on. */
  private[graft] def vocabFromTf(tf: DataFrame): DataFrame =
    tf.groupBy($"token").agg(sum($"tf").as("cnt"))

  /** q74's scoring tail over an explicit (tf, vocab) pair: per-token
    * logprob (6dp, summed as DECIMAL — order-independent exact) joined
    * back to the tf table and rolled up per document. Kept for the
    * q92 rescore, whose tf table is the stored carry state itself;
    * the batch path ([[unigramScoredFrom]]) scores the instance-level
    * token stream instead — same exact-decimal totals, one less
    * corpus-scale exchange. */
  private def scoreTf(tf: DataFrame, vocab: DataFrame): DataFrame = {
    val total = vocab.agg(sum($"cnt").as("total"))
    val scored = tf.join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("lp",
        round(log($"cnt".cast(DoubleType) / $"total"), 6)
          .cast(DecimalType(18, 6)))
    scored.groupBy($"doc_id")
      .agg(sum($"tf").cast(LongType).as("n_tokens"),
        round(sum($"tf" * $"lp").cast(DoubleType) / sum($"tf"), 6)
          .as("avg_logprob"))
      .withColumn("keep", $"avg_logprob" >= MinAvgLogProb)
      .orderBy($"doc_id")
  }

  /** Scoring-join broadcast ceiling: the vocabulary's EXACT row count
    * is in hand (the stats collect below), so the q65 "never assume
    * the vocabulary broadcasts" discipline becomes an adaptive choice
    * with a measured input, like AQE's own threshold: ≤ this many
    * rows (~50 B/row in the hashed relation → low hundreds of MB,
    * far under the 8 GB broadcast limit) the scoring join is
    * row-local; above it, the tf-collapsed shuffle-join shape takes
    * over — correct at any vocabulary size, priced at one
    * corpus-scale exchange. */
  val VocabBroadcastMaxRows = 4000000L

  /** q74 batch engine (VERDICT r14 item 2 reshape): ONE model pass
    * builds the vocabulary (lazily checkpointed; the stats collect —
    * corpus total + vocab row count in a single tiny job — is its
    * first, strictly sequential action, so the lazy leaf can never be
    * racing-cloned), then ONE scoring pass joins the instance-level
    * token stream against the broadcast vocab leaf. The old shape
    * re-derived the tokenize subtree three times (under the total
    * broadcast, the vocab side, and the scored side) and reshuffled
    * the corpus by token for the join; this one tokenizes exactly
    * twice (model + score — a global model cannot score in fewer) and
    * never exchanges corpus-scale rows when the vocab broadcasts.
    * Summing per-instance lp equals summing tf·lp (exact decimal
    * integer arithmetic), so the output is byte-identical to the
    * tf-collapsed shape. `carry` rides extra doc-constant columns
    * (q83's lang) through the per-doc aggregate so no doc-keyed join
    * is needed downstream. */
  private[graft] def unigramScoredFrom(docs: DataFrame,
                                       carry: Seq[String] = Seq.empty,
                                       broadcastMaxRows: Long =
                                         VocabBroadcastMaxRows): DataFrame = {
    val toks = docs.select(
      (($"doc_id" +: carry.map(col)) :+
        explode(TextOps.tokens($"text")).as("token")): _*)
    val vocab = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val stats = vocab.agg(sum($"cnt").as("total"), count(lit(1)).as("nv"))
      .collect()(0)
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val nv = stats.getLong(1)
    val vSide = vocab.select($"token", $"cnt")
    toks
      .join(if (nv <= broadcastMaxRows) broadcast(vSide) else vSide,
        Seq("token"))
      .withColumn("lp",
        round(log($"cnt".cast(DoubleType) / lit(total)), 6)
          .cast(DecimalType(18, 6)))
      .groupBy(($"doc_id" +: carry.map(col)): _*)
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"lp").cast(DoubleType) / count(lit(1)), 6)
          .as("avg_logprob"))
      .withColumn("keep", $"avg_logprob" >= MinAvgLogProb)
  }

  def unigramLogProbFrom(docs: DataFrame): DataFrame =
    unigramScoredFrom(docs)
      .select($"doc_id", $"n_tokens", $"avg_logprob", $"keep")
      .orderBy($"doc_id")

  private[graft] def unigramLogProbSqlFrom(src: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${TextOps.tokensSql}) AS token FROM $src),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |vocab AS (
       |  SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
       |scored AS (
       |  SELECT t.doc_id, t.tf,
       |    CAST(ROUND(ln(CAST(v.cnt AS DOUBLE) / total), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM tf t JOIN vocab v USING (token) CROSS JOIN tot)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |  ROUND(CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf), 6) AS avg_logprob,
       |  ROUND(CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf), 6) >= $MinAvgLogProb
       |    AS keep
       |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  val unigramLogProbSql: String = unigramLogProbSqlFrom("documents")

  // ---------------------------------------------------------------
  // q108 — bigram log-probability scoring: q74's pipeline shape with
  // a CONTEXT-SENSITIVE model (the first step from unigram toward the
  // KenLM n-gram scoring CCNet/RedPajama actually run). Score = mean
  // over a doc's adjacent-token bigrams of ln P(w2 | w1), where
  // P(w2|w1) = B(w1,w2) / C(w1) from corpus bigram counts; a bigram
  // the model never saw (possible only when scoring against a model
  // fitted elsewhere — held-out scoring) backs off to
  // α · M(w2) / T over the model's continuation marginal
  // (M(w2) = Σ_w1 B(w1,w2) — the Kneser-Ney-style continuation count,
  // derived from the bigram table itself so the model is ONE artifact).
  // Self-scoring never backs off (every scored bigram is in the
  // model), which is what lets the oracle use a plain inner join.
  //
  // 100 TB shape: the bigram build is ROW-LOCAL (adjacent pairs from
  // the token array — no window, no position self-join, zero extra
  // shuffle over q74); the per-(doc,bigram) tf partial-aggregates
  // map-side; model tables are observed-bigram-sized (≤ corpus token
  // count, typically ≪) and join by (w1, w2) / w1 keys — never
  // broadcast-assumed (the q65/q74 discipline). Parity: per-bigram
  // logprob rounded 6dp, summed as DECIMAL, divided per doc — the
  // exact q74 arithmetic.
  // ---------------------------------------------------------------

  /** Gate: mean bigram logprob ≥ −7 nats. Bigram scores sit below
    * unigram ones on any corpus (conditioning shrinks counts faster
    * than contexts), hence the wider bound than q74's. */
  val MinAvgBigramLogProb = -7.0

  /** Continuation-backoff weight (stupid backoff's 0.4). */
  val BigramBackoffAlpha = 0.4

  /** The trained bigram LM is published state (VERDICT r16 item 1 —
    * the q114/q129/q99 published-artifact precedent applied a fourth
    * time): a
    * trained n-gram LM is a nightly-published artifact — the fit
    * writes it, scoring calls read it — so repeated q108 runs against
    * an unchanged corpus must not re-aggregate the model tables per
    * call. The per-call cost is the corpus scoring pass (build the
    * doc-side bigram tf from text, join the broadcast model), which
    * is the honest per-query work. q109 — the MAINTAINER — stays
    * fresh per call: its bench row prices the nightly delta merge. */
  def bigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the fitting call feeds its own bigram pass to both the doc side
    // and the model aggregate (the bigramLogProbFrom shape)
    var fitTf: Option[DataFrame] = None
    val bm = Published(spark, "corpus.bigramModel", dir,
        Published.inventory(dir, "documents")) {
      val bgTf = bigramTfFrom(docs).localCheckpoint(false)
      fitTf = Some(bgTf)
      materializeBigramModel(bigramModelFromTf(bgTf))
    }
    scoreBigramsWith(fitTf.getOrElse(bigramTfFrom(docs)), bm)
  }

  /** The per-(doc, w1, w2) bigram frequency table — row-local pair
    * construction (q73's adjacency expression) + partial-aggregated
    * counts; q109's incremental path maintains it as stored state. */
  private[graft] def bigramTfFrom(docs: DataFrame): DataFrame =
    docs.select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> struct(element_at(toks, i) AS w1,
                         element_at(toks, i + 1) AS w2))
           END""")).as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("tf"))

  /** The bigram model (w1, w2, bcnt) as an aggregate of the bigram tf
    * table — counts merge by addition (q92's delta property). */
  private[graft] def bigramModelFromTf(bgTf: DataFrame): DataFrame =
    bgTf.groupBy($"w1", $"w2").agg(sum($"tf").as("bcnt"))

  /** q108's scoring tail over an explicit (docBg, model) pair: the
    * context totals and the continuation marginal both derive from
    * the model table, so maintenance has ONE table to keep fresh.
    * Shared by the full recompute and the q109 rescore.
    *
    * The model is checkpointed HERE (its four readers — ctx, cont,
    * total, and the scoring join — would otherwise each re-derive
    * it); the 1-row total+size stats collect is the leaf's first,
    * strictly sequential action, and the measured row count drives
    * the q74 adaptive-broadcast choice: an observed-bigram model
    * that fits its scorers joins row-locally (no corpus-scale
    * exchange of docBg at all), one that doesn't falls back to the
    * keyed shuffle joins — correct at any model size. */
  /** A materialized bigram LM: the checkpointed model table plus its
    * one-row stats — the stored form the memo carries and every
    * scoring call consumes. */
  private[graft] case class BigramModel(m: DataFrame, total: Long,
                                        nm: Long)

  /** Checkpoint the model table and collect its 1-row stats (the
    * leaf's first, strictly sequential action — the q114 discipline);
    * the measured row count drives the adaptive-broadcast choice. */
  private[graft] def materializeBigramModel(model: DataFrame): BigramModel = {
    val m = model.localCheckpoint(false)
    val stats = m.agg(sum($"bcnt").as("total"), count(lit(1)).as("nm"))
      .collect()(0)
    BigramModel(m, if (stats.isNullAt(0)) 0L else stats.getLong(0),
      stats.getLong(1))
  }

  private[graft] def scoreBigrams(docBg: DataFrame,
                                  model: DataFrame): DataFrame =
    scoreBigramsWith(docBg, materializeBigramModel(model))

  /** The ONE home of the q108/q109 scoring tail (fresh-fit, published,
    * and maintained paths all present through this, so the
    * oracle-checked contract cannot fork). */
  private[graft] def scoreBigramsWith(docBg: DataFrame,
                                      bm: BigramModel): DataFrame = {
    val m = bm.m
    val total = bm.total
    def side(df: DataFrame) =
      if (bm.nm <= VocabBroadcastMaxRows) broadcast(df) else df
    val ctx = m.groupBy($"w1").agg(sum($"bcnt").as("ccnt"))
    val cont = m.groupBy($"w2").agg(sum($"bcnt").as("mcnt"))
    val scored = docBg
      .join(side(m), Seq("w1", "w2"), "left")
      .join(side(ctx), Seq("w1"), "left")
      .join(side(cont), Seq("w2"), "left")
      .withColumn("total", lit(total))
      .withColumn("lp",
        // the backoff floors the continuation count at 1: a token the
        // model never saw anywhere would otherwise yield ln(0) → NULL
        // and silently vanish from the decimal sum (held-out scoring
        // only — self-scoring always takes the bcnt branch)
        round(when($"bcnt".isNotNull,
            log($"bcnt".cast(DoubleType) / $"ccnt"))
          .otherwise(log(lit(BigramBackoffAlpha)
            * greatest(coalesce($"mcnt", lit(0L)), lit(1L))
              .cast(DoubleType) / $"total")), 6)
          .cast(DecimalType(18, 6)))
    scored.groupBy($"doc_id")
      .agg(sum($"tf").cast(LongType).as("n_bigrams"),
        round(sum($"tf" * $"lp").cast(DoubleType) / sum($"tf"), 6)
          .as("avg_bigram_logprob"))
      .withColumn("keep", $"avg_bigram_logprob" >= MinAvgBigramLogProb)
      .orderBy($"doc_id")
  }

  def bigramLogProbFrom(docs: DataFrame): DataFrame = {
    // one bigram pass feeds both the doc side and the model aggregate
    val bgTf = bigramTfFrom(docs).localCheckpoint(false)
    scoreBigrams(bgTf, bigramModelFromTf(bgTf))
  }

  /** q108 oracle: self-scoring means every scored bigram is in the
    * model, so the join is inner and the backoff branch (mirrored in
    * the Spark plan as the left-join fallback) contributes no rows —
    * identical output, plain SQL. */
  private[graft] def bigramLogProbSqlFrom(src: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${TextOps.tokensSql} AS toks FROM $src),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(toks) - 1),
       |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
       |  FROM tok),
       |bgf AS (
       |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, COUNT(*) AS tf
       |  FROM bg GROUP BY 1, 2, 3),
       |model AS (
       |  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS bcnt
       |  FROM bgf GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(bcnt) AS BIGINT) AS ccnt
       |        FROM model GROUP BY 1),
       |scored AS (
       |  SELECT f.doc_id, f.tf,
       |    CAST(ROUND(ln(CAST(m.bcnt AS DOUBLE) / c.ccnt), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM bgf f
       |  JOIN model m ON m.w1 = f.w1 AND m.w2 = f.w2
       |  JOIN ctx c ON c.w1 = f.w1)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       |  ROUND(CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf), 6)
       |    AS avg_bigram_logprob,
       |  ROUND(CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf), 6)
       |    >= $MinAvgBigramLogProb AS keep
       |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  val bigramLogProbSql: String = bigramLogProbSqlFrom("documents")

  // ---------------------------------------------------------------
  // q109 — incremental bigram maintenance: q92's stored-state
  // discipline applied to the context-sensitive model. The stored
  // (doc, w1, w2, tf) table maintains like stored scores (dirty rows
  // leave under a broadcast anti-join, only added/changed docs
  // re-tokenize); the bigram model maintains by signed count merge
  // keyed on (w1, w2) — dead bigrams leave, new ones enter — and the
  // context totals / continuation marginal DERIVE from the maintained
  // model, so there is exactly one table to keep fresh. The rescore
  // is q108's scoring join over the compact stored table: corpus text
  // is touched only on the dirty slice, the same asymmetry argument
  // as q92 (the win is the corpus TEXT pass, which dwarfs the thin
  // keyed joins at real document sizes).
  //
  // Oracle = the FULL q108 recompute over the new snapshot: carry ∪
  // delta ∪ merged-model rescore must land byte-identically on
  // rescore-everything-from-text.
  // ---------------------------------------------------------------

  /** Stored prev-snapshot (bigram tf, bigram model), published per
    * corpus dir (the tfState discipline). */
  private def bgState(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Published(spark, "corpus.bigramState", dir,
        Published.inventory(dir, "documents")) {
      val bgTf = bigramTfFrom(snapshotPrev(Tables.documents(spark, dir)))
        .localCheckpoint(true)
      (bgTf, bigramModelFromTf(bgTf).localCheckpoint(true))
    }

  def incrementalBigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val (prevBgTf, prevModel) = bgState(spark, dir)
    incrementalBigramLogProbOf(prevBgTf, prevModel,
      snapshotCur(Tables.documents(spark, dir)), Delta.documents(spark, dir))
  }

  /** The general operator: `prevBgTf` / `prevModel` = the stored
    * bigram frequencies and model of the previous snapshot. The
    * lost-side delta reads the STORED rows of dirty docs — the
    * maintenance never touches the previous snapshot's text. */
  def incrementalBigramLogProbOf(prevBgTf: DataFrame, prevModel: DataFrame,
                                 curDocs: DataFrame,
                                 diff: Delta): DataFrame = {
    // the ONLY text processing in the maintenance pass (the q92
    // freshTf discipline: one barrier, several consumers)
    val freshBg = bigramTfFrom(diff.slice(curDocs)).localCheckpoint(false)
    val newBg = diff.carry(prevBgTf).unionByName(freshBg)
    // scoreBigrams checkpoints the model itself (four readers) and
    // its stats collect materializes the freshBg checkpoint too
    val newModel = maintainedBigramModel(prevModel,
      lost = diff.lost(prevBgTf), gained = freshBg)
    scoreBigrams(newBg, newModel)
  }

  /** model' = model + Σ gained − Σ lost on the (w1, w2) key, dropping
    * bigrams whose count reaches zero (maintainedVocab's rule on the
    * pair key). */
  private[graft] def maintainedBigramModel(prevModel: DataFrame,
                                           lost: DataFrame,
                                           gained: DataFrame): DataFrame =
    Delta.signed(prevModel.select($"w1", $"w2", $"bcnt"),
      lost.select($"w1", $"w2", $"tf".as("bcnt")),
      gained.select($"w1", $"w2", $"tf".as("bcnt")))

  /** q109's oracle: the FULL q108 recompute over the new snapshot. */
  lazy val incrementalBigramLogProbSql: String = bigramLogProbSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes)")

  // ---------------------------------------------------------------
  // q75 — mixture sampling: per-source sampling rates (the data-mixing
  // step that sets a training corpus's source composition — curated
  // sources kept whole, bulk web downsampled). Deterministic hash
  // gate, NOT rand(): a doc's verdict is a pure function of its id,
  // so re-runs, engines, and corpus growth cannot move it (the q58
  // property). The hash is SALTED ('mix:' prefix) so the sampling
  // bucket is independent of the q58 split bucket — otherwise
  // "sampled" would correlate perfectly with "train".
  //
  // 100 TB shape: pure row-local map (one md5 + a CASE) — no shuffle,
  // no state, trivially parallel.
  // ---------------------------------------------------------------

  /** The named query's mixture config: five curated sources kept
    * whole, five at half rate, five at quarter, the long tail at 10%. */
  val MixtureRates: Seq[(String, Double)] =
    (0 until 15).map(i => s"src$i" ->
      (if (i < 5) 1.0 else if (i < 10) 0.5 else 0.25))
  val MixtureDefaultRate = 0.1

  private[graft] def mixBucketCol: Column =
    expr("CAST(conv(substring(md5(CAST(concat('mix:', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)") % 100
  private val mixBucketSql =
    "CAST('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"

  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSampleFrom(Tables.documents(spark, dir),
      MixtureRates, MixtureDefaultRate)

  def mixtureSampleFrom(docs: DataFrame, rates: Seq[(String, Double)],
                        default: Double): DataFrame = {
    val rateCol = rates.sortBy(_._1).foldLeft(lit(default): Column) {
      case (acc, (src, r)) => when($"source" === src, lit(r)).otherwise(acc)
    }
    docs
      .select($"doc_id", $"source", mixBucketCol.as("mix_bucket"),
        rateCol.as("rate"))
      .withColumn("sampled", $"mix_bucket" < $"rate" * 100)
      .orderBy($"doc_id")
  }

  val mixtureSampleSql: String = mixtureSampleSqlFrom("documents")

  def mixtureSampleSqlFrom(src: String): String = {
    val cases = MixtureRates.map { case (s, r) =>
      s"WHEN '$s' THEN CAST($r AS DOUBLE)"
    }.mkString("\n|    ")
    s"""SELECT doc_id, source, $mixBucketSql AS mix_bucket,
       |  CASE source
       |    $cases
       |    ELSE CAST($MixtureDefaultRate AS DOUBLE) END AS rate,
       |  $mixBucketSql <
       |    (CASE source
       |    $cases
       |    ELSE CAST($MixtureDefaultRate AS DOUBLE) END) * 100 AS sampled
       |FROM $src ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q77 — per-source capping: keep at most SourceCapN documents per
  // source (the domain-cap step that stops one giant crawl domain
  // from dominating the mixture — the complement of q75's rate
  // sampling, which thins proportionally but cannot bound an outsized
  // source). The kept subset is chosen by SALTED-hash rank, so it is
  // deterministic across engines and reruns and uncorrelated with the
  // q58 split / q75 mixture buckets.
  //
  // 100 TB shape: rank-then-filter compiles to Spark's
  // WindowGroupLimit (pinned in PlanSpec) — each map task keeps only
  // its N smallest (hash, doc_id) rows PER SOURCE before the
  // exchange, and the reduce side keeps N again — so a
  // billion-document domain ships ~tasks × N thin rows through the
  // shuffle, never the domain. The frame is doc_id-thin (id, source,
  // hash); text never enters the window.
  // ---------------------------------------------------------------

  /** Per-source document cap. 15 bites on the fixture corpus (25
    * docs/source at sf0.01, 250 at sf0.1). */
  val SourceCapN = 15

  private def capHashCol: Column =
    expr("md5(CAST(concat('cap:', CAST(doc_id AS STRING)) AS BINARY))")
  private val capHashSql = "md5('cap:' || CAST(doc_id AS VARCHAR))"

  def sourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCapFrom(Tables.documents(spark, dir), SourceCapN)

  /** The capped manifest: (doc_id, source, cap_rank) for the kept
    * docs only, ordered by doc_id. Hash ties are impossible (the hash
    * is injective-salted over distinct doc_ids) but doc_id breaks
    * them anyway so the order is total by construction. */
  def sourceCapFrom(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy($"source")
      .orderBy($"cap_hash", $"doc_id")
    docs.select($"doc_id", $"source", capHashCol.as("cap_hash"))
      .withColumn("cap_rank", row_number().over(w))
      .filter($"cap_rank" <= n)
      .select($"doc_id", $"source", $"cap_rank")
      .orderBy($"doc_id")
  }

  val sourceCapSql: String =
    s"""SELECT doc_id, source, cap_rank FROM (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY $capHashSql, doc_id) AS cap_rank
       |  FROM documents)
       |WHERE cap_rank <= $SourceCapN ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q76 — the composed training-corpus pipeline: the flagship that
  // turns the raw documents table into a training-ready manifest by
  // chaining the whole family — repetition gate (q73) ∧ perplexity
  // gate (q74) ∧ near-dup keeper (q47→q62→q70) ∧ not-contaminated
  // (q59) ∧ mixture-sampled (q75), then split-assigned (q58) and
  // chunk-counted (q72). One callable = the "corpus build" run a
  // training team schedules nightly; its oracle recomposes the same
  // chain from the per-operator oracle SQLs, so the composition is
  // hash-gated end to end, not just its pieces.
  //
  // 100 TB shape: every stage is the already-audited operator; the
  // composition adds only doc_id-keyed 1:1 joins (co-partitioned
  // after the first shuffle) and inherits each stage's scale story.
  // Benchmark docs (the q59 eval set) are excluded outright — they
  // are eval data, never training data.
  // ---------------------------------------------------------------

  /** Exclusion threshold on q59's contamination ratio. */
  val DecontamMaxRate = 0.5

  def trainingCorpus(spark: SparkSession, dir: String): DataFrame =
    trainingCorpusFrom(spark, Tables.documents(spark, dir))

  def trainingCorpusFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    // Each stage's verdict is a doc_id-thin frame, eagerly
    // checkpointed so the final join tree plans over seven LogicalRDD
    // leaves instead of one enormous composed lineage (measured:
    // Catalyst on the fused tree cost more than executing the stages
    // themselves). The seven stages are INDEPENDENT — same input,
    // disjoint verdicts — so they materialize CONCURRENTLY: each
    // stage's shuffles are sized at spark.sql.shuffle.partitions
    // (a fraction of the cluster), and serial submission would leave
    // the rest idle. Concurrent actions on one SparkSession are the
    // standard fair-scheduler pattern; results are deterministic
    // because the stages share nothing but the immutable input.
    val keepersF = thin {
      // r17: label-only CC — the keep never reads cluster_size, so
      // dedupClustersFrom's size window count + sort are dead work on
      // this stage's critical path (the q137/q103 shape).
      val clusters = Dedup.clusterLabels(
        Dedup.lshNearDupPairsFrom(
          Dedup.shingleFpsFrom(docs).localCheckpoint(false))
          .select($"doc_a", $"doc_b"))
        .select($"doc_id", $"lbl".as("cluster_id"))
      Dedup.dedupKeepCorpusFrom(docs, clusters).select($"doc_id")
    }
    val repKeepF = thin(repetitionStatsFrom(docs)
      .filter($"keep").select($"doc_id"))
    // the lp gate keeps the SINGLE-JOB tf-based shape here: inside
    // this concurrent composition, unigramScoredFrom's sequential
    // model-stats barrier would put two corpus passes on one stage's
    // critical path, while the fused job's duplicated subtrees run as
    // parallel stages the composition's idle slots absorb (measured:
    // the r15 standalone reshape cost q76 ~1 s). Output is identical
    // either way — both shapes are hash-pinned against q74's SQL.
    val lpKeepF = thin {
      val tf = tfFrom(docs)
      scoreTf(tf, vocabFromTf(tf)).filter($"keep").select($"doc_id")
    }
    val contaminatedF = thin(decontaminateFrom(docs)
      .filter($"contamination" >= DecontamMaxRate).select($"doc_id"))
    val sampledF = thin(mixtureSampleFrom(docs, MixtureRates,
      MixtureDefaultRate).filter($"sampled").select($"doc_id", $"source"))
    val splitsF = thin(splitAssignFrom(docs).select($"doc_id", $"split"))
    val chunkStatsF = thin(chunkDocsFrom(docs).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"n_tokens").as("n_tokens")))
    awaitAll(keepersF, repKeepF, lpKeepF, contaminatedF, sampledF, splitsF,
      chunkStatsF)
    docs.select($"doc_id").filter($"doc_id" >= BenchmarkMaxDocId)
      .join(get(keepersF), Seq("doc_id"))
      .join(get(repKeepF), Seq("doc_id"))
      .join(get(lpKeepF), Seq("doc_id"))
      .join(get(contaminatedF), Seq("doc_id"), "left_anti")
      .join(get(sampledF), Seq("doc_id"))
      .join(get(splitsF), Seq("doc_id"))
      .join(get(chunkStatsF), Seq("doc_id"))
      .select($"doc_id", $"source", $"split", $"n_chunks", $"n_tokens")
      .orderBy($"doc_id")
  }

  /** A concurrent stage: `df` eagerly checkpointed on its own
    * thread. */
  private def thin(df: => DataFrame): Future[DataFrame] =
    Future(df.localCheckpoint(true))

  private def get[A](f: Future[A]): A = Await.result(f, Duration.Inf)

  /** Waits for EVERY future, then rethrows the first failure (in
    * argument order): a failed stage never returns the call while its
    * siblings still run jobs. */
  private[graft] def awaitAll(fs: Future[Any]*): Unit = {
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.foreach(get(_))
  }

  lazy val trainingCorpusSql: String = trainingCorpusSqlFrom("documents")

  /** The full q76 chain over an arbitrary documents-shaped source
    * subquery — q101's full-recompute oracle runs it over the current
    * snapshot. */
  def trainingCorpusSqlFrom(src: String): String =
    s"""WITH base AS (
       |  SELECT doc_id, source FROM $src
       |  WHERE doc_id >= $BenchmarkMaxDocId),
       |keep_dedup AS (SELECT doc_id FROM (${Dedup.dedupKeepCorpusSqlFrom(src)}) k),
       |keep_rep AS (SELECT doc_id FROM (${repetitionStatsSqlFrom(src)}) r WHERE keep),
       |keep_lp AS (SELECT doc_id FROM (${unigramLogProbSqlFrom(src)}) l WHERE keep),
       |contam AS (SELECT doc_id FROM (${decontaminateSqlFrom(src)}) c
       |           WHERE contamination >= $DecontamMaxRate),
       |samp AS (SELECT doc_id FROM (${mixtureSampleSqlFrom(src)}) s WHERE sampled),
       |spl AS (SELECT doc_id, split FROM (${splitAssignSqlFrom(src)}) p),
       |ch AS (SELECT doc_id, COUNT(*) AS n_chunks,
       |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |       FROM (${chunkDocsSqlFrom(src)}) g GROUP BY 1)
       |SELECT b.doc_id, b.source, spl.split, ch.n_chunks, ch.n_tokens
       |FROM base b
       |JOIN keep_dedup USING (doc_id)
       |JOIN keep_rep USING (doc_id)
       |JOIN keep_lp USING (doc_id)
       |JOIN samp USING (doc_id)
       |JOIN spl USING (doc_id)
       |JOIN ch USING (doc_id)
       |WHERE b.doc_id NOT IN (SELECT doc_id FROM contam)
       |ORDER BY b.doc_id""".stripMargin

  val repetitionStatsSql: String = repetitionStatsSqlFrom("documents")

  /** q73's oracle over an arbitrary documents-shaped source subquery —
    * q88's full-recompute oracle runs it over the current snapshot. */
  def repetitionStatsSqlFrom(src: String): String =
    s"""WITH lines AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
       |    l -> trim(l) <> '')) AS line
       |  FROM $src),
       |la AS (
       |  SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS chars
       |  FROM lines GROUP BY 1, 2),
       |ld AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
       |    ROUND(SUM(cnt - 1) * 1.0 / SUM(cnt), 6) AS dup_line_frac,
       |    ROUND(SUM((cnt - 1) * chars) * 1.0 / SUM(cnt * chars), 6)
       |      AS dup_line_char_frac
       |  FROM la GROUP BY 1),
       |bg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
       |    ELSE list_transform(generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1]) END) AS bigram
       |  FROM (SELECT doc_id, ${TextOps.tokensSql} AS toks FROM $src)),
       |ba AS (
       |  SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
       |bd AS (
       |  SELECT doc_id, ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6)
       |    AS top_bigram_frac
       |  FROM ba GROUP BY 1)
       |SELECT ld.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
       |  COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
       |  dup_line_frac <= $MaxDupLineFrac
       |    AND COALESCE(top_bigram_frac, 0.0) <= $MaxTopBigramFrac AS keep
       |FROM ld LEFT JOIN bd ON ld.doc_id = bd.doc_id
       |ORDER BY ld.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q80 — BPE pair statistics: the corpus-wide adjacent-character-
  // pair frequencies that drive one merge step of byte-pair-encoding
  // tokenizer training (Sennrich et al. 2016). The top pair is the
  // next merge; running this to a vocabulary budget IS tokenizer
  // training, and each iteration is this exact aggregate.
  //
  // 100 TB shape — the cost collapses from corpus to vocabulary in
  // stage one and never comes back:
  //   1. word counts: one partial-aggregated groupBy over the token
  //      stream — Zipf skew ("the" × 10¹¹) collapses map-side, the
  //      shuffle carries distinct words per task;
  //   2. pair explode runs over the DISTINCT-WORD table (vocab-sized,
  //      millions — not the corpus, trillions), each pair weighted by
  //      the word's count;
  //   3. pair totals: a groupBy over ≤ charset² keys;
  //   4. top-k via orderBy+limit = TakeOrderedAndProject — per-task
  //      heaps, no global sort materialization (pinned in PlanSpec).
  // ---------------------------------------------------------------

  val BpeTopPairs = 50

  def bpePairStats(spark: SparkSession, dir: String): DataFrame =
    bpePairStatsFrom(Tables.documents(spark, dir))

  /** (rank, pair, pair_count): the BpeTopPairs most frequent adjacent
    * character pairs, count ties broken lexicographically. */
  def bpePairStatsFrom(docs: DataFrame): DataFrame = {
    val words = docs
      .select(explode(TextOps.tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    val pairTotals = words
      .filter(length($"token") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"), $"cnt")
      .groupBy($"pair").agg(sum($"cnt").as("pair_count"))
    // rank AFTER the limit: the unpartitioned window sees only the
    // BpeTopPairs surviving rows, never the full pair table
    pairTotals.orderBy($"pair_count".desc, $"pair".asc).limit(BpeTopPairs)
      .withColumn("rank", row_number()
        .over(Window.orderBy($"pair_count".desc, $"pair".asc))
        .cast(LongType))
      .select($"rank", $"pair", $"pair_count")
      .orderBy($"rank")
  }

  val bpePairStatsSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(${TextOps.tokensSql}) AS token FROM documents),
       |words AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
       |pairs AS (
       |  SELECT unnest(list_transform(generate_series(1, length(token) - 1),
       |    i -> substring(token, i, 2))) AS pair, cnt
       |  FROM words WHERE length(token) >= 2),
       |agg AS (
       |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
       |  FROM pairs GROUP BY pair)
       |SELECT ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rank,
       |  pair, pair_count
       |FROM agg ORDER BY pair_count DESC, pair LIMIT $BpeTopPairs""".stripMargin

  // ---------------------------------------------------------------
  // q126 — ITERATED BPE training (Sennrich et al. 2016): q80 run to a
  // merge budget. Each round counts adjacent symbol pairs over the
  // word table, merges the most frequent pair (count DESC, pair ASC
  // on ties) greedily left-to-right within every word, and repeats on
  // the merged symbols. Output = the learned merge table
  // (round, pair, pair_count) — the tokenizer artifact.
  //
  // 100 TB shape — q80's collapse, then the loop never touches the
  // corpus again:
  //   1. ONE corpus-scale pass builds the distinct-word table
  //      (vocab-sized; Zipf skew collapses map-side);
  //   2. the PAIR-COUNT table is maintained by signed deltas (the
  //      q94 turnstile discipline, VERDICT r13 item 5): only the
  //      words CONTAINING the just-merged pair change their pair
  //      multiset, so each round explodes pairs from the affected
  //      slice only — old repr negative, merged repr positive — and
  //      folds the tiny delta into the checkpointed pair table. The
  //      corpus-shaped explode happens ONCE (the round-0 recount);
  //      from then on per-round shuffle volume is proportional to
  //      the merged pair's support, not the vocabulary, which is
  //      what lets a 30k-merge production train finish: late rounds
  //      merge rare pairs and cost almost nothing;
  //   3. each round is then a 1-row TakeOrderedAndProject collect
  //      off the materialized pair leaf (fixed-size — the
  //      clusterLabels checksum discipline, not a driver loop over
  //      data) and a row-local literal replace on the word table;
  //   4. one eager checkpoint materializes the word table; each
  //      round stacks ONE row-local replace on that leaf (a bounded
  //      projection chain — no self-reference, so the CC loop's
  //      per-round truncation is unnecessary); a long merge budget
  //      compacts the chain every BpeWordsCompactEvery rounds so the
  //      per-round re-derivation stays O(vocab), never O(rounds ×
  //      vocab). The pair table IS self-referencing (pc_r reads
  //      pc_{r-1}), so it checkpoints eagerly every round — it is
  //      about to be collected from anyway, and the leaf is
  //      pair-vocabulary-sized, independent of corpus size.
  //
  // Greedy-merge encoding shared with the DuckDB oracle: a word's
  // symbols are joined by a DOUBLE space and padded with one space at
  // each end, so the literal search " x  y " consumes exactly one
  // space from each neighboring delimiter. Abutting occurrences
  // (overlap under x == y, e.g. [a,a,a,a]) then match back-to-back
  // under any left-to-right non-overlapping replace — byte-identical
  // greedy semantics in both engines, no regex, no UDF.
  // ---------------------------------------------------------------

  val BpeMergeRounds = 10

  /** Word-chain compaction period: every this-many rounds the
    * replace chain over the word table is re-checkpointed so round
    * r's plan applies at most this many row-local replaces over a
    * materialized leaf. A no-op at BpeMergeRounds = 10; the knob that
    * keeps a 30k-merge budget's cumulative word-table work linear in
    * rounds instead of quadratic. */
  val BpeWordsCompactEvery = 32

  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainFrom(spark, Tables.documents(spark, dir))

  /** The checkpointed distinct-word table (repr, cnt) — the one
    * corpus-scale pass; every training round after this reads words,
    * never documents. */
  private[graft] def bpeInitialWords(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextOps.tokens($"text")).as("token"))
      .filter(length($"token") >= 1)
      .select(array_join(expr(
        "transform(sequence(1, length(token)), i -> substring(token, i, 1))"),
        "  ").as("repr"))
      .groupBy($"repr").agg(count(lit(1)).as("cnt"))

  /** Full pair recount over a word table: (pair, pair_count). Runs
    * once at round 0; afterwards the table is maintained by
    * [[bpePairDeltas]] — the per-round equivalence is spec-pinned. */
  private[graft] def bpePairRecount(words: DataFrame): DataFrame =
    words
      .select(split($"repr", "  ").as("l"), $"cnt")
      .filter(size($"l") >= 2)
      .select(explode(expr("transform(sequence(1, size(l) - 1), " +
        "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
        .as("pair"), $"cnt")
      .groupBy($"pair").agg(sum($"cnt").as("pair_count"))

  /** The padded-double-space (search, replacement) literals for a
    * merge — symbols never contain whitespace (tokens are \s+
    * splits), so the pair's single space is its only space. */
  private def bpeLiterals(pair: String): (String, String) =
    (" " + pair.replace(" ", "  ") + " ", " " + pair.replace(" ", "") + " ")

  /** One merge round's word-table update: the greedy left-to-right
    * literal replace, row-local on every word. No re-group: duplicate
    * reprs (distinct words converging on one symbol sequence) keep
    * separate cnt rows, exactly like the oracle's w{r} CTE — pair
    * totals are sums either way, and skipping the regroup keeps the
    * round shuffle-free. */
  private[graft] def bpeApplyMerge(words: DataFrame, pair: String): DataFrame = {
    val (search, merged) = bpeLiterals(pair)
    words.select(trim(replace(
      concat(lit(" "), $"repr", lit(" ")),
      lit(search), lit(merged))).as("repr"), $"cnt")
  }

  /** Signed pair-count deltas for merging `pair` (the q94 turnstile
    * shape): only words whose padded repr CONTAINS the search literal
    * change their pair multiset, so the explode runs over that slice
    * alone — each affected word emits its old pairs at -cnt and its
    * merged pairs at +cnt, folded to (pair, d) with zero-deltas
    * dropped. Output size is proportional to the merged pair's
    * support, not the vocabulary. */
  private[graft] def bpePairDeltas(words: DataFrame, pair: String): DataFrame =
    bpePairDeltaRows(words, pair)
      .groupBy($"pair").agg(sum($"d").as("d"))
      .filter($"d" =!= 0L)

  /** The ungrouped (pair, ±cnt) delta rows — what [[bpeTrainFrom]]
    * folds directly, so the per-round plan pays ONE exchange (the
    * fold's groupBy subsumes the delta aggregation; summing raw rows
    * and summing pre-aggregated deltas are the same totals). */
  private[graft] def bpePairDeltaRows(words: DataFrame,
                                      pair: String): DataFrame = {
    val (search, merged) = bpeLiterals(pair)
    // zip_with over (l, tail(l)) instead of transform(sequence(...)):
    // slice yields an empty array for single-symbol words, so no
    // size-guard filter is needed on either side
    def pairRows(col: String, sign: String) =
      s"zip_with(slice($col, 1, size($col) - 1), slice($col, 2, size($col) - 1), " +
        s"(a, b) -> named_struct('pair', concat(a, ' ', b), 'd', CAST($sign AS BIGINT)))"
    words
      .filter(concat(lit(" "), $"repr", lit(" ")).contains(search))
      .select(split($"repr", "  ").as("lo"),
        split(trim(replace(concat(lit(" "), $"repr", lit(" ")),
          lit(search), lit(merged))), "  ").as("ln"),
        $"cnt")
      .select(explode(expr(
        s"concat(${pairRows("lo", "-cnt")}, ${pairRows("ln", "cnt")})")).as("pd"))
      .select($"pd.pair".as("pair"), $"pd.d".as("d"))
  }

  /** Fold a delta table into the maintained pair counts; pairs driven
    * to zero leave the table (a recount would not list them), new
    * adjacencies enter it. Counts can never go negative — a delta
    * subtracts at most the occurrences the recount put there. */
  private[graft] def bpeFoldDeltas(pairCounts: DataFrame,
                                   deltas: DataFrame): DataFrame =
    pairCounts.select($"pair", $"pair_count".as("d"))
      .unionByName(deltas)
      .groupBy($"pair").agg(sum($"d").as("pair_count"))
      .filter($"pair_count" > 0L)

  /** Adaptive arm threshold (VERDICT r14 item 1): maintain the pair
    * table by signed deltas only when the distinct-word table is at
    * least this large; below it, the per-round full recount is
    * cheaper — the delta arm's bookkeeping (contains-filter + dual
    * explode + fold union) is a fixed plan cost that a small word
    * table cannot amortize. Calibrated on this box via
    * the `bpevocab` receipt (5-round delta/recount ratio):
    * 41 words ≈ 3×, 50k → 1.26×, 200k → 0.84×, 500k → 0.60×,
    * 2M → 0.46× — the crossover sits between 50k and 200k. Both arms
    * produce IDENTICAL merges (delta == recount is spec-pinned per
    * round), so the choice can never change output. */
  val BpeDeltaMinVocab = 100000L

  /** (round, pair, pair_count) for `rounds` merge rounds (fewer if
    * the corpus exhausts its pairs), ordered by round. The named q126
    * query trains the default BpeMergeRounds; `rounds` exists so a
    * long-budget train (and the spec pinning the BpeWordsCompactEvery
    * compaction path it crosses) runs through the same loop;
    * `deltaMinVocab` so specs can force either arm through the loop
    * (0 = always delta, Long.MaxValue = always recount). */
  def bpeTrainFrom(spark: SparkSession, docs: DataFrame,
                   rounds: Int = BpeMergeRounds,
                   deltaMinVocab: Long = BpeDeltaMinVocab): DataFrame = {
    // only the Seq→DF lift — the full implicits would shadow
    // graft.syntax's $ interpolator
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    var words = bpeInitialWords(docs).localCheckpoint(true)
    // arm choice, decided ONCE: the word-table row count never changes
    // across rounds (merges are row-local replaces, no regroup), so
    // one cheap count on the just-materialized leaf settles which arm
    // every round uses. Below the calibrated crossover the recount is
    // the cheaper round; above it the delta fold's support-
    // proportional cost wins and keeps growing its lead as late
    // rounds merge rare pairs (the 30k-merge production shape).
    val useDeltas = words.count() >= deltaMinVocab
    // round 0: the ONLY full recount — every later round folds
    // support-sized deltas into this table. LAZY localCheckpoint, not
    // cache(): each round's 1-row top-1 collect is the FIRST action
    // on the folded table, so it materializes the checkpoint as a
    // side effect and the round stays ONE job (fold + TakeOrdered
    // fused; an eager checkpoint would split it into two), while the
    // plan is a LogicalRDD LEAF from the start — a cache() chain
    // nests each round's plan inside the next and the SQL listener's
    // plan-string rendering grows superlinearly with rounds (observed
    // OOM near round 30 on an 8 GB heap). Consumption is strictly
    // sequential, so the r13 racing-clone hazard (concurrent
    // consumers each recomputing a lazy subtree) does not apply;
    // blocks free with the plan (ContextCleaner), no unpersist
    // bookkeeping.
    var pairCounts = bpePairRecount(words).localCheckpoint(false)
    val merges = Seq.newBuilder[(Long, String, Long)]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      // the ONE per-round job: fold(pc, deltas) + TakeOrdered, which
      // also materializes pairCounts for the next round's fold
      val top = pairCounts
        .orderBy($"pair_count".desc, $"pair".asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        round += 1
        val pair = top(0).getString(0)
        merges += ((round.toLong, pair, top(0).getLong(1)))
        if (useDeltas) {
          // fold the affected-slice deltas BEFORE updating words: the
          // deltas read the pre-merge reprs; RAW delta rows, so the
          // fold's groupBy is the round's only exchange
          pairCounts = bpeFoldDeltas(pairCounts, bpePairDeltaRows(words, pair))
            .localCheckpoint(false)
          words = bpeApplyMerge(words, pair)
        } else {
          // recount arm: update words first, recount the (small) word
          // table wholesale — spec-pinned equal to the fold above
          words = bpeApplyMerge(words, pair)
          pairCounts = bpePairRecount(words).localCheckpoint(false)
        }
        // the words chain has no self-reference, but its depth-r
        // projection still costs O(r) analysis per round — compact it
        // periodically so a long merge budget stays linear in rounds
        if (round % BpeWordsCompactEvery == 0)
          words = words.localCheckpoint(true)
      }
    }
    merges.result().toDF("round", "pair", "pair_count")
      .orderBy($"round")
  }

  /** The unrolled merge-round CTE chain shared by the q126 oracle and
    * the q129 encode oracle (the pqCtesFrom discipline applied to
    * q80) — identical padded-double-space greedy replace, identical
    * tie-break. */
  private lazy val bpeTrainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""toks AS (
         |  SELECT unnest(${TextOps.tokensSql}) AS token FROM documents),
         |w0 AS (
         |  SELECT array_to_string(list_transform(
         |      generate_series(1, length(token)),
         |      i -> substring(token, i, 1)), '  ') AS repr,
         |    COUNT(*) AS cnt
         |  FROM toks WHERE length(token) >= 1 GROUP BY 1)""".stripMargin)
    (1 to BpeMergeRounds).foreach { r =>
      sb.append(
        s""",
           |p$r AS (
           |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(l) - 1),
           |      i -> l[i] || ' ' || l[i + 1])) AS pair, cnt
           |    FROM (SELECT string_split(repr, '  ') AS l, cnt
           |          FROM w${r - 1}) z
           |    WHERE len(l) >= 2) u
           |  GROUP BY pair),
           |t$r AS (SELECT pair, pair_count FROM p$r
           |        ORDER BY pair_count DESC, pair LIMIT 1),
           |w$r AS (
           |  SELECT CASE WHEN t.pair IS NULL THEN w.repr ELSE
           |      trim(replace(' ' || w.repr || ' ',
           |        ' ' || replace(t.pair, ' ', '  ') || ' ',
           |        ' ' || replace(t.pair, ' ', '') || ' ')) END AS repr,
           |    w.cnt
           |  FROM w${r - 1} w LEFT JOIN t$r t ON 1 = 1)""".stripMargin)
    }
    sb.toString
  }

  /** q126 oracle: the merge rounds unrolled, one row per round. */
  lazy val bpeTrainSql: String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(bpeTrainCtes)
    sb.append("\nSELECT * FROM (\n")
    sb.append((1 to BpeMergeRounds).map(r =>
      s"  SELECT CAST($r AS BIGINT) AS round, pair, pair_count FROM t$r")
      .mkString("\n  UNION ALL\n"))
    sb.append(") ORDER BY round")
    sb.toString
  }

  // ---------------------------------------------------------------
  // q129 — BPE ENCODE: apply the q126 trained merge table to the
  // corpus (the tokenizer's read path — train once, encode every
  // document). The merge list is the PUBLISHED artifact (one entry per
  // corpus fingerprint — the codebook rule applied to the tokenizer);
  // encoding is one corpus pass applying the merges in rank order as
  // a chain of BpeMergeRounds literal replaces on the same
  // padded-double-space representation training used — row-local,
  // codegen'd, no UDF, no shuffle before the per-doc aggregate.
  // Output: per-doc whitespace-token and BPE-subword counts, the
  // compression stat a tokenizer report shows.
  //
  // 100 TB shape: the train cost amortizes to zero across encodes
  // (one machinery run per snapshot, the q104/q107 publish-once
  // posture); the encode is a single partial-aggregated scan.
  // ---------------------------------------------------------------

  /** The published merge list for `dir` (rank order), trained once
    * per corpus fingerprint + session. */
  private[graft] def bpeMergesFor(spark: SparkSession,
                                  dir: String): Seq[String] =
    Published(spark, "corpus.bpeMerges", dir,
        Published.inventory(dir, "documents"))(
      bpeTrain(spark, dir).collect().map(_.getString(1)).toSeq)

  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeFrom(Tables.documents(spark, dir), bpeMergesFor(spark, dir))

  /** (doc_id, n_tokens, n_subwords): whitespace tokens vs BPE
    * subwords after applying `merges` in rank order. */
  def bpeEncodeFrom(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val repr0 = concat(lit(" "), array_join(expr(
      "transform(sequence(1, length(token)), i -> substring(token, i, 1))"),
      "  "), lit(" "))
    // each replace preserves the single padding space at both ends,
    // so the chain applies directly on the padded form
    val reprN = merges.foldLeft(repr0) { (c, pair) =>
      replace(c, lit(" " + pair.replace(" ", "  ") + " "),
        lit(" " + pair.replace(" ", "") + " "))
    }
    docs.select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
      .filter(length($"token") >= 1)
      .select($"doc_id", size(split(trim(reprN), "  ")).as("n_sub"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"n_sub").cast(LongType).as("n_subwords"))
      .orderBy($"doc_id")
  }

  /** q129 oracle: the q126 CTE chain re-derives the merge list, then
    * the encode applies the same BpeMergeRounds nested replaces —
    * scalar subqueries against t1..tN, COALESCEd to a can't-match
    * sentinel so an exhausted round is a no-op in both engines. */
  lazy val bpeEncodeSql: String = {
    val repr0 = "' ' || array_to_string(list_transform(" +
      "generate_series(1, length(token)), i -> substring(token, i, 1))," +
      " '  ') || ' '"
    val reprN = (1 to BpeMergeRounds).foldLeft(repr0) { (c, r) =>
      s"""replace($c,
         |  coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' '
         |            FROM t$r), chr(1)),
         |  coalesce((SELECT ' ' || replace(pair, ' ', '') || ' '
         |            FROM t$r), ''))""".stripMargin
    }
    s"""WITH $bpeTrainCtes,
       |dtok AS (
       |  SELECT doc_id, unnest(${TextOps.tokensSql}) AS token
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, $reprN AS repr
       |  FROM dtok WHERE length(token) >= 1)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(len(string_split(trim(repr), '  '))) AS BIGINT)
       |    AS n_subwords
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q81 — per-source document-length quantiles via a mergeable
  // sketch, gated by the exact answer (the q14 discipline applied to
  // percentiles). Length distributions are the first thing a corpus
  // report shows and the input to truncation/packing decisions; at
  // 100 TB the exact per-group percentile needs every group's values
  // collected and sorted, while the KLL-style sketch behind
  // percentile_approx is partial-aggregable with bounded memory — the
  // named query computes BOTH and hash-gates the exact values plus a
  // boolean attesting the sketch landed within tolerance; production
  // calls [[lengthQuantilesSketch]] and drops the exact pass.
  // ---------------------------------------------------------------

  /** Sketch rank-accuracy knob (1/accuracy relative rank error) and
    * the RANK band the verdict attests: the estimate must lie between
    * the exact quantiles at p ± QuantileTolerance. Rank — not value —
    * is what a quantile sketch actually guarantees: on a small jumpy
    * group the discrete order statistic next to an interpolated
    * quantile can sit far away in value space while being exactly
    * right in rank space (observed: p90 of a 25-doc source interp-
    * lands at 81.0 between neighbors 72 and 87). */
  val QuantileAccuracy = 10000
  val QuantileTolerance = 0.05

  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    lengthQuantilesFrom(Tables.documents(spark, dir))

  /** (source, n_docs, p50_exact, p90_exact, p50_within_tol,
    * p90_within_tol): exact interpolated percentiles (hash-gated) and
    * the sketch-vs-exact rank-band verdicts. */
  def lengthQuantilesFrom(docs: DataFrame): DataFrame =
    lengthQuantilesRawFrom(docs)
      .select($"source", $"n_docs",
        round($"p50_exact", 6).as("p50_exact"),
        round($"p90_exact", 6).as("p90_exact"),
        ($"p50_approx" >= $"p50_lo" && $"p50_approx" <= $"p50_hi")
          .as("p50_within_tol"),
        ($"p90_approx" >= $"p90_lo" && $"p90_approx" <= $"p90_hi")
          .as("p90_within_tol"))

  /** Dev/audit form WITH the engine-specific sketch estimates and the
    * exact rank-band edges the verdict compares against. */
  def lengthQuantilesRawFrom(docs: DataFrame): DataFrame =
    docs
      .select($"source",
        size(TextOps.tokens($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        percentile($"n_tokens", lit(0.5)).as("p50_exact"),
        percentile($"n_tokens", lit(0.9)).as("p90_exact"),
        percentile($"n_tokens", lit(0.5 - QuantileTolerance)).as("p50_lo"),
        percentile($"n_tokens", lit(0.5 + QuantileTolerance)).as("p50_hi"),
        percentile($"n_tokens", lit(0.9 - QuantileTolerance)).as("p90_lo"),
        percentile($"n_tokens", lit(0.9 + QuantileTolerance)).as("p90_hi"),
        percentile_approx($"n_tokens", lit(0.5), lit(QuantileAccuracy))
          .cast(DoubleType).as("p50_approx"),
        percentile_approx($"n_tokens", lit(0.9), lit(QuantileAccuracy))
          .cast(DoubleType).as("p90_approx"))
      .orderBy($"source")

  /** The production path: sketch only — one partial-aggregable pass,
    * no exact sort anywhere. */
  def lengthQuantilesSketch(docs: DataFrame): DataFrame =
    docs
      .select($"source",
        size(TextOps.tokens($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx($"n_tokens", lit(0.5), lit(QuantileAccuracy))
          .as("p50"),
        percentile_approx($"n_tokens", lit(0.9), lit(QuantileAccuracy))
          .as("p90"))
      .orderBy($"source")

  val lengthQuantilesSql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  ROUND(quantile_cont(len(${TextOps.tokensSql}), 0.5), 6) AS p50_exact,
       |  ROUND(quantile_cont(len(${TextOps.tokensSql}), 0.9), 6) AS p90_exact,
       |  TRUE AS p50_within_tol,
       |  TRUE AS p90_within_tol
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q83 — CCNet-style perplexity bucketing: split each language's
  // documents into head / middle / tail thirds by LM score (CCNet
  // buckets by KenLM perplexity; the q74 unigram log-probability is
  // the same signal with the LM swapped, see q74's header). Training
  // recipes sample the thirds at different rates — head-heavy for
  // quality, tail kept for diversity — so the bucket label is a
  // first-class corpus column, and bucketing PER LANGUAGE matters
  // because raw LM scores are not comparable across languages.
  //
  // 100 TB shape: the corpus-scale work is q74 itself; the boundary
  // step reduces to one row per (lang, boundary) — computed here with
  // the EXACT interpolated quantile for oracle parity, swapped for
  // percentile_approx's mergeable KLL sketch in production (the q81
  // discipline; [[perplexityBucketsSketch]] is that path) — then
  // broadcast back for a row-local CASE. No per-lang window, no
  // single-partition sort anywhere.
  // ---------------------------------------------------------------

  /** Tertile points as exact double literals; the SQL twins inline the
    * same digits so both engines interpolate at the identical rank.
    *
    * Tie-at-boundary caveat (ADVICE r8): both engines compute the
    * interpolated tertile independently and ROUND(…,6); a last-ulp
    * interpolation difference that straddles a rounding boundary — or
    * a doc score landing EXACTLY on a rounded boundary — could flip
    * that doc's bucket between engines. Scores are themselves rounded
    * to 6dp (q74), so a boundary tie means `avg_logprob == b_lo/b_hi`
    * exactly, which both engines classify identically (>=); the
    * residual risk is only the last-ulp interpolation case, accepted
    * for the oracle gate and absent from the production path
    * ([[perplexityBucketsSketch]], whose boundaries are sketch-derived
    * and not cross-engine-compared). */
  val PplTertileLo = 1.0 / 3
  val PplTertileHi = 2.0 / 3

  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityBucketsFrom(Tables.documents(spark, dir))

  def perplexityBucketsFrom(docs: DataFrame): DataFrame =
    pplBucketize(docs, scored => scored.groupBy($"lang").agg(
      round(percentile($"avg_logprob", lit(PplTertileLo)), 6).as("b_lo"),
      round(percentile($"avg_logprob", lit(PplTertileHi)), 6).as("b_hi")))

  /** Production path: tertile boundaries from the mergeable
    * percentile_approx sketch instead of the exact sort — the bounds
    * aggregate is the only thing that changes at scale. */
  def perplexityBucketsSketch(docs: DataFrame): DataFrame =
    pplBucketize(docs, scored => scored.groupBy($"lang").agg(
      percentile_approx($"avg_logprob", lit(PplTertileLo),
        lit(QuantileAccuracy)).as("b_lo"),
      percentile_approx($"avg_logprob", lit(PplTertileHi),
        lit(QuantileAccuracy)).as("b_hi")))

  /** Shared q83 shape: score, aggregate per-lang (b_lo, b_hi) bounds
    * via `boundsOf`, broadcast them back, bucket row-locally. Reshaped
    * (VERDICT r14 item 2): lang rides the token stream as a carried
    * groupBy column, so the old doc-keyed join back to `documents` is
    * gone; the scored frame is a lazily-checkpointed leaf whose first
    * (sequential) action is the lang-sized bounds COLLECT — the old
    * plan re-derived the entire q74 subtree under the bounds
    * broadcast, paying the corpus twice. The collected bounds come
    * back as a broadcast LocalRelation: zero extra jobs, and the
    * boundary values are the exact same Spark-computed aggregates as
    * before (collected, not re-derived). */
  private def pplBucketize(docs: DataFrame,
                           boundsOf: DataFrame => DataFrame): DataFrame = {
    import docs.sparkSession.implicits.{localSeqToDatasetHolder,
      newProductEncoder}
    val scored = unigramScoredFrom(docs, Seq("lang"))
      .select($"doc_id", $"lang", $"avg_logprob")
      .localCheckpoint(false)
    val bounds = boundsOf(scored).collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toDF("lang", "b_lo", "b_hi")
    scored.join(broadcast(bounds), Seq("lang"))
      .select($"doc_id", $"lang", $"avg_logprob",
        when($"avg_logprob" >= $"b_hi", lit("head"))
          .when($"avg_logprob" >= $"b_lo", lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
      .orderBy($"doc_id")
  }

  val perplexityBucketsSql: String =
    s"""WITH scored AS (
       |  SELECT l.doc_id, d.lang, l.avg_logprob
       |  FROM ($unigramLogProbSql) l JOIN documents d USING (doc_id)),
       |bounds AS (
       |  SELECT lang,
       |    ROUND(quantile_cont(avg_logprob, ${PplTertileLo}), 6) AS b_lo,
       |    ROUND(quantile_cont(avg_logprob, ${PplTertileHi}), 6) AS b_hi
       |  FROM scored GROUP BY lang)
       |SELECT doc_id, lang, avg_logprob,
       |  CASE WHEN avg_logprob >= b_hi THEN 'head'
       |       WHEN avg_logprob >= b_lo THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM scored JOIN bounds USING (lang) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q84 — corpus snapshot diff: classify every document as added /
  // removed / changed / unchanged between two crawl snapshots by
  // content digest. The ops question behind every corpus refresh —
  // "what actually changed since the version we trained on?" — and
  // the input to incremental re-processing (only 'added'+'changed'
  // need re-scoring, re-dedup probing, re-embedding).
  //
  // The fixtures ship one documents table, so the named query derives
  // the two snapshots deterministically from it: docs with
  // doc_id % 17 == 3 joined after the old crawl (→ added), docs with
  // doc_id % 19 == 7 were dropped before the new one (→ removed), and
  // docs with doc_id % 13 == 5 had different text in the old crawl
  // (simulated by salting the old digest — the diff only ever sees
  // digests, so WHAT changed is irrelevant). The oracle twin applies
  // the identical derivation; [[snapshotDiffOf]] takes two real
  // snapshot frames.
  //
  // 100 TB shape: one full-outer sort-merge join co-partitioned on
  // doc_id — both sides shuffle exactly once on the join key; the
  // digest compare and status CASE are row-local. With both
  // snapshots bucketed by doc_id on disk (sources/Layout.scala), the
  // shuffle disappears entirely.
  // ---------------------------------------------------------------

  val SnapAddedMod = 17L;   val SnapAddedRes = 3L
  val SnapRemovedMod = 19L; val SnapRemovedRes = 7L
  val SnapChangedMod = 13L; val SnapChangedRes = 5L

  /** The derived "previous crawl": lacks the to-be-added docs.
    * Unchanged docs have identical text in both snapshots, and every
    * consumer recomputes changed docs from the current snapshot, so
    * serving prev with CURRENT text is exact for all rows that survive
    * a carry-forward — only the prev DIGEST is salted
    * ([[snapshotPrevDigests]]). One home for the derivation, shared by
    * q84/q88/q89 and the receipts. */
  private[graft] def snapshotPrev(docs: DataFrame): DataFrame =
    docs.filter($"doc_id" % SnapAddedMod =!= SnapAddedRes)

  /** The derived "current crawl": lacks the removed docs. */
  private[graft] def snapshotCur(docs: DataFrame): DataFrame =
    docs.filter($"doc_id" % SnapRemovedMod =!= SnapRemovedRes)

  private[graft] def snapshotPrevDigests(docs: DataFrame): DataFrame =
    snapshotPrev(docs).select($"doc_id",
      md5(when($"doc_id" % SnapChangedMod === SnapChangedRes,
            concat($"text", lit(":prev")))
          .otherwise($"text").cast(BinaryType)).as("prev_digest"))

  private[graft] def snapshotCurDigests(docs: DataFrame): DataFrame =
    snapshotCur(docs)
      .select($"doc_id", md5($"text".cast(BinaryType)).as("cur_digest"))

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame =
    snapshotDiffDerived(Tables.documents(spark, dir)).orderBy($"doc_id")

  /** q84 over any documents-shaped frame (the receipts' entry). */
  private[graft] def snapshotDiffDerived(docs: DataFrame): DataFrame =
    snapshotDiffOf(snapshotPrevDigests(docs), snapshotCurDigests(docs))

  /** The general operator: diff any two (`key`, *_digest) snapshot
    * frames — the one builder of a status frame. Presence is carried
    * by explicit marker columns, NOT by digest nullness (a
    * legitimately-NULL digest — null text under md5 — must not read
    * as absence), and the digest compare is null-safe, mirroring the
    * oracle's doc_id-presence + IS DISTINCT FROM formulation
    * ([[Delta.statusOf]]). Unsorted: a stored diff is only filtered
    * and broadcast; q84's entry sorts for presentation. */
  def snapshotDiffOf(prev: DataFrame, cur: DataFrame,
                     key: String = "doc_id"): DataFrame =
    prev.withColumn("in_prev", lit(true))
      .join(cur.withColumn("in_cur", lit(true)), Seq(key), "full_outer")
      .select(col(key),
        Delta.statusOf($"in_prev", $"in_cur", $"prev_digest", $"cur_digest")
          .as("status"),
        $"prev_digest", $"cur_digest")

  val snapshotDiffSql: String =
    s"""WITH prev AS (
       |  SELECT doc_id,
       |    md5(CASE WHEN doc_id % $SnapChangedMod = $SnapChangedRes
       |             THEN text || ':prev' ELSE text END) AS prev_digest
       |  FROM documents WHERE doc_id % $SnapAddedMod <> $SnapAddedRes),
       |cur AS (
       |  SELECT doc_id, md5(text) AS cur_digest
       |  FROM documents WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes)
       |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
       |  CASE WHEN p.doc_id IS NULL THEN 'added'
       |       WHEN c.doc_id IS NULL THEN 'removed'
       |       WHEN prev_digest IS DISTINCT FROM cur_digest THEN 'changed'
       |       ELSE 'unchanged' END AS status,
       |  prev_digest, cur_digest
       |FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q88 — incremental score maintenance over a snapshot diff: bring a
  // stored per-document score table up to date with the new crawl by
  // recomputing ONLY the documents the q84 diff marks added/changed,
  // carrying every unchanged row forward untouched and dropping the
  // removed. The incremental-view-maintenance move that makes nightly
  // corpus refreshes affordable: a crawl that touches 0.1% of a 100 TB
  // corpus pays 0.1% of the scoring cost, not a full rescore. Sound
  // exactly because the scorer (q73's repetition stats) is doc-local —
  // a document's score depends on its own text alone. (Corpus-global
  // scores — q74's logprob, whose vocabulary shifts with every added
  // doc — need their own delta treatment and are deliberately out of
  // this operator's contract.)
  //
  // The oracle is the FULL RECOMPUTE over the new snapshot: a hash
  // match proves the carry-forward ∪ rescore union is byte-identical
  // to rescoring everything.
  //
  // 100 TB shape: the carry side is one anti-join of the stored score
  // table against the (tiny) dirty doc_id set — broadcast, zero
  // corpus shuffle; the scorer subtree runs over only the
  // added/changed slice.
  // ---------------------------------------------------------------

  /** The stored prev-snapshot score table + diff are published state
    * (ADVICE r8: the Dedup stored-index discipline) — production
    * publishes the score table with the snapshot and every maintenance
    * run LOADS it, so the named query's steady-state cost is the
    * maintenance, not the stored table's build. */
  def incrementalScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // see snapshotPrev's note on why prev-with-current-text is exact
    // for every row that survives the carry-forward
    val prevScores = Published(spark, "corpus.scores", dir,
        Published.inventory(dir, "documents")) {
      repetitionStatsFrom(snapshotPrev(docs)).localCheckpoint(true)
    }
    incrementalScoresOf(prevScores, snapshotCur(docs),
      Delta.documents(spark, dir))
  }

  /** The general operator: `prevScores` = the stored q73 output for
    * the previous snapshot, `curDocs` = the new snapshot, `diff` =
    * the snapshot delta. */
  def incrementalScoresOf(prevScores: DataFrame, curDocs: DataFrame,
                          diff: Delta): DataFrame =
    diff.carry(prevScores)
      .unionByName(repetitionStatsFrom(diff.slice(curDocs)))
      .orderBy($"doc_id")

  lazy val incrementalScoresSql: String = repetitionStatsSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes)")

  // ---------------------------------------------------------------
  // q86 — heavy hitters with a count-min sketch attestation: the
  // exact top-K corpus tokens (hash-gated) alongside the CMS estimate
  // and a verdict that the sketch landed inside its ε = 2/width error
  // bound — the q14/q81 discipline applied to frequency sketching.
  // Unlike q14's HLL (whose estimate is engine-internal and can only
  // be rows-checked), the CMS here is BUILT from an engine-neutral
  // md5 hash, so the estimate itself hash-matches the oracle: the
  // sketch math is verified end-to-end, not just bounded.
  //
  // 100 TB shape: the token aggregate is the only corpus-scale
  // shuffle (map-side combine collapses repeats before the exchange);
  // the sketch is depth × width = 4 × 1024 counters built FROM that
  // aggregate (in a streaming deployment the same counters are
  // maintained incrementally — CMS rows merge by +, the reason the
  // structure exists); the counter table is broadcast for the probe
  // join, and the top-K is a TakeOrdered, never a global sort.
  // ---------------------------------------------------------------

  val CmsDepth = 4
  val CmsWidth = 1024
  val HeavyHitterK = 50

  /** Row r of the sketch: md5("cms<r>:<token>") folded to [0, width).
    * Shared with the streaming twin (q87) so batch and streaming
    * counters hash identically. */
  private[graft] def cmsBucket(row: Column, token: Column): Column =
    conv(substring(md5(concat(lit("cms"), row.cast(StringType), lit(":"),
      token).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType) % CmsWidth
  private def cmsBucketSql(row: String): String =
    s"CAST('0x' || substring(md5('cms' || $row || ':' || token), 1, 8) " +
      s"AS BIGINT) % $CmsWidth"

  private[graft] def cmsRows: Column =
    explode(array((0 until CmsDepth).map(lit): _*))

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersFrom(Tables.documents(spark, dir))

  /** The (r, b, c) CMS counter table from a (token, cnt) frame —
    * shared by the batch build (q86) and the q94 stored-counter
    * build, so maintained counters can only ever be compared against
    * the exact same construction. */
  private[graft] def cmsCountersFrom(tf: DataFrame): DataFrame =
    tf.select($"token", $"cnt", cmsRows.as("r"))
      .select($"r", cmsBucket($"r", $"token").as("b"), $"cnt")
      .groupBy($"r", $"b").agg(sum($"cnt").cast(LongType).as("c"))

  def heavyHittersFrom(docs: DataFrame): DataFrame = {
    val tf = docs.select(explode(TextOps.tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    composeHeavyHitters(tf, cmsCountersFrom(tf))
  }

  /** The output tail shared by the batch (q86) and streaming (q87)
    * paths: given (token, cnt) exact counts and (r, b, c) CMS
    * counters — however they were accumulated — cut the top-K, probe
    * the sketch, and attach the error-bound verdict. */
  private[graft] def composeHeavyHitters(tf: DataFrame,
                                         counters: DataFrame): DataFrame =
    composeHeavyHittersTotal(tf, counters,
      tf.agg(sum($"cnt").cast(LongType).as("n")))

  /** The tail with an explicit corpus-total frame (one `n` column):
    * q87's space-saving candidate set is NOT the full vocabulary, so
    * summing its counts would understate n — the streaming path keeps
    * an exact O(shards) occurrence total alongside and passes it
    * here. */
  private[graft] def composeHeavyHittersTotal(tf: DataFrame,
                                              counters: DataFrame,
                                              total: DataFrame): DataFrame = {
    val topk = tf.orderBy($"cnt".desc, $"token").limit(HeavyHitterK)
    topk.select($"token", $"cnt", cmsRows.as("r"))
      .withColumn("b", cmsBucket($"r", $"token"))
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy($"token", $"cnt").agg(min($"c").as("cms_est"))
      .crossJoin(broadcast(total))
      .select($"token", $"cnt", $"cms_est",
        ($"cms_est" >= $"cnt" &&
          ($"cms_est" - $"cnt").cast(DoubleType) <=
            $"n".cast(DoubleType) * 2 / CmsWidth).as("within_bound"))
      .orderBy($"cnt".desc, $"token")
  }

  val heavyHittersSql: String = heavyHittersSqlFrom("documents")

  /** The q86 oracle over an arbitrary documents-shaped source — q94's
    * full-recompute oracle runs it over the current snapshot. */
  def heavyHittersSqlFrom(src: String): String =
    s"""WITH tok AS (
       |  SELECT unnest(${TextOps.tokensSql}) AS token FROM $src),
       |tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM tf),
       |rws AS (SELECT unnest([${(0 until CmsDepth).mkString(",")}]) AS r),
       |counters AS (
       |  SELECT r, ${cmsBucketSql("CAST(r AS VARCHAR)")} AS b,
       |    CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM tf CROSS JOIN rws GROUP BY 1, 2),
       |topk AS (SELECT token, cnt FROM tf
       |         ORDER BY cnt DESC, token LIMIT $HeavyHitterK),
       |probes AS (
       |  SELECT token, cnt, r, ${cmsBucketSql("CAST(r AS VARCHAR)")} AS b
       |  FROM topk CROSS JOIN rws),
       |est AS (
       |  SELECT token, cnt, MIN(c) AS cms_est
       |  FROM probes JOIN counters USING (r, b) GROUP BY 1, 2)
       |SELECT token, cnt, cms_est,
       |  (cms_est >= cnt AND
       |   CAST(cms_est - cnt AS DOUBLE) <= CAST(n AS DOUBLE) * 2 / $CmsWidth)
       |    AS within_bound
       |FROM est CROSS JOIN tot ORDER BY cnt DESC, token""".stripMargin

  // ---------------------------------------------------------------
  // q92 — delta-maintained vocabulary + corpus-global rescore: the
  // incremental story for the score q88 deliberately excluded. q74's
  // logprob is CORPUS-GLOBAL — every added/removed document shifts the
  // vocabulary counts, and a shifted vocabulary makes every stored
  // score stale, so the q88 carry-forward is unsound here. But the
  // expensive half of q74 is not the vocabulary: it is tokenizing the
  // corpus and aggregating the (doc, token, tf) table. That table IS
  // doc-local, so it maintains exactly like q88's scores — and the
  // vocabulary is a mergeable aggregate OF it, so it maintains from
  // the diff's token deltas alone:
  //
  //   tf'    = stored tf  − dirty docs' rows  ∪  tokenize(dirty slice)
  //   vocab' = stored vocab + gained(fresh slice) − lost(dropped rows)
  //   scores = rescore ALL docs — but from tf' (a compact keyed join),
  //            never by re-tokenizing the corpus.
  //
  // The rescore-all is the honest consequence of a global model: the
  // vocabulary changed, so every per-token logprob may have moved (at
  // minimum through the total-count denominator), and this operator
  // states that instead of carrying scores computed under a dead
  // vocabulary. What the maintenance SAVES is the text pass: at
  // 100 TB the tokenize+explode of raw text dwarfs the thin
  // (doc_id, token, tf) join, so a 0.1% crawl pays 0.1% of the text
  // cost plus one compact-table rescore. A deployment wanting to skip
  // even the rescore gates it on [[vocabDriftStats]] (the q81/q86
  // verdict discipline): within a drift bound, carry scores forward
  // WITH the bound attached; past it, rescore — the policy knob, not
  // this named query, which always rescores so its oracle (the FULL
  // q74 recompute over the new snapshot) hash-matches.
  //
  // 100 TB shape: tokenization runs over only the added/changed
  // slice; the stored tf carries forward under one broadcast
  // anti-join; the vocab delta is two dirty-slice-sized aggregates
  // merged into the stored vocab by token key; the rescore is q74's
  // scoring join over tf' — the one unavoidable corpus-keyed join,
  // with zero text processing.
  // ---------------------------------------------------------------

  /** Stored prev-snapshot (tf, vocab, CMS counters), published per
    * corpus dir (the q88/q89/q91 discipline — production publishes
    * these with the snapshot; maintenance LOADS them). Shared by q92
    * (tf + vocab) and q94 (vocab + counters): one stored-state home
    * per corpus, not one per consumer. */
  private[graft] def tfState(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    Published(spark, "corpus.tf", dir, Published.inventory(dir, "documents")) {
      val tf = tfFrom(snapshotPrev(Tables.documents(spark, dir)))
        .localCheckpoint(true)
      val vocab = vocabFromTf(tf).localCheckpoint(true)
      (tf, vocab, cmsCountersFrom(vocab).localCheckpoint(true))
    }

  def incrementalLogProb(spark: SparkSession, dir: String): DataFrame = {
    val (prevTf, prevVocab, _) = tfState(spark, dir)
    incrementalLogProbOf(prevTf, prevVocab,
      snapshotCur(Tables.documents(spark, dir)), Delta.documents(spark, dir))
  }

  /** The general operator: `prevTf` / `prevVocab` = the stored term
    * frequencies and vocabulary of the previous snapshot, `curDocs` =
    * the new snapshot, `diff` = the snapshot delta. Note the
    * lost-side delta reads the STORED tf rows of changed docs (their
    * old text's counts), never the old text itself — the maintenance
    * needs no access to the previous snapshot's documents. */
  def incrementalLogProbOf(prevTf: DataFrame, prevVocab: DataFrame,
                           curDocs: DataFrame, diff: Delta): DataFrame = {
    // The ONLY text processing in the whole maintenance pass — lazily
    // checkpointed because two consumers read it (the tf union and
    // the gained-side vocab delta) and the vocab is read twice again
    // inside scoreTf: without the barrier the tokenize subtree is
    // cloned into every consumer (measured: 3 Generate subtrees in
    // the plan; the q89 deltaFps discipline).
    val freshTf = tfFrom(diff.slice(curDocs)).localCheckpoint(false)
    val newVocab = maintainedVocab(prevVocab,
      lost = diff.lost(prevTf), gained = freshTf)
      .localCheckpoint(false) // scoreTf reads it twice (total + join)
    scoreTf(diff.carry(prevTf).unionByName(freshTf), newVocab)
  }

  /** vocab' = vocab + Σ gained − Σ lost, dropping tokens whose count
    * reaches zero (a token alive only in removed/changed docs leaves
    * the vocabulary, exactly as a full recompute would drop it). */
  private[graft] def maintainedVocab(prevVocab: DataFrame, lost: DataFrame,
                                     gained: DataFrame): DataFrame =
    Delta.signed(prevVocab.select($"token", $"cnt"),
      lost.select($"token", $"tf".as("cnt")),
      gained.select($"token", $"tf".as("cnt")))

  /** The drift verdict a carry-forward policy would gate on: how far
    * the maintained vocabulary moved from the stored one — changed
    * tokens (entered/left/count moved) and the L1 token-mass share of
    * the movement. One row; both inputs are vocab-sized. */
  def vocabDriftStats(prevVocab: DataFrame, newVocab: DataFrame): DataFrame =
    prevVocab.select($"token", $"cnt".as("prev_cnt"))
      .join(newVocab.select($"token", $"cnt".as("new_cnt")),
        Seq("token"), "full_outer")
      .select(
        coalesce($"prev_cnt", lit(0L)).as("p"),
        coalesce($"new_cnt", lit(0L)).as("n"))
      .agg(
        sum(when($"p" =!= $"n", 1L).otherwise(0L)).as("n_tokens_moved"),
        round(sum(abs($"n" - $"p")).cast(DoubleType)
          / sum(greatest($"p", $"n")), 6).as("l1_mass_share"))

  /** q92's oracle: the FULL q74 recompute over the new snapshot — a
    * hash match proves stored-tf maintenance + vocab deltas + rescore
    * land byte-identically on rescore-everything-from-text. */
  lazy val incrementalLogProbSql: String = unigramLogProbSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes)")

  // ---------------------------------------------------------------
  // q94 — incremental heavy hitters: bring the q86 output (exact
  // top-K + CMS attestation) up to date with a crawl diff without
  // touching unchanged text. Both stored summaries maintain from the
  // same token deltas q92 derives:
  //   - the vocabulary by signed count merge (q92's maintainedVocab);
  //   - the CMS counters by BUCKETED signed merge — CMS cells are
  //     sums over their tokens, so they subtract as cleanly as they
  //     add (the turnstile-stream property of the sketch: deletions
  //     are just negative updates), and a cell whose mass reaches
  //     zero leaves the table exactly as the batch build would omit
  //     it.
  // The oracle is the FULL q86 recompute over the new snapshot: a
  // hash match proves counter maintenance lands byte-identically on
  // rebuild-from-scratch — estimates included, not just the exact
  // side (q86's engine-neutral-hash discipline carried through the
  // incremental path).
  //
  // 100 TB shape: tokenization touches only the dirty slice (the
  // shared delta pass); the vocab merge is token-keyed; the counter
  // merge is sketch-sized (≤ depth × width rows per side); top-K is
  // a TakeOrdered. The one deliberately vocab-sized piece is the
  // stored vocabulary itself — needed for the EXACT top-K cut the
  // oracle gate attests; the state-bounded alternative is q87's
  // space-saving candidate set.
  // ---------------------------------------------------------------

  def incrementalHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val (prevTf, prevVocab, prevCounters) = tfState(spark, dir)
    incrementalHeavyHittersOf(prevVocab, prevCounters, prevTf,
      snapshotCur(Tables.documents(spark, dir)), Delta.documents(spark, dir))
  }

  /** The general operator: stored vocabulary + stored CMS counters +
    * stored tf (for the lost-side deltas) against a new snapshot and
    * its delta. */
  def incrementalHeavyHittersOf(prevVocab: DataFrame,
                                prevCounters: DataFrame,
                                prevTf: DataFrame, curDocs: DataFrame,
                                diff: Delta): DataFrame = {
    val freshTf = tfFrom(diff.slice(curDocs))
      .localCheckpoint(false) // read by the vocab merge AND the deltas
    val lost = diff.lost(prevTf).localCheckpoint(false)
    val newVocab = maintainedVocab(prevVocab, lost = lost, gained = freshTf)
      .localCheckpoint(false) // read by topk, probe, and the total
    // each side folded through the SAME bucket hash the stored
    // counters were built with, then one signed merge
    def cells(tf: DataFrame) =
      cmsCountersFrom(tf.select($"token", $"tf".as("cnt")))
    val newCounters = Delta.signed(prevCounters, cells(lost), cells(freshTf))
    composeHeavyHittersTotal(newVocab.select($"token", $"cnt"),
      newCounters, newVocab.agg(sum($"cnt").cast(LongType).as("n")))
  }

  /** q94's oracle: the FULL q86 recompute over the new snapshot. */
  lazy val incrementalHeavyHittersSql: String = heavyHittersSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes)")

  // ---------------------------------------------------------------
  // q112 — incremental TF-IDF: bring the q65 per-document top-terms
  // up to date with a crawl diff without re-tokenizing unchanged
  // text. TF-IDF is the remaining corpus-global score WITHOUT a
  // maintained twin (vocabulary→q92, CMS/top-K→q94, decontamination
  // →q102): IDF moves whenever any document is added or removed, so
  // the q88 carry-forward is unsound for it — the q92 split applies
  // instead. The doc-local half (the (doc, token, tf) table) IS the
  // stored tf state q92 already maintains; the global half (document
  // frequency + corpus size) is a mergeable aggregate OF that table,
  // so it maintains from the diff alone:
  //
  //   tf' = stored tf − dirty docs' rows ∪ tokenize(dirty slice)
  //   df' = stored df + (fresh rows per token) − (dropped rows per
  //         token)   [tf has ONE row per (doc, token), so row counts
  //         ARE document counts]
  //   n'  = stored n_docs + |added| − |removed|
  //   out = rescore ALL docs from tf' ⋈ df' — q65's arithmetic over
  //         compact keyed tables, never the corpus text.
  //
  // The rescore-all is the honest consequence of a global model (the
  // q92 argument verbatim): one added doc shifts every idf through
  // n_docs. What maintenance saves at 100 TB is the text pass —
  // tokenize+explode over raw text dwarfs the thin stored-table
  // joins — and the df maintenance replaces q65's token-window over
  // the full tf with two dirty-slice-sized aggregates merged by
  // token key.
  //
  // 100 TB shape: tokenization touches only the added/changed slice;
  // the tf carry is one broadcast anti-join; df deltas are
  // dirty-slice-sized aggregates full-outer-merged into the stored
  // df by token key (vocabulary-sized, never broadcast-assumed); the
  // rescore is a token-keyed join of tf' with df' plus the q65
  // per-doc top-k window (doc-bounded). Zero text processing outside
  // the dirty slice.
  // ---------------------------------------------------------------

  /** Stored prev-snapshot (df, n_docs) — derived once from the
    * stored tf (the publish step of the previous nightly run, not
    * charged to maintenance), published per corpus dir alongside
    * [[tfState]]. */
  private def tfidfState(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (prevTf, _, _) = tfState(spark, dir)
    val (prevDf, prevN) = Published(spark, "corpus.tfidf", dir,
        Published.inventory(dir, "documents")) {
      (prevTf.groupBy($"token")
        .agg(count(lit(1)).as("df")).localCheckpoint(true),
        snapshotPrev(Tables.documents(spark, dir))
          .agg(count(lit(1)).as("n_docs")).localCheckpoint(true))
    }
    (prevTf, prevDf, prevN)
  }

  def incrementalTfidf(spark: SparkSession, dir: String): DataFrame = {
    val (prevTf, prevDf, prevN) = tfidfState(spark, dir)
    incrementalTfidfOf(prevTf, prevDf, prevN,
      snapshotCur(Tables.documents(spark, dir)), Delta.documents(spark, dir))
  }

  /** The general operator: `prevTf`/`prevDf`/`prevN` = the previous
    * snapshot's stored term frequencies, per-token document
    * frequencies, and one-row corpus size; `curDocs` = the new
    * snapshot; `diff` = the snapshot delta. The lost-side df delta
    * reads the STORED tf rows of dirty docs — maintenance needs no
    * access to the previous snapshot's text. */
  def incrementalTfidfOf(prevTf: DataFrame, prevDf: DataFrame,
                         prevN: DataFrame, curDocs: DataFrame,
                         diff: Delta): DataFrame = {
    // the ONLY text processing in the maintenance pass (the q92
    // barrier discipline: two consumers — the tf union and the
    // gained-side df delta — must not clone the tokenize subtree)
    val freshTf = tfFrom(diff.slice(curDocs)).localCheckpoint(false)
    val newTf = diff.carry(prevTf).unionByName(freshTf)
    // tf holds one row per (doc, token), so a +1/−1 per row is the
    // per-token document-count delta on both sides
    def docs(tf: DataFrame) = tf.select($"token", lit(1L).as("df"))
    val newDf = Delta.signed(prevDf.select($"token", $"df"),
      docs(diff.lost(prevTf)), docs(freshTf))
    val dN = diff.status.agg(sum(when(Delta.added, 1L)
      .when(Delta.removed, -1L).otherwise(0L)).as("dn"))
    val newN = prevN.crossJoin(broadcast(dN))
      .select(($"n_docs" + coalesce($"dn", lit(0L))).as("n_docs"))
    // q65's scoring arithmetic over the maintained tables; the df
    // arrives by token-keyed join instead of q65's token window —
    // same values, and the maintained table replaces the corpus-wide
    // window recount
    val scored = newTf.join(newDf, Seq("token"))
      .crossJoin(broadcast(newN))
      .withColumn("tfidf",
        round($"tf" * log($"n_docs".cast(DoubleType) / $"df"), 6))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token".asc)
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter($"rank" <= TfIdfTopTerms)
      .select($"doc_id", $"token", $"tf", $"df", $"tfidf", $"rank")
      .orderBy($"doc_id", $"rank")
  }

  /** q112's oracle: the FULL q65 recompute over the new snapshot — a
    * hash match proves tf carry + df/n deltas + rescore land
    * byte-identically on recompute-everything-from-text. */
  lazy val incrementalTfidfSql: String = tfidfTopTermsSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes)")

  // ---------------------------------------------------------------
  // q117 — vocabulary-drift gate: the q105 discipline on the TEXT
  // side. q92 always rescores (so its oracle can be the full
  // recompute); a deployment that wants to SKIP the rescore when the
  // model barely moved needs a named, oracle-gated verdict — this
  // query. Both inputs are vocabularies (the stored one and the
  // delta-maintained one, which q92 proves byte-equal to a fresh
  // recompute), so the gate costs two vocab-sized frames and one
  // aggregate row — never a corpus pass. Two axes, mirroring q105's
  // churn/dist² split: the SHARE of the union vocabulary whose count
  // moved (how much of the model surface changed — per-token logprob
  // staleness tracks this) and the L1 token-mass share of the
  // movement (how much probability mass moved — aggregate-score
  // staleness tracks this). A production gate tunes the two
  // thresholds to which property its consumers depend on.
  // ---------------------------------------------------------------

  /** Refit when more than 20% of the union vocabulary moved, or more
    * than 10% of token mass. */
  val VocabRefitMovedShare = 0.20
  val VocabRefitMassShare = 0.10

  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val (prevTf, prevVocab, _) = tfState(spark, dir)
    val diff = Delta.documents(spark, dir)
    val freshTf = tfFrom(diff.slice(snapshotCur(Tables.documents(spark, dir))))
    vocabDriftVerdictOf(prevVocab,
      maintainedVocab(prevVocab, lost = diff.lost(prevTf), gained = freshTf))
  }

  /** One verdict row over two (token, cnt) vocabularies. */
  def vocabDriftVerdictOf(prevVocab: DataFrame,
                          newVocab: DataFrame): DataFrame =
    prevVocab.select($"token", $"cnt".as("prev_cnt"))
      .join(newVocab.select($"token", $"cnt".as("new_cnt")),
        Seq("token"), "full_outer")
      .select(
        coalesce($"prev_cnt", lit(0L)).as("p"),
        coalesce($"new_cnt", lit(0L)).as("n"))
      .agg(
        count(lit(1)).as("n_tokens_union"),
        sum(when($"p" =!= $"n", 1L).otherwise(0L)).as("n_tokens_moved"),
        sum(abs($"n" - $"p")).as("l1"),
        sum(greatest($"p", $"n")).as("mass"))
      .select(
        $"n_tokens_union", $"n_tokens_moved",
        round($"n_tokens_moved" * lit(1.0) / $"n_tokens_union", 6)
          .as("moved_share"),
        round($"l1" * lit(1.0) / $"mass", 6).as("l1_mass_share"))
      .withColumn("verdict",
        when($"moved_share" > VocabRefitMovedShare
            || $"l1_mass_share" > VocabRefitMassShare, "rescore")
          .otherwise("carry"))

  /** q117 oracle: both vocabularies rebuilt from their snapshots and
    * the same drift arithmetic — integer sums, 6dp rounds, the same
    * CASE — so the verdict row hash-matches. The maintained newVocab
    * is byte-equal to the cur-snapshot recompute (q92's oracle), so
    * the SQL recomputes both sides from text. */
  lazy val vocabDriftSql: String =
    s"""WITH prevd AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % $SnapAddedMod <> $SnapAddedRes),
       |curd AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes),
       |pt AS (SELECT unnest(${TextOps.tokensSql}) AS token FROM prevd),
       |pv AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS prev_cnt
       |       FROM pt GROUP BY 1),
       |nt AS (SELECT unnest(${TextOps.tokensSql}) AS token FROM curd),
       |nv AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS new_cnt
       |       FROM nt GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(prev_cnt, 0) AS p, COALESCE(new_cnt, 0) AS n
       |  FROM pv FULL OUTER JOIN nv USING (token)),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
       |    CAST(SUM(CASE WHEN p <> n THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_tokens_moved,
       |    CAST(SUM(ABS(n - p)) AS BIGINT) AS l1,
       |    CAST(SUM(GREATEST(p, n)) AS BIGINT) AS mass
       |  FROM j)
       |SELECT n_tokens_union, n_tokens_moved,
       |  ROUND(n_tokens_moved * 1.0 / n_tokens_union, 6) AS moved_share,
       |  ROUND(l1 * 1.0 / mass, 6) AS l1_mass_share,
       |  CASE WHEN ROUND(n_tokens_moved * 1.0 / n_tokens_union, 6)
       |         > $VocabRefitMovedShare
       |       OR ROUND(l1 * 1.0 / mass, 6) > $VocabRefitMassShare
       |       THEN 'rescore' ELSE 'carry' END AS verdict
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------
  // q118 — drift-gated logprob maintenance: q117's verdict ACTING
  // (the q110 decision loop on the text side). carry = unchanged docs
  // keep their STORED q74 scores (stale within the gate's bound —
  // the whole point of carrying) while added/changed docs score
  // against the delta-maintained vocabulary; rescore = q92's full
  // rescore from maintained tables (byte-equal to the q74 rebuild).
  // The branch taken rides the output as `maintenance_path`, and the
  // oracle recomputes the verdict and gates each branch's SELECT on
  // it — the DECISION is inside the hash gate. The one-row verdict
  // collects driver-side (scalar control, the q62-checksum
  // discipline).
  //
  // 100 TB shape: the gate is vocab-sized; the carry branch touches
  // stored scores (broadcast anti-join) + dirty-slice scoring only —
  // the cheapest possible nightly; the rescore branch is q92's
  // receipts. Either way, zero text processing outside the diff.
  // ---------------------------------------------------------------

  /** Stored prev-snapshot q74 scores (published alongside the tf
    * state by the previous nightly run), one entry per corpus dir. */
  private[graft] def storedLogProbScores(spark: SparkSession,
                                         dir: String): DataFrame =
    Published(spark, "corpus.logProbScores", dir,
        Published.inventory(dir, "documents")) {
      unigramLogProbFrom(snapshotPrev(Tables.documents(spark, dir)))
        .localCheckpoint(true)
    }

  def gatedLogProb(spark: SparkSession, dir: String): DataFrame = {
    val (prevTf, prevVocab, _) = tfState(spark, dir)
    gatedLogProbOf(prevTf, prevVocab, storedLogProbScores(spark, dir),
      snapshotCur(Tables.documents(spark, dir)), Delta.documents(spark, dir))
  }

  def gatedLogProbOf(prevTf: DataFrame, prevVocab: DataFrame,
                     prevScores: DataFrame, curDocs: DataFrame,
                     diff: Delta): DataFrame = {
    val freshTf = tfFrom(diff.slice(curDocs)).localCheckpoint(false)
    val newVocab = maintainedVocab(prevVocab,
      lost = diff.lost(prevTf), gained = freshTf)
      .localCheckpoint(false)
    gatedLogProbFromParts(prevTf, prevVocab, prevScores,
      freshTf, diff, newVocab)
  }

  /** The acting tail shared by batch q118 and the streaming q138
    * drain: gate verdict over (stored, maintained) vocabularies, then
    * the chosen branch. Single-homed so the nightly and ingest-time
    * paths cannot fork — `freshTf` is the (accumulated) added+changed
    * tf rows, `diff` the (accumulated) delta, `newVocab` the
    * maintained current vocabulary (byte-equal to a fresh recompute
    * by q92's proof, however it was accumulated). */
  private[graft] def gatedLogProbFromParts(
      prevTf: DataFrame, prevVocab: DataFrame, prevScores: DataFrame,
      freshTf: DataFrame, diff: Delta,
      newVocab: DataFrame): DataFrame = {
    val verdict = vocabDriftVerdictOf(prevVocab, newVocab)
      .select($"verdict").head().getString(0)
    val out =
      if (verdict == "rescore")
        scoreTf(diff.carry(prevTf).unionByName(freshTf), newVocab)
      else
        diff.carry(prevScores).unionByName(scoreTf(freshTf, newVocab))
    out.withColumn("maintenance_path", lit(verdict)).orderBy($"doc_id")
  }

  /** q118 oracle: the q117 drift CTEs compute the same verdict and
    * each branch's SELECT is gated on it — rescore = the full q74
    * rebuild over the new snapshot (q92's proven equivalence), carry
    * = prev-snapshot scores for unchanged docs UNION cur-vocabulary
    * scores for the fresh slice. */
  lazy val gatedLogProbSql: String = {
    def scoredCte(src: String, sfx: String) =
      s"""tok$sfx AS (
         |  SELECT doc_id, unnest(${TextOps.tokensSql}) AS token FROM $src),
         |tf$sfx AS (SELECT doc_id, token, COUNT(*) AS tf
         |           FROM tok$sfx GROUP BY 1, 2),
         |vocab$sfx AS (
         |  SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt
         |  FROM tf$sfx GROUP BY 1),
         |tot$sfx AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total
         |            FROM vocab$sfx),
         |sc$sfx AS (
         |  SELECT t.doc_id, t.tf,
         |    CAST(ROUND(ln(CAST(v.cnt AS DOUBLE) / total), 6)
         |         AS DECIMAL(18,6)) AS lp
         |  FROM tf$sfx t JOIN vocab$sfx v USING (token)
         |  CROSS JOIN tot$sfx),
         |doc$sfx AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |    ROUND(CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf), 6)
         |      AS avg_logprob,
         |    ROUND(CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf), 6)
         |      >= $MinAvgLogProb AS keep
         |  FROM sc$sfx GROUP BY 1)""".stripMargin
    s"""WITH prevd AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % $SnapAddedMod <> $SnapAddedRes),
       |curd AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes),
       |pt AS (SELECT unnest(${TextOps.tokensSql}) AS token FROM prevd),
       |pv AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS prev_cnt
       |       FROM pt GROUP BY 1),
       |nt AS (SELECT unnest(${TextOps.tokensSql}) AS token FROM curd),
       |nv AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS new_cnt
       |       FROM nt GROUP BY 1),
       |jd AS (
       |  SELECT COALESCE(prev_cnt, 0) AS p, COALESCE(new_cnt, 0) AS n
       |  FROM pv FULL OUTER JOIN nv USING (token)),
       |vr AS (
       |  SELECT CASE
       |    WHEN ROUND(SUM(CASE WHEN p <> n THEN 1 ELSE 0 END) * 1.0
       |               / COUNT(*), 6) > $VocabRefitMovedShare
       |      OR ROUND(SUM(ABS(n - p)) * 1.0 / SUM(GREATEST(p, n)), 6)
       |         > $VocabRefitMassShare
       |    THEN 'rescore' ELSE 'carry' END AS verdict
       |  FROM jd),
       |statusd AS (
       |  SELECT COALESCE(pd.doc_id, cd.doc_id) AS doc_id,
       |    CASE WHEN pd.doc_id IS NULL THEN 'added'
       |         WHEN cd.doc_id IS NULL THEN 'removed'
       |         WHEN pd.doc_id % $SnapChangedMod = $SnapChangedRes
       |           THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM prevd pd FULL OUTER JOIN curd cd ON pd.doc_id = cd.doc_id),
       |${scoredCte("curd", "_c")},
       |${scoredCte("prevd", "_p")}
       |SELECT doc_id, n_tokens, avg_logprob, keep,
       |  (SELECT verdict FROM vr) AS maintenance_path FROM (
       |  SELECT d.* FROM doc_c d CROSS JOIN vr WHERE vr.verdict = 'rescore'
       |  UNION ALL
       |  SELECT d.* FROM doc_p d
       |  JOIN statusd s USING (doc_id) CROSS JOIN vr
       |  WHERE vr.verdict = 'carry' AND s.status = 'unchanged'
       |  UNION ALL
       |  SELECT d.* FROM doc_c d
       |  JOIN statusd s USING (doc_id) CROSS JOIN vr
       |  WHERE vr.verdict = 'carry' AND s.status IN ('added', 'changed'))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q96 — snapshot drift report: the per-source ops view a crawl
  // refresh publishes alongside the q84 diff — how much each source
  // grew, shrank, and churned between snapshots. This is the dataset
  // card's provenance table AND the sizing input for the whole
  // incremental family (q88/q89/q91/q92/q94/q95 all assume a small
  // dirty fraction; churn_frac IS that fraction, per source), and the
  // gate a pipeline checks before choosing maintenance over the
  // documented rebuild trigger.
  //
  // Invariant by construction (and spec-pinned): docs_cur = docs_prev
  // + added − removed per source — 'changed' moves content, never
  // cardinality.
  //
  // 100 TB shape: three source-keyed aggregates (map-side combined;
  // source cardinality is bounded — domains/registries, never
  // corpus-sized) + small outer joins over the source dimension; the
  // status attribution joins the doc_id-thin diff to the corpus once.
  // ---------------------------------------------------------------

  /** Churn gate: a source whose dirty fraction exceeds this belongs
    * on the rebuild path, not the incremental one. */
  val MaxChurnFrac = 0.5

  def snapshotDriftReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    snapshotDriftReportOf(
      snapshotPrev(docs).select($"doc_id", $"source", $"n_chars"),
      snapshotCur(docs).select($"doc_id", $"source", $"n_chars"),
      snapshotDiffDerived(docs),
      docs.select($"doc_id", $"source"))
  }

  /** The general operator: both snapshots as (doc_id, source,
    * n_chars), a q84-shaped diff, and a (doc_id, source) attribution
    * frame covering every doc_id the diff mentions (the union of both
    * snapshots — a removed doc's source comes from prev). */
  def snapshotDriftReportOf(prev: DataFrame, cur: DataFrame,
                            diff: DataFrame, attribution: DataFrame)
      : DataFrame = {
    val p = prev.groupBy($"source").agg(
      count(lit(1)).as("docs_prev"),
      sum($"n_chars").cast(LongType).as("chars_prev"))
    val c = cur.groupBy($"source").agg(
      count(lit(1)).as("docs_cur"),
      sum($"n_chars").cast(LongType).as("chars_cur"))
    val s = diff.join(attribution, Seq("doc_id"))
      .groupBy($"source").agg(
        sum(when(Delta.added, 1L).otherwise(0L)).as("n_added"),
        sum(when(Delta.removed, 1L).otherwise(0L)).as("n_removed"),
        sum(when(Delta.changed, 1L).otherwise(0L)).as("n_changed"))
    p.join(c, Seq("source"), "full_outer")
      .join(s, Seq("source"), "full_outer")
      .select($"source",
        coalesce($"docs_prev", lit(0L)).as("docs_prev"),
        coalesce($"docs_cur", lit(0L)).as("docs_cur"),
        coalesce($"n_added", lit(0L)).as("n_added"),
        coalesce($"n_removed", lit(0L)).as("n_removed"),
        coalesce($"n_changed", lit(0L)).as("n_changed"),
        coalesce($"chars_prev", lit(0L)).as("chars_prev"),
        coalesce($"chars_cur", lit(0L)).as("chars_cur"))
      .withColumn("churn_frac",
        round(($"n_added" + $"n_removed" + $"n_changed").cast(DoubleType)
          / greatest($"docs_prev", lit(1L)), 6))
      .withColumn("char_drift",
        round(abs($"chars_cur" - $"chars_prev").cast(DoubleType)
          / greatest($"chars_prev", lit(1L)), 6))
      .withColumn("incremental_ok", $"churn_frac" <= MaxChurnFrac)
      .orderBy($"source")
  }

  val snapshotDriftReportSql: String =
    s"""WITH prev AS (
       |  SELECT doc_id, source, n_chars FROM documents
       |  WHERE doc_id % $SnapAddedMod <> $SnapAddedRes),
       |cur AS (
       |  SELECT doc_id, source, n_chars FROM documents
       |  WHERE doc_id % $SnapRemovedMod <> $SnapRemovedRes),
       |diff AS (SELECT doc_id, status FROM ($snapshotDiffSql) q),
       |p AS (SELECT source, COUNT(*) AS docs_prev,
       |        CAST(SUM(n_chars) AS BIGINT) AS chars_prev
       |      FROM prev GROUP BY source),
       |c AS (SELECT source, COUNT(*) AS docs_cur,
       |        CAST(SUM(n_chars) AS BIGINT) AS chars_cur
       |      FROM cur GROUP BY source),
       |s AS (
       |  SELECT d.source,
       |    CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_added,
       |    CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_removed,
       |    CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_changed
       |  FROM diff JOIN documents d USING (doc_id) GROUP BY d.source),
       |base AS (
       |  SELECT source,
       |    COALESCE(docs_prev, 0) AS docs_prev,
       |    COALESCE(docs_cur, 0) AS docs_cur,
       |    COALESCE(n_added, 0) AS n_added,
       |    COALESCE(n_removed, 0) AS n_removed,
       |    COALESCE(n_changed, 0) AS n_changed,
       |    COALESCE(chars_prev, 0) AS chars_prev,
       |    COALESCE(chars_cur, 0) AS chars_cur
       |  FROM p FULL OUTER JOIN c USING (source)
       |         FULL OUTER JOIN s USING (source))
       |SELECT *,
       |  ROUND(CAST(n_added + n_removed + n_changed AS DOUBLE)
       |        / GREATEST(docs_prev, 1), 6) AS churn_frac,
       |  ROUND(CAST(ABS(chars_cur - chars_prev) AS DOUBLE)
       |        / GREATEST(chars_prev, 1), 6) AS char_drift,
       |  ROUND(CAST(n_added + n_removed + n_changed AS DOUBLE)
       |        / GREATEST(docs_prev, 1), 6) <= $MaxChurnFrac
       |    AS incremental_ok
       |FROM base ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q98 — deterministic training-order manifest: the epoch-shuffle
  // every trainer needs, as data. rand()-shuffles are irreproducible
  // and single-sort global shuffles don't scale; instead each doc is
  // hash-routed to one of [[NumOrderShards]] shards (salted md5,
  // independent of the q58 split hash so order and split stay
  // uncorrelated) and ordered WITHIN its shard by the same hash —
  // a pseudo-random permutation that any engine, any run, and any
  // re-execution reproduces bit-identically.
  //
  // 100 TB shape: ONE hash exchange (the shard key is also the
  // window partition key, so the window reuses the exchange), then
  // per-shard sorts of corpus/shards rows — no global sort anywhere;
  // production writes each shard's manifest with
  // sortWithinPartitions. The trailing ORDER BY is the oracle gate's
  // determinism convention, not the production plan.
  // ---------------------------------------------------------------

  val NumOrderShards = 8

  /** Salted order hash — 'ord:' decorrelates it from [[bucketCol]]'s
    * unsalted md5 so a doc's training position is independent of its
    * train/val/test split. */
  private[graft] def orderHashCol: Column =
    md5(concat(lit("ord:"), $"doc_id".cast(StringType)).cast(BinaryType))

  private val orderHashSql = "md5('ord:' || CAST(doc_id AS VARCHAR))"

  def trainOrder(spark: SparkSession, dir: String): DataFrame =
    trainOrderFrom(Tables.documents(spark, dir))

  def trainOrderFrom(docs: DataFrame): DataFrame =
    trainOrderCore(docs).orderBy($"shard_id", $"pos")

  /** The manifest without the gate's trailing global sort — q100
    * stacks its running-sum window directly on this so the plan stays
    * one exchange (shard hash) end to end. */
  private def trainOrderCore(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy($"shard_id")
      .orderBy($"ord_hash".asc, $"doc_id".asc)
    docs
      .select($"doc_id",
        size(TextOps.tokens($"text")).cast(LongType).as("n_tokens"),
        orderHashCol.as("ord_hash"))
      .withColumn("shard_id",
        expr("CAST(conv(substring(ord_hash, 1, 8), 16, 10) AS BIGINT)")
          % NumOrderShards)
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select($"shard_id", $"pos", $"doc_id", $"n_tokens")
  }

  val trainOrderSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS n_tokens,
       |    $orderHashSql AS ord_hash,
       |    CAST('0x' || substring($orderHashSql, 1, 8) AS BIGINT)
       |      % $NumOrderShards AS shard_id
       |  FROM documents)
       |SELECT shard_id, CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
       |    ORDER BY ord_hash ASC, doc_id ASC) AS BIGINT) AS pos,
       |  doc_id, n_tokens
       |FROM h ORDER BY shard_id, pos""".stripMargin

  // ---------------------------------------------------------------
  // q100 — token-budget epoch plan: how much of each q98 shard an
  // epoch with a fixed per-shard token budget actually consumes.
  // Trainers provision epochs in tokens, not docs; the plan is the
  // running token sum over the q98 order, cut at the budget — docs
  // whose cumulative count fits are in this epoch, the tail carries
  // to the next. Reported per shard so budget skew across shards
  // (bad hash, pathological doc lengths) is visible at a glance.
  //
  // 100 TB shape: q98's single exchange + per-shard running-sum
  // window (same partition key — no second shuffle), then a
  // shards-sized aggregate. Nothing global anywhere.
  // ---------------------------------------------------------------

  val TokenBudgetPerShard = 1000L

  def epochPlan(spark: SparkSession, dir: String): DataFrame =
    epochPlanFrom(Tables.documents(spark, dir))

  def epochPlanFrom(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy($"shard_id")
      .orderBy($"pos".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trainOrderCore(docs)
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("kept", $"cum_tokens" <= TokenBudgetPerShard)
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum($"n_tokens").as("tokens_total"),
        sum(when($"kept", $"n_tokens").otherwise(0L)).as("tokens_kept"))
      .select($"shard_id", $"n_docs", $"n_kept", $"tokens_total",
        $"tokens_kept",
        round($"tokens_kept" * lit(1.0) / lit(TokenBudgetPerShard), 6)
          .as("budget_fill"))
      .orderBy($"shard_id")
  }

  val epochPlanSql: String =
    s"""WITH ord AS (SELECT * FROM ($trainOrderSql) q),
       |cum AS (
       |  SELECT shard_id, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY pos ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      <= $TokenBudgetPerShard AS kept,
       |    n_tokens AS nt
       |  FROM ord)
       |SELECT shard_id, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
       |    AS tokens_kept,
       |  ROUND(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) * 1.0
       |    / $TokenBudgetPerShard, 6) AS budget_fill
       |FROM cum GROUP BY shard_id ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------
  // q102 — incremental benchmark decontamination: maintain the q59
  // verdict table against a snapshot diff. Two independent sides:
  //
  //   Bench side — the eval suite is TINY by definition, so its
  //   current n-gram set is recomputed outright from the new
  //   snapshot's bench slice; what matters is its DELTA against the
  //   stored bench set (fps that entered / left), which drives the
  //   clean-doc adjustment below.
  //
  //   Corpus side — a clean document's n-gram set is unchanged, so
  //   its stored (shared, total) counts stay valid except for the
  //   bench delta: shared' = shared + |fps ∩ benchAdded|
  //   − |fps ∩ benchDropped| (exact: added is disjoint from, dropped
  //   a subset of, the stored bench set). Only added/changed corpus
  //   docs re-shingle, scored against the current bench set.
  //
  // The oracle is the FULL q59 recompute over the current snapshot:
  // a hash match proves carry+adjust ∪ rescore == rescore-everything.
  //
  // 100 TB shape: the stored corpus fp table is scanned once for the
  // bench-delta adjustment (a broadcast join against an eval-suite-
  // sized delta — zero corpus shuffle, and skippable entirely when
  // the bench delta is empty, the common nightly case); the shingle
  // pass runs over the dirty slice alone.
  // ---------------------------------------------------------------

  /** (doc_id, fp) — distinct k-gram fingerprints, the q59 derivation. */
  private def decontamFps(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs.select($"doc_id",
      expr(s"graft_shingle_fps(text, $DecontamK)").as("fp"))
  }

  /** Stored prev-snapshot decontamination state, published per corpus
    * dir (the Dedup stored-index discipline): corpus fp table, per-doc
    * (shared, total) counts — zeros INCLUDED so every corpus doc
    * carries — and the bench fp set. */
  def incrementalDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (prevFps, prevCounts, prevBench) = Published(spark,
        "corpus.decontam", dir, Published.inventory(dir, "documents"))(
      decontamStateFrom(snapshotPrev(docs)))
    incrementalDecontamOf(prevFps, prevCounts, prevBench,
      snapshotCur(docs), Delta.documents(spark, dir))
  }

  /** The stored tables a snapshot publish writes: corpus fp table,
    * per-doc (shared, total) counts with zeros, bench fp set. */
  private[graft] def decontamStateFrom(prevDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val all = decontamFps(prevDocs)
    val corpus = all.filter($"doc_id" >= BenchmarkMaxDocId)
      .localCheckpoint(true)
    val bench = all.filter($"doc_id" < BenchmarkMaxDocId)
      .select($"fp").distinct().localCheckpoint(true)
    val totals = corpus.groupBy($"doc_id")
      .agg(count(lit(1)).as("total_ngrams"))
    val shared = corpus.join(broadcast(bench), Seq("fp"))
      .groupBy($"doc_id").agg(count(lit(1)).as("shared_ngrams"))
    val counts = totals.join(shared, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"shared_ngrams", lit(0L)).as("shared_ngrams"),
        $"total_ngrams")
      .localCheckpoint(true)
    (corpus, counts, bench)
  }

  /** The general operator: `prevFps` = stored corpus (doc_id, fp),
    * `prevCounts` = stored per-doc (shared, total) with zeros,
    * `prevBench` = stored bench fp set, against the snapshot delta. */
  def incrementalDecontamOf(prevFps: DataFrame, prevCounts: DataFrame,
                            prevBench: DataFrame, curDocs: DataFrame,
                            delta: Delta): DataFrame = {
    val diff = delta.map(_.localCheckpoint(true))
    // bench side: recomputed outright (eval-suite-sized)
    val benchCur = decontamFps(
      curDocs.filter($"doc_id" < BenchmarkMaxDocId))
      .select($"fp").distinct().localCheckpoint(true)
    val benchDelta = benchCur.join(prevBench, Seq("fp"), "left_anti")
      .withColumn("sign", lit(1L))
      .unionByName(prevBench.join(benchCur, Seq("fp"), "left_anti")
        .withColumn("sign", lit(-1L)))
      .localCheckpoint(true)
    // clean docs: stored counts, shared adjusted by the bench delta
    val dShared = diff.carry(prevFps)
      .join(broadcast(benchDelta), Seq("fp"))
      .groupBy($"doc_id").agg(sum($"sign").as("d_shared"))
    val carried = diff.carry(prevCounts)
      .join(broadcast(dShared), Seq("doc_id"), "left")
      .select($"doc_id",
        ($"shared_ngrams" + coalesce($"d_shared", lit(0L)))
          .as("shared_ngrams"),
        $"total_ngrams")
    // dirty docs: re-shingle the slice, score against the cur bench
    val freshFps = decontamFps(
      diff.slice(curDocs).filter($"doc_id" >= BenchmarkMaxDocId))
      .localCheckpoint(true)
    val fresh = freshFps.groupBy($"doc_id")
      .agg(count(lit(1)).as("total_ngrams"))
      .join(freshFps.join(broadcast(benchCur), Seq("fp"))
        .groupBy($"doc_id").agg(count(lit(1)).as("shared_ngrams")),
        Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"shared_ngrams", lit(0L)).as("shared_ngrams"),
        $"total_ngrams")
    carried.unionByName(fresh)
      .filter($"shared_ngrams" >= 1) // q59 reports contaminated docs only
      .select($"doc_id", $"shared_ngrams", $"total_ngrams",
        round($"shared_ngrams" * lit(1.0) / $"total_ngrams", 6)
          .as("contamination"))
      .orderBy($"doc_id")
  }

  lazy val incrementalDecontamSql: String = decontaminateSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod" +
      s" <> $SnapRemovedRes)")

  // ---------------------------------------------------------------
  // q101 — incremental training-corpus maintenance: the q76 composed
  // build brought up to date with a snapshot diff by COMPOSING the
  // stored-state family instead of recomputing the corpus:
  //   dedup keep      -> q89 (stored LSH index + verified pairs)
  //   repetition keep -> q88 (stored score table, doc-local carry)
  //   logprob keep    -> q92 (stored tf + delta vocabulary, rescore)
  //   decontamination -> q102 (stored counts + bench delta)
  //   chunk stats     -> stored per-doc aggregate, q88's carry shape
  //   sampling/splits -> pure doc-local hashes, recomputed row-local
  // Every piece is individually oracle-proven equal to its full
  // recompute; the composition is the same join tree as q76 over the
  // new snapshot's base, so q101's oracle is simply the FULL q76
  // chain over the current snapshot.
  //
  // 100 TB shape: each stage is dirty-slice + stored-table-carry (the
  // per-family receipts in SCALE.md); the join tree is q76's, over
  // doc_id-thin checkpointed leaves, materialized concurrently.
  // ---------------------------------------------------------------

  private def chunkAggFrom(docs: DataFrame): DataFrame =
    chunkDocsFrom(docs).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"n_tokens").as("n_tokens"))

  /** Maintained chunk stats over the published prev-snapshot per-doc
    * chunk aggregate (q88's carry discipline for the doc-local chunk
    * stats). */
  def incrementalChunkStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val prevChunk = Published(spark, "corpus.chunks", dir,
        Published.inventory(dir, "documents")) {
      chunkAggFrom(snapshotPrev(docs)).localCheckpoint(true)
    }
    val diff = Delta.documents(spark, dir)
    diff.carry(prevChunk)
      .unionByName(chunkAggFrom(diff.slice(snapshotCur(docs))))
  }

  /** PUBLISHED stage-verdict tables of the CURRENT snapshot — what
    * each nightly maintainer writes after its run (q88's maintained
    * score keeps, q92's rescored logprob keeps, q102's contamination
    * report, the chunk-stats carry, and the dedup keep ids over the
    * q89-published labels), one store entry per corpus: the
    * q104/q107/q111 publish-once pattern applied to the training-
    * corpus composition (OPTIMIZATION_r17 "not yet optimized" item 2).
    * Built CONCURRENTLY on first access (the q76 stage discipline
    * applies to the publish); steady-state q101 calls read five
    * checkpointed leaves. The maintainers' own rows (q88/q92/q102)
    * still price the fresh dirty-slice machinery per call, and q101's
    * oracle stays the FULL q76 chain over the current snapshot.
    * Returns (keep ids, repetition keeps, logprob keeps, contaminated
    * ids, chunk stats). */
  private def publishCorpusVerdicts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val keepIdsF = thin(
      Dedup.publishedKeepCorpus(spark, dir).select($"doc_id"))
    val repKeepF = thin(incrementalScores(spark, dir)
      .filter($"keep").select($"doc_id"))
    val lpKeepF = thin(incrementalLogProb(spark, dir)
      .filter($"keep").select($"doc_id"))
    val contaminatedF = thin(incrementalDecontam(spark, dir)
      .filter($"contamination" >= DecontamMaxRate).select($"doc_id"))
    val chunkStatsF = thin(incrementalChunkStats(spark, dir))
    awaitAll(keepIdsF, repKeepF, lpKeepF, contaminatedF, chunkStatsF)
    (get(keepIdsF), get(repKeepF), get(lpKeepF), get(contaminatedF),
      get(chunkStatsF))
  }

  def incrementalTrainingCorpus(spark: SparkSession, dir: String)
      : DataFrame = {
    val cur = snapshotCur(Tables.documents(spark, dir))
    // Sampling/splits stay per-call: pure doc-local hashes over the
    // current snapshot with no stored state to read (q76's
    // concurrent-stage discipline). They run alongside the published
    // verdicts, so a cold call overlaps them with the five publish
    // futures.
    val sampledF = thin(mixtureSampleFrom(cur, MixtureRates,
      MixtureDefaultRate).filter($"sampled").select($"doc_id", $"source"))
    val splitsF = thin(splitAssignFrom(cur).select($"doc_id", $"split"))
    // r18: the five maintained stages are PUBLISHED tables (see
    // [[publishCorpusVerdicts]]) — the floors trace showed q101's
    // per-call cost was re-running each maintainer's rescore tail
    // (four ~0.5-1.1 s stage checkpoints per call) for verdicts the
    // nightly maintainers publish anyway.
    val verdictsF = Future(Published(spark, "corpus.verdicts", dir,
      Published.inventory(dir, "documents"))(publishCorpusVerdicts(spark, dir)))
    awaitAll(sampledF, splitsF, verdictsF)
    val (keepIds, repKeep, lpKeep, contaminated, chunkStats) = get(verdictsF)
    cur.select($"doc_id").filter($"doc_id" >= BenchmarkMaxDocId)
      .join(keepIds, Seq("doc_id"))
      .join(repKeep, Seq("doc_id"))
      .join(lpKeep, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(get(sampledF), Seq("doc_id"))
      .join(get(splitsF), Seq("doc_id"))
      .join(chunkStats, Seq("doc_id"))
      .select($"doc_id", $"source", $"split", $"n_chunks", $"n_tokens")
      .orderBy($"doc_id")
  }

  lazy val incrementalTrainingCorpusSql: String = trainingCorpusSqlFrom(
    s"(SELECT * FROM documents WHERE doc_id % $SnapRemovedMod" +
      s" <> $SnapRemovedRes)")
}
