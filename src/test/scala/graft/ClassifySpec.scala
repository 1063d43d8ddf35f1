package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.Delta
import graft.operators.{Classify, Corpus}

class ClassifySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("q114 NB: hand arithmetic — priors, add-one smoothing, argmax") {
    // model: en trained on 2 docs {hello:2, world:1}, de on 1 {hallo:1}
    // → tot_en=3, tot_de=1, V=3, priors ln(2/3) / ln(1/3)
    val wc = Seq(("en", "hello", 2L), ("en", "world", 1L),
      ("de", "hallo", 1L)).toDF("lang", "token", "cnt")
    val cdoc = Seq(("en", 2L), ("de", 1L)).toDF("lang", "n_docs_c")
    val docs = Seq((1L, "xx", "hello hallo")).toDF("doc_id", "lang", "text")
    val out = Classify.nbScore(docs, Classify.docTf(docs),
      Classify.nbModelOf(wc, cdoc)).collect()
    assert(out.length === 1)
    val r = out.head
    // en: ln(2/3) + ln(3/6) + ln(1/6)  = -2.890371 (each term 6dp)
    // de: ln(1/3) + ln(1/4) + ln(2/4)  = -3.178053 → en wins
    assert(r.getString(2) === "en")
    assert(r.getDouble(3) === -2.890371)
    assert(!r.getBoolean(4), "true lang 'xx' cannot be correct")
  }

  test("q114 NB: a NULL-lang training class never enters the model " +
       "(inner-join semantics, mirrored by the driver-side rebuild)") {
    // untagged docs (lang=NULL) carry token counts and a doc count;
    // SQL's inner join drops them (NULL never equals NULL), and the
    // collect-based model rebuild must too — a Scala Map would
    // happily key on null and let a null class ride every argmax
    val wc = Seq(("en", "hello", 1L), (null, "hello", 9L),
      (null, "null-only", 9L)).toDF("lang", "token", "cnt")
    val cdoc = Seq(("en", 1L), (null, 9L)).toDF("lang", "n_docs_c")
    val docs = Seq((1L, "en", "hello null-only"))
      .toDF("doc_id", "lang", "text")
    val model = Classify.nbModelOf(wc, cdoc)
    assert(model.classes.filter($"lang".isNull).count() === 0L,
      "null-lang class leaked into the model")
    val r = Classify.nbScore(docs, Classify.docTf(docs), model)
      .collect().head
    assert(r.getString(2) === "en",
      "prediction must come from a real class")
    // the null-lang DOCS still count toward n_train (the old nTrain
    // aggregate summed all of cdoc): prior = ln(1/10), and with
    // tot_en=1, V=2: lp(hello)=ln(2/3), lp(null-only)=ln(1/3)
    assert(r.getDouble(3) ===
      BigDecimal(math.log(1.0 / 10)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble +
      BigDecimal(math.log(2.0 / 3)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble +
      BigDecimal(math.log(1.0 / 3)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("q114 NB: exact score tie breaks to the lexicographically " +
       "first class") {
    // perfectly symmetric model: identical counts under both classes
    val wc = Seq(("bb", "tok", 1L), ("aa", "tok", 1L))
      .toDF("lang", "token", "cnt")
    val cdoc = Seq(("bb", 1L), ("aa", 1L)).toDF("lang", "n_docs_c")
    val docs = Seq((1L, "bb", "tok tok")).toDF("doc_id", "lang", "text")
    val r = Classify.nbScore(docs, Classify.docTf(docs),
      Classify.nbModelOf(wc, cdoc)).collect().head
    assert(r.getString(2) === "aa")
  }

  test("q114 NB on the fixture: one deterministic prediction per doc, " +
       "classes drawn from the train split, log-scores negative") {
    val out = Classify.nbClassify(spark, sf).collect()
    assert(out.length.toLong === Tables.documents(spark, sf).count())
    val trainLangs = Classify.trainSlice(Tables.documents(spark, sf))
      .select($"lang").distinct().as[String].collect().toSet
    out.foreach { r =>
      assert(trainLangs.contains(r.getString(2)))
      assert(r.getDouble(3) < 0.0, "a log-probability score must be < 0")
      assert(r.getBoolean(4) === (r.getString(1) == r.getString(2)))
    }
    val again = Classify.nbClassify(spark, sf).collect()
    assert(out.toSeq === again.toSeq)
  }

  test("q114 NB: the keyed-join fallback (-Dgraft.nb.broadcastModel=" +
       "false) scores identically to the broadcast path") {
    // the escape hatch for a model past the 8 GB broadcast limit
    // (ADVICE r12): same verdicts, one keyed join instead of the
    // broadcast lookup. The flag is threaded as an explicit parameter
    // and the conf change lives in a CHILD session (own SQLConf, same
    // SparkContext), so no JVM-global or shared-session state mutates
    // mid-suite (ADVICE r13).
    val viaBroadcast = Classify.nbClassify(spark, sf).collect()
    val isolated = spark.newSession()
    // without the forced hint the planner may still auto-broadcast a
    // small wc (fine — the hatch's point is removing the FORCE);
    // disabling auto-broadcast proves the keyed-join path exists and
    // is correct, the shape a >8 GB model would actually take
    isolated.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val keyed = Classify.nbClassifyFrom(
      Tables.documents(isolated, sf), useBroadcast = false)
    val p = keyed.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"fallback must key-shuffle the model join:\n${p.take(3000)}")
    assert(keyed.collect().toSeq === viaBroadcast.toSeq)
  }

  test("q116 incremental NB == full recompute over the new snapshot") {
    val curDocs = Tables.documents(spark, sf)
      .filter($"doc_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)
    val incremental = Classify.incrementalNbClassify(spark, sf).collect()
    val full = Classify.nbClassifyFrom(curDocs).collect()
    assert(incremental.toSeq === full.toSeq)
  }

  test("q116: a relabeled train doc migrates its counts between " +
       "classes — the lost side reads the STORED old label") {
    // doc_ids 1-3 hash into the train split, 16 into validation
    val prevDocs = Seq((1L, "de", "hallo welt"), (2L, "en", "hello world"),
      (3L, "en", "hello there"), (16L, "en", "hello hallo"))
      .toDF("doc_id", "lang", "text")
    val prevTrain = Classify.trainSlice(prevDocs)
    val meta = prevTrain.select($"doc_id", $"lang")
    val trainTf = Classify.docTf(prevTrain).join(meta, Seq("doc_id"))
      .select($"doc_id", $"lang", $"token", $"tf")
    val wc = trainTf.groupBy($"lang", $"token").agg(sum($"tf").as("cnt"))
    val cdoc = meta.groupBy($"lang").agg(count(lit(1)).as("n_docs_c"))
    // doc 1 — the only 'de' train doc — is relabeled to 'en'
    val curDocs = Seq((1L, "en", "hallo welt"), (2L, "en", "hello world"),
      (3L, "en", "hello there"), (16L, "en", "hello hallo"))
      .toDF("doc_id", "lang", "text")
    val diff = Seq((1L, "changed"), (2L, "unchanged"), (3L, "unchanged"),
      (16L, "unchanged")).toDF("doc_id", "status")
    val out = Classify.incrementalNbClassifyOf(Classify.docTf(prevDocs),
      meta, trainTf, wc, cdoc, curDocs, Delta(diff, "doc_id"))
    // the 'de' class died with its only member: nothing predicts it,
    // and the maintained output matches the batch fit exactly
    assert(out.filter($"pred_lang" === "de").count() === 0)
    assert(out.collect().toSeq ===
      Classify.nbClassifyFrom(curDocs).collect().toSeq)
  }

  test("q116 scores unchanged docs from the STORED tf table — never " +
       "re-tokenizes them") {
    val prevDocs = Seq((1L, "de", "hallo welt"), (2L, "en", "hello world"),
      (16L, "en", "hello hallo")).toDF("doc_id", "lang", "text")
    val prevTrain = Classify.trainSlice(prevDocs)
    val meta = prevTrain.select($"doc_id", $"lang")
    val trainTf = Classify.docTf(prevTrain).join(meta, Seq("doc_id"))
      .select($"doc_id", $"lang", $"token", $"tf")
    val wc = trainTf.groupBy($"lang", $"token").agg(sum($"tf").as("cnt"))
    val cdoc = meta.groupBy($"lang").agg(count(lit(1)).as("n_docs_c"))
    // poison the stored tf of validation doc 16 (model unaffected);
    // an all-unchanged diff must surface the poison in its score
    val poisonedTf = Classify.docTf(prevDocs)
      .withColumn("tf", when($"doc_id" === 16L && $"token" === "hello", 5L)
        .otherwise($"tf"))
    val diff = Seq((1L, "unchanged"), (2L, "unchanged"), (16L, "unchanged"))
      .toDF("doc_id", "status")
    val out = Classify.incrementalNbClassifyOf(poisonedTf, meta, trainTf,
        wc, cdoc, prevDocs, Delta(diff, "doc_id")).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val batch = Classify.nbClassifyFrom(prevDocs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === batch(1L) && out(2L) === batch(2L))
    assert(out(16L) < batch(16L),
      "poisoned stored tf ignored — doc 16 was re-tokenized")
  }

  test("q114 NB: held-out docs contribute no counts — removing a " +
       "non-train doc never changes the model's predictions") {
    val docs = Tables.documents(spark, sf)
    val nonTrain = docs
      .filter(Corpus.splitCol(Corpus.bucketCol) =!= "train")
      .select($"doc_id").as[Long].head()
    val full = Classify.nbClassifyFrom(docs)
      .filter($"doc_id" =!= nonTrain).collect()
    val dropped = Classify.nbClassifyFrom(docs.filter($"doc_id" =!= nonTrain))
      .collect()
    assert(full.toSeq === dropped.toSeq)
  }
}
