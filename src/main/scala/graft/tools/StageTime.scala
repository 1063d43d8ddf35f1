package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Corpus, Dedup}
import graft.syntax._

/** Dev scratch: per-stage wall-clock of the q76 composition, to
  * attribute its cost (the per-operator TimeQuery numbers don't sum
  * to the composed total — this shows which stage diverges when run
  * inside the composition's session state). */
object StageTime {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local("graft-stage-time")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stage] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // opt-in EXCLUSIVE mode: stage attribution of the q136 exact
    // kept-corpus composition (pairs → clusters → keep). Arg: "q136".
    if (args.contains("q136")) {
      (1 to 3).foreach { p =>
        spark.catalog.clearCache()
        val pairs = time(s"pass $p pairs pipeline (eager ckpt)") {
          Dedup.prefixJaccardPairsOver(Dedup.shingleFps(spark, dir), "fp",
              Dedup.PrefixJaccardThreshold)
            .select($"doc_a", $"doc_b").localCheckpoint(true)
        }
        val clusters = time(s"pass $p clusters") {
          val c = Dedup.dedupClustersFrom(pairs).localCheckpoint(true)
          c.count(); c
        }
        time(s"pass $p keep") {
          Dedup.dedupKeepCorpusFrom(Tables.documents(spark, dir), clusters)
            .count()
        }
      }
      spark.stop()
      return
    }

    // opt-in EXCLUSIVE mode: job-by-job floor attribution for the
    // text-scoring family (VERDICT r12 item 2) — the queries >2×
    // DuckDB at sf0.1 whose plans have no corpus-scale defect. For
    // each, a warm pass builds stored state, then the timed pass
    // records every scheduler job's wall; the receipt is jobs ×
    // per-job cost vs the query wall — showing the floor is Spark's
    // per-job scheduling latency (constant in data), not data work.
    // Arg: "floors".
    if (args.contains("floors")) {
      import org.apache.spark.scheduler.{SparkListener,
        SparkListenerJobEnd, SparkListenerJobStart}
      import scala.jdk.CollectionConverters._
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val durs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          starts.put(js.jobId, js.time)
          // the result stage's call site names what the job computed
          names.put(js.jobId, js.stageInfos.lastOption
            .map(_.name.takeWhile(_ != '\n').take(60)).getOrElse("?"))
          ()
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          durs.put(je.jobId,
            je.time - starts.getOrDefault(je.jobId, je.time))
          ()
        }
      })
      val extra = args.dropWhile(_ != "floors").drop(1)
      val qs = if (extra.nonEmpty) extra.toSeq
        else Seq("q114_nb_classifier", "q116_incremental_nb",
          "q109_incremental_bigram", "q83_ppl_buckets",
          "q74_unigram_logprob", "q65_tfidf_topterms")
      qs.foreach { name =>
        val fn = graft.SparkEntry.queries(name)
        fn(spark, dir).collect() // warm: JIT + stored-state publish
        Thread.sleep(1500)       // let the warm pass's job events drain
        durs.clear(); starts.clear()
        val t0 = System.nanoTime()
        fn(spark, dir).collect()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500)       // let the timed pass's events drain
        val ds = durs.values().asScala.toSeq.map(_.max(0L)).sorted.reverse
        println(f"[floor] $name: wall $wall%.2f s, jobs ${ds.size}, " +
          f"job-sum ${ds.sum / 1e3}%.2f s, per-job ms " +
          s"[${ds.mkString(",")}]")
        durs.entrySet().asScala.toSeq.sortBy(-_.getValue).take(8)
          .foreach { e =>
            println(s"[floor]   job ${e.getKey} ${e.getValue} ms  " +
              names.getOrDefault(e.getKey, "?"))
          }
      }
      spark.stop()
      return
    }

    val docs = Tables.documents(spark, dir)
    (1 to 2).foreach { pass =>
      println(s"--- pass $pass")
      spark.catalog.clearCache()
      val clusters = time("q62 clusters (construct+loop)")(
        Dedup.dedupClusters(spark, dir))
      time("q62 count")(clusters.count())
      time("q70 keep corpus")(
        Dedup.dedupKeepCorpusFrom(docs, clusters).count())
      time("q73 keep ids")(
        Corpus.repetitionStatsFrom(docs).filter($"keep").count())
      time("q74 keep ids")(
        Corpus.unigramLogProbFrom(docs).filter($"keep").count())
      time("q59 contaminated")(Corpus.decontaminateFrom(docs)
        .filter($"contamination" >= Corpus.DecontamMaxRate).count())
      time("q75 sampled")(Corpus.mixtureSampleFrom(docs,
        Corpus.MixtureRates, Corpus.MixtureDefaultRate)
        .filter($"sampled").count())
      time("q58 splits")(Corpus.splitAssignFrom(docs).count())
      time("q72 chunk agg")(Corpus.chunkDocsFrom(docs)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks")).count())
      time("q76 composed")(Corpus.trainingCorpus(spark, dir).count())
    }
    spark.stop()
  }
}
