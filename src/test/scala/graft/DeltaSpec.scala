package graft

import org.apache.spark.StageRdds
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.Delta
import graft.operators.{Corpus, Dedup}
import graft.state.Published

/** The delta seam: what its id sets and operations mean on a hand
  * frame, that every document maintainer of one corpus reads ONE
  * published delta, and that the status vocabulary has one home. */
class DeltaSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("the seam on a hand frame: every status and a null digest") {
    // 1 removed, 2 unchanged, 3 changed, 4 added, 5 changed to a null
    // digest, 6 unchanged with a null digest on both sides
    val prev = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (5L, Some("e")), (6L, Option.empty[String])).toDF("doc_id", "prev_digest")
    val cur = Seq((2L, Some("b")), (3L, Some("C")), (4L, Some("d")),
      (5L, Option.empty[String]), (6L, Option.empty[String]))
      .toDF("doc_id", "cur_digest")
    val d = Delta(Corpus.snapshotDiffOf(prev, cur), "doc_id")
    assert(ids(d.stale) === Set(1L, 3L, 5L))
    assert(ids(d.fresh) === Set(3L, 4L, 5L))
    assert(ids(d.status.filter(Delta.dirty)) === Set(1L, 3L, 4L, 5L))
    assert(ids(d.status.filter(Delta.added)) === Set(4L))
    assert(ids(d.status.filter(Delta.removed)) === Set(1L))
    assert(ids(d.status.filter(Delta.changed)) === Set(3L, 5L))

    val stored = Seq(1L, 2L, 3L, 5L, 6L).toDF("doc_id")
    assert(ids(d.carry(stored)) === Set(2L, 6L))
    assert(ids(d.lost(stored)) === Set(1L, 3L, 5L))
    val current = Seq(2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    assert(ids(d.slice(current)) === Set(3L, 4L, 5L))
    // a pair survives only when BOTH endpoints are clean
    val pairs = Seq((2L, 6L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    assert(d.carryPairs(pairs).select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet === Set((2L, 6L)))
    // map reaches both sets and nothing else
    val widened = d.map(_.unionByName(Seq(6L).toDF("doc_id")))
    assert(ids(widened.stale) === Set(1L, 3L, 5L, 6L))
    assert(ids(widened.fresh) === Set(3L, 4L, 5L, 6L))
    assert(widened.status eq d.status)

    // signed: stored + gained − lost per key; zero counts leave, new
    // keys enter
    val vocab = Seq(("a", 3L), ("b", 1L)).toDF("token", "cnt")
    val lost = Seq(("a", 1L), ("b", 1L)).toDF("token", "cnt")
    val gained = Seq(("a", 2L), ("c", 4L)).toDF("token", "cnt")
    assert(Delta.signed(vocab, lost, gained).as[(String, Long)].collect()
      .toSet === Set(("a", 4L), ("c", 4L)))
  }

  test("one published document delta: every maintainer of a dir reads " +
       "the same checkpointed leaf") {
    val s = spark.newSession()
    val maintainers = Seq(
      "q88" -> (() => Corpus.incrementalScores(s, sf)),
      "q89" -> (() => Dedup.incrementalKeepCorpus(s, sf)),
      "q92" -> (() => Corpus.incrementalLogProb(s, sf)),
      "q102" -> (() => Corpus.incrementalDecontam(s, sf)),
      "q109" -> (() => Corpus.incrementalBigramLogProb(s, sf)),
      "q115" -> (() => Dedup.incrementalSpanDedup(s, sf)),
      "chunk stats" -> (() => Corpus.incrementalChunkStats(s, sf)))
    // the first maintainer builds the delta; every one reads it
    val read = maintainers.map { case (name, q) =>
      name -> StageRdds(s.sparkContext)(q().collect())._2
    }
    val deltas = Published.entries(s).filter(_._2 == sf).map(_._1)
      .filter(_.startsWith("delta."))
    assert(deltas === Seq("delta.documents"))
    val leaf = Delta.documents(s, sf).status.queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r.rdd.id }.get
    read.foreach { case (name, rdds) =>
      assert(rdds.contains(leaf),
        s"$name must read the published delta (rdd $leaf)")
    }
  }

  test("the status vocabulary appears in main code only in the seam") {
    val literals = Seq("\"unchanged\"", "\"added\"", "\"changed\"",
      "\"removed\"")
    val offenders = SourceScan.files.collect {
      case (f, src) if !f.getPath.endsWith("graft/delta/Delta.scala") &&
        literals.exists(src.contains) => f
    }
    assert(offenders.isEmpty,
      s"read snapshot statuses through graft.delta.Delta: " +
        offenders.mkString(", "))
  }
}
