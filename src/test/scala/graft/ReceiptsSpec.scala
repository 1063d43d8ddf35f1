package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Receipts

/** Every scale receipt runs end to end at scale 1 over the fixture
  * (the synthetic rows at their smallest corpus), in one pass — the
  * warm-up, whose hashes are the agreement check: arms that must
  * agree give one full-result hash, and `chain` gives its one
  * component. The timed protocol runs on one row and on one driver
  * query. */
class ReceiptsSpec extends AnyFunSuite {
  import TestSpark._

  test("receipts: every row runs at scale 1, and agreeing arms hash equal") {
    val ran = Receipts.Rows.map { row =>
      val results = Receipts.run(spark, row, sf, scale = 1, passes = 0)
      assert(results.size >= 2, s"${row.name} has one arm")
      if (row.agree) assert(results.map(_.hash).distinct.size === 1,
        s"${row.name}: ${results.mkString(", ")}")
      row.name -> results
    }.toMap
    // the 10,000-node path graph is one component labelled 0
    assert(ran("chain").head.hash.startsWith("10000:"))
    assert(ran.size === Receipts.Rows.size, "row names must be unique")
  }

  test("receipts: a timed pass reproduces the warm-up hash and counts jobs") {
    val row = Receipts.Rows.find(_.name == "bpevocab").get
    Receipts.run(spark, row, sf, scale = 1, passes = 1).foreach { r =>
      assert(r.best > 0.0 && r.spread === 1.0 && r.jobs >= 1, r)
    }
  }

  test("receipts: a driver query name is a one-arm row, timed like any row") {
    val row = Receipts.row("q06_priority_revenue").get
    assert(!Receipts.Rows.exists(_.name == row.name))
    val Seq(r) = Receipts.run(spark, row, sf, scale = 1, passes = 1)
    assert(r.label === "q06_priority_revenue" && r.best > 0.0 &&
      r.spread === 1.0 && r.jobs >= 1, r)
    assert(Receipts.row("no_such_row").isEmpty)
  }

  test("resultHash: order-independent, and it sees every column") {
    import spark.implicits._
    val a = Seq((1L, 0.1234567, "x"), (2L, -0.0, "y")).toDF("id", "d", "s")
    val b = Seq((2L, 0.0, "y"), (1L, 0.1234571, "x")).toDF("id", "d", "s")
    assert(Force.resultHash(a) === Force.resultHash(b))
    assert(Force.resultHash(a) !==
      Force.resultHash(a.withColumn("s", org.apache.spark.sql.functions.lit("z"))))
  }

  test("resultHash: the engine's hash of q41 at sf0.1 is gridperf's " +
       "expected line") {
    val q = "q41_quality_score"
    val expected = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("gridperf/expected-sf0.1.tsv"))
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.1")
    val got = Force.resultHash(SparkEntry.queries(q)(spark, sf01.getPath))
    assert(expected.contains(s"$q\t$got"), s"$q hashed $got")
  }
}
