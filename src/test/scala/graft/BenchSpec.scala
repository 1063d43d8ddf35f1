package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.artifact` builds the driver-contract lines from a run's
  * measurements alone, so it is checked here without a second session
  * (`getOrCreate` would hand back `TestSpark`'s and change its
  * settings). */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private val failed = "q01_pricing_summary"
  private val results = SparkEntry.queries.keys.toSeq.sorted.map { k =>
    k -> (if (k == failed) -1.0 else 1.23456)
  }

  private def artifact(rs: Seq[(String, Double)]): (String, String) =
    Bench.artifact(rs, passTotals = Seq(190.1, 180.04, 181.5),
      loads = Seq(0.5, 0.25, 1.0), waits = Seq(0.0, 12.4, 5.0),
      spread = 1.0083, sf = "/data/sf0.1", Session.posture, cores = 4)

  test("both lines parse, count the failed oracle query and keep every field") {
    assert(SparkEntry.oracleSql.contains(failed))
    val (line, compact) = artifact(results)
    val full = mapper.readTree(line)
    val short = mapper.readTree(compact)
    assert(full.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
      "value_oracle_subset", "oracle_failed", "duckdb_subset_hint", "queries",
      "sf", "posture", "pass_totals", "loadavg_at_pass_start",
      "quiesce_wait_s", "pass_spread", "publish_once", "publish_once_note",
      "skipped", "skipped_reason"))
    assert(full.get("oracle_failed").asInt === 1)
    assert(short.get("oracle_failed").asInt === 1)
    assert(full.get("queries").size === SparkEntry.queries.size)
    // the rounding the f-interpolated line had, byte for byte
    Seq(s""""$failed":-1.000""", "\"q04_recent_n\":1.235",
      "\"pass_totals\":[190.100,180.040,181.500]",
      "\"loadavg_at_pass_start\":[0.50,0.25,1.00]",
      "\"quiesce_wait_s\":[0,12,5]", "\"pass_spread\":1.01")
      .foreach(field => assert(line.contains(field), field))
    assert(full.get("duckdb_subset_hint").get("value").asDouble === 600.4)
    val posture = full.get("posture")
    assert(!posture.get("aqe").asBoolean &&
      posture.get("shuffle_partitions").asInt === 8 &&
      posture.get("cores").asInt === 4)
  }

  test("the compact line fits the driver's tail and carries totals only") {
    Seq(results, results.take(10)).foreach { rs =>
      val (_, compact) = artifact(rs)
      assert(compact.getBytes("UTF-8").length <= Bench.CompactMaxBytes)
      assert(mapper.readTree(compact).fieldNames().asScala.toSeq === Seq(
        "metric", "value", "unit", "value_oracle_subset", "oracle_failed",
        "duckdb_subset_hint", "sf", "posture", "pass_spread", "skipped_n",
        "detail"))
    }
  }

  test("source scan: one resultHash, in graft/Force.scala, and no " +
       ".count() in Bench.scala") {
    val defs = SourceScan.files.collect {
      case (f, src) if SourceScan.code(src).contains("def resultHash") => f.getPath
    }
    assert(defs.size === 1 && defs.head.endsWith("graft/Force.scala"),
      "force timed queries with graft.Force.resultHash: " + defs.mkString(", "))
    val bench = SourceScan.files.collectFirst {
      case (f, src) if f.getPath.endsWith("graft/Bench.scala") => src
    }.get
    assert(!bench.contains(".count()"), "Bench forces the full result")
  }
}
