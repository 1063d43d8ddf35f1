package gridperf

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, layer: String, name: String,
                   start: Long, end: Long) =
    Span(id, parent, 1, layer, name, start * 1000000L, end * 1000000L, start, end)

  test("the report names exactly the per-layer metrics BENCHMARK.json lists") {
    val json = new String(Files.readAllBytes(Paths.get("../BENCHMARK.json")), "UTF-8")
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val listed = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSeq
    assert(listed === Report.Names)
    assert(Report.Names.distinct.size === Report.Names.size)
  }

  test("a Spark event lands in the innermost span covering its time") {
    val spans = Seq(
      span(1, 0, "op", "write", 0, 100),
      span(2, 1, "pipeline", "ingest", 10, 40),
      span(3, 2, "sources", "fetch", 12, 14))
    assert(Report.spanAt(spans, 13) === 3)
    assert(Report.spanAt(spans, 20) === 2)
    assert(Report.spanAt(spans, 50) === 1)
    assert(Report.spanAt(spans, 150) === 0)
  }

  test("span metrics: mean self time per call") {
    val spans = Seq(
      span(1, 0, "op", "write", 0, 100),
      span(2, 1, "pipeline", "ingest", 0, 60),
      span(3, 2, "sources", "fetch", 0, 10),
      span(4, 0, "op", "page", 100, 200),
      span(5, 4, "cache", "get", 100, 150),
      span(6, 5, "api", "summary", 110, 150),
      span(7, 4, "cache", "get", 150, 152),
      span(8, 4, "api", "serialize", 152, 160))
    val out = Outcome(Seq(1.0), 1.0, 1, 0, tracedOps = 2, Map.empty, "")
    val m = Report.perLayer(spans, new LayerListener, out).map(x => x._1 -> x._2).toMap
    assert(m("pipeline.ingest_ms") === 50.0) // 60 ms less the 10 ms fetch
    assert(m("sources.fetch_ms") === 10.0) // per runNasaIngest call
    assert(m("api.summary_ms") === 40.0)
    assert(m("api.serialize_ms") === 8.0)
    assert(m("cache.hit_ms") === 2.0) // the get without an api child
    assert(m("trace.spans") === 8.0)
  }
}
