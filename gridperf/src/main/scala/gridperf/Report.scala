package gridperf

/** Per-layer metrics of a traced run, from the spans and the listener.
  *
  * - `<layer>.<call>_ms`: mean self time per call; `sources.fetch_ms`
  *   is the Transport's time per runNasaIngest call.
  * - `<layer>.jobs|tasks|plan_ms|exec_ms|shuffle_bytes|spill_bytes`:
  *   Spark work attributed to the layer's spans (jobs by job tag,
  *   planning by when the query's last planning phase ended), per
  *   traced op.
  * - `storage.*`: bytes the traced ops wrote, that over the payload
  *   bytes they were handed, and the data files in the stores at the end.
  * - workload extras: `cache.*`, `operators.*`, `query.*`,
  *   `trace.overhead_pct`.
  */
object Report {
  val Layers: Seq[String] = Seq("sources", "pipeline", "api", "cache", "operators")
  val SparkCounters: Seq[String] =
    Seq("jobs", "tasks", "plan_ms", "exec_ms", "shuffle_bytes", "spill_bytes")

  /** Every per-layer metric name, in report order. */
  val Names: Seq[String] =
    Seq("pipeline.ingest_ms", "pipeline.clean_ms", "pipeline.marts_ms",
      "sources.fetch_ms", "storage.bytes_written", "storage.write_amp",
      "storage.files.bronze", "storage.files.silver",
      "api.sites_ms", "api.summary_ms", "api.hourly_ms", "api.raw_ms",
      "api.metrics_ms", "api.serialize_ms", "cache.hit_ms", "cache.hit_ratio",
      "cache.lookups") ++
      Layers.flatMap(l => SparkCounters.map(c => s"$l.$c")) ++
      Analytics.Modules.map(m => s"operators.${m}_s") ++
      Analytics.Named.map(q => s"query.${q}_s") ++
      Seq("trace.overhead_pct", "trace.spans")

  private val Units: Map[String, String] = Map(
    "storage.bytes_written" -> "bytes", "storage.write_amp" -> "ratio",
    "storage.files.bronze" -> "count", "storage.files.silver" -> "count",
    "cache.hit_ratio" -> "ratio", "cache.lookups" -> "count",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  def unit(name: String): String = Units.getOrElse(name,
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes" else "count")

  /** The innermost span covering wall-clock millisecond `t`, or 0. */
  def spanAt(spans: Seq[Span], t: Long): Int = {
    val covering = spans.filter(s => s.startMs <= t && t <= s.endMs)
    if (covering.isEmpty) 0 else covering.maxBy(_.startNs).id
  }

  def perLayer(spans: Seq[Span], listener: LayerListener,
               out: Outcome): Seq[(String, Double, String)] = {
    val ops = math.max(out.tracedOps, 1).toDouble
    val self = Spans.selfNs(spans)
    def of(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name)
    def selfMs(ss: Seq[Span]): Double = ss.map(s => self(s.id)).sum / 1e6
    val ingests = math.max(of("pipeline", "ingest").size, 1)
    def perCallMs(ss: Seq[Span]): Double = if (ss.isEmpty) 0.0 else selfMs(ss) / ss.size

    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val counters = listener.countersBySpan.toSeq.flatMap { case (id, c) =>
      layerOf.get(id).map(_ -> c)
    }
    val planned = listener.plannedQueries.flatMap { p =>
      layerOf.get(spanAt(spans, p.atMs)).map(_ -> p.planMs)
    }
    val spark = Layers.flatMap { l =>
      val cs = counters.filter(_._1 == l).map(_._2)
      Seq(
        s"$l.jobs" -> cs.map(_.jobs).sum.toDouble,
        s"$l.tasks" -> cs.map(_.tasks).sum.toDouble,
        s"$l.plan_ms" -> planned.filter(_._1 == l).map(_._2).sum.toDouble,
        s"$l.exec_ms" -> cs.map(_.execMs).sum.toDouble,
        s"$l.shuffle_bytes" -> cs.map(_.shuffleBytes).sum.toDouble,
        s"$l.spill_bytes" -> cs.map(_.spillBytes).sum.toDouble
      ).map { case (k, v) => k -> v / ops }
    }
    val written = counters.map(_._2.bytesWritten).sum.toDouble
    val payload = out.layer.getOrElse("payload_bytes", 0.0)
    // a cache.get span that saw no api child was a hit
    val withChild = spans.filter(_.layer == "api").map(_.parent).toSet
    val gets = of("cache", "get")
    val values: Map[String, Double] = Map(
      "pipeline.ingest_ms" -> perCallMs(of("pipeline", "ingest")),
      "pipeline.clean_ms" -> perCallMs(of("pipeline", "clean")),
      "pipeline.marts_ms" -> perCallMs(of("pipeline", "marts")),
      "sources.fetch_ms" -> selfMs(of("sources", "fetch")) / ingests,
      "storage.bytes_written" -> written / ops,
      "storage.write_amp" -> (if (payload > 0) written / payload else 0.0),
      "api.serialize_ms" -> perCallMs(of("api", "serialize")),
      "cache.hit_ms" -> perCallMs(gets.filterNot(s => withChild(s.id))),
      "trace.spans" -> spans.size.toDouble) ++
      Seq("sites", "summary", "hourly", "raw", "metrics").map(e =>
        s"api.${e}_ms" -> perCallMs(of("api", e))) ++
      spark ++ out.layer
    Names.map(n => (n, values.getOrElse(n, 0.0), unit(n)))
  }
}
