package gridperf

import java.time.LocalDate

import graft.Pipeline
import graft.sources.NasaIngest

/** `backfill`: one op is a full backfill of Sites × Weeks of seeded
  * payloads into a fresh warehouse root — runNasaIngest → refineSilver
  * → buildMarts. Closed loop, one client; the op count is fixed by
  * `--seconds` so both sides of a comparison do the same work. */
object Backfill {
  val Sites = 8
  val Weeks = 1
  val Start: LocalDate = LocalDate.of(2024, 1, 1)
  /** Ops per second of `--seconds`. */
  val OpsPerSecond = 0.3

  def transport(bodies: collection.Map[String, String],
                tracer: Tracer): NasaIngest.Transport = (url, _) =>
    tracer.span("sources", "fetch") {
      bodies.get(url).fold[Either[Throwable, (Int, String)]](Right(404 -> ""))(
        b => Right(200 -> b))
    }

  def apply(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sites = (0 until Sites).map(NasaGen.site)
    val end = Start.plusDays(7L * Weeks - 1)
    val (bodies, days) =
      new NasaGen(ctx.seed).windows(sites.indices, Start, end, 1, clean = false)
    val payloadBytes = bodies.valuesIterator.map(_.length.toLong).sum
    def expectedFor(n: Int): Checks.Store = {
      val e = new Expected
      e.add(days.filter(_.site < n))
      Checks.expected(e)
    }
    val want = expectedFor(Sites)
    val fetchedAt = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val fetch = transport(bodies, ctx.tracer)

    /** One backfill into a fresh root; returns its wall ms and whether
      * the published stores match the generator. */
    def op(i: Int, siteCount: Int = Sites, want: Checks.Store = want): (Double, Boolean) = {
      val wh = Pipeline.Warehouse(s"${ctx.runDir}/backfill-$i")
      val t = ctx.tracer
      val t0 = System.nanoTime()
      val ok = try {
        t.span("op", "backfill") {
          t.span("pipeline", "ingest") {
            Pipeline.runNasaIngest(spark, sites.take(siteCount), Start, end, wh,
              fetchedAt, fetch)
          }
          t.span("pipeline", "clean")(Pipeline.refineSilver(spark, wh))
          t.span("pipeline", "marts")(Pipeline.buildMarts(spark, wh))
        }
        true
      } catch { case e: Exception => System.err.println(s"backfill op $i: $e"); false }
      val ms = (System.nanoTime() - t0) / 1e6
      val correct = ok && {
        val got = Checks.store(spark, wh)
        if (got != want) System.err.println(s"backfill op $i: got $got, want $want")
        got == want
      }
      (ms, correct)
    }

    // set-up: one untimed two-site op warms the JIT and the write path
    ctx.tracer.on = false
    val (_, warmOk) = op(0, 2, expectedFor(2))
    Workloads.rmTree(s"${ctx.runDir}/backfill-0")

    val n = math.max(3, math.round(ctx.seconds * OpsPerSecond).toInt)
    var files = (0.0, 0.0)
    ctx.timedStart()
    // a traced run traces every other op; the ops do the same work, so
    // the traced and untraced ops' medians give the tracing overhead
    val results = (1 to n).map { i =>
      ctx.tracer.op = i
      ctx.tracer.on = ctx.trace && i % 2 == 0
      val r = op(i)
      if (i == n) files = Workloads.storeFiles(Pipeline.Warehouse(s"${ctx.runDir}/backfill-$i"))
      Workloads.rmTree(s"${ctx.runDir}/backfill-$i")
      r
    }
    val opMs = results.map(_._1)
    val passS = opMs.sum / 1000.0
    val failed = results.count(!_._2) + (if (warmOk) 0 else 1)
    val rowsPerS = n * want.bronzeRows / passS
    val traced = (1 to n).count(_ % 2 == 0)
    val tracedMs = opMs.indices.filter(_ % 2 == 1).map(opMs) // ops 2, 4, ...
    val untracedMs = opMs.indices.filter(_ % 2 == 0).map(opMs)
    Outcome(opMs, passS, n + 1, failed, traced,
      Map("payload_bytes" -> payloadBytes.toDouble * traced,
        "storage.files.bronze" -> files._1, "storage.files.silver" -> files._2,
        "trace.overhead_pct" ->
          (Stats.median(tracedMs) / Stats.median(untracedMs) - 1) * 100),
      f"backfill: S=$Sites%d sites x W=$Weeks%d weeks, ${want.bronzeRows}%d bronze / " +
        f"${want.silverRows}%d silver rows per op, ops=$n%d, " +
        f"backfill_p50_s=${Stats.median(opMs) / 1000}%.3f s, rows_per_s=$rowsPerS%.1f 1/s, " +
        f"pass_s=$passS%.3f s")
  }
}
