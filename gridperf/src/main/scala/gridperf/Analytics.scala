package gridperf

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `analytics`: one op is one SparkEntry query over sf0.1. Each op is
  * forced by an order-independent hash over every column of the full
  * result, and the hash is checked against `expected-sf0.1.tsv`
  * (produced from this tree) after the pass. The order is fixed: the
  * first query of the dedup family builds the sf0.1 state the others
  * share, so a seeded order moves seconds between queries (the slowest
  * query read 8.2–12.6 s over five seeds) and would swamp the per-query
  * figures. The engine's published state (memos keyed by directory) is
  * cold at the first op, as for a fresh snapshot. Closed loop, one
  * client. */
object Analytics {

  /** The fixed query subset and the module each query exercises. */
  val Queries: Seq[(String, String)] = Seq(
    "q06_priority_revenue" -> "relational",
    "q25_site_means" -> "weather",
    "q30_forecast_ml" -> "forecast",
    "q41_quality_score" -> "textops",
    "q62_dedup_clusters" -> "dedup",
    "q76_training_corpus" -> "corpus",
    "q89_incremental_dedup" -> "dedup",
    "q110_gated_ivf" -> "vectorops",
    "q114_nb_classifier" -> "classify",
    "q128_crossmodal_dedup" -> "multimodal",
    "q132_incremental_prefixjac" -> "dedup",
    "q140_containment_keep" -> "dedup")

  val Modules: Seq[String] = Seq("relational", "weather", "forecast", "textops",
    "classify", "multimodal", "dedup", "corpus", "vectorops")

  /** Queries that get their own `query.<id>_s` metric. */
  val Named: Seq[String] = Seq("q76", "q132", "q89", "q128", "q140", "q62", "q110")

  val Scale = "sf0.1"
  val WarmUp = "q62_dedup_clusters"

  def expectedFile: String =
    Paths.get(sys.props.getOrElse("gridperf.home", "gridperf"), s"expected-$Scale.tsv").toString

  def short(q: String): String = q.takeWhile(_ != '_')

  private def hash(ctx: Ctx, q: String): String =
    Checks.resultHash(SparkEntry.queries(q)(ctx.spark, s"${ctx.dataDir}/$Scale"))

  def apply(ctx: Ctx): Outcome = {
    val want = Files.readAllLines(Paths.get(expectedFile)).asScala
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1)).toMap

    // set-up: one query on the smallest fixture warms the JIT's common
    // paths (scan, shuffle, codegen, hashing); its memos are keyed by
    // that fixture's directory, so nothing of sf0.1 is prebuilt
    Checks.resultHash(SparkEntry.queries(WarmUp)(ctx.spark, s"${ctx.dataDir}/sf0.001"))
    ctx.mark("warm-up done")
    ctx.timedStart()
    val timed = Queries.zipWithIndex.map { case ((q, m), i) =>
      ctx.tracer.op = i
      ctx.tracer.on = ctx.trace
      val t0 = System.nanoTime()
      val got = try ctx.tracer.span("operators", m)(hash(ctx, q))
        catch { case e: Exception => s"error: $e" }
      (q, m, (System.nanoTime() - t0) / 1e6, got)
    }
    ctx.tracer.on = false
    ctx.mark("timed pass done")
    val failed = timed.count { case (q, _, _, got) =>
      val ok = want.get(q).contains(got)
      if (!ok) System.err.println(s"analytics: $q hashed $got, expected ${want.get(q)}")
      !ok
    }

    // a traced run measures the tracing overhead on more (memo-warm)
    // passes over the three quickest queries: one untimed pass, whose
    // first re-run is slower than the rest, then untraced, traced,
    // traced, untraced, so a drift over the passes cancels; their spans
    // are dropped
    val overhead = if (!ctx.trace) 0.0 else {
      val keep = ctx.tracer.spans.size
      val quick = timed.sortBy(_._3).take(3)
      def pass(traced: Boolean): Double = {
        ctx.tracer.on = traced
        val t0 = System.nanoTime()
        quick.foreach { case (q, m, _, _) => ctx.tracer.span("operators", m)(hash(ctx, q)) }
        ctx.tracer.on = false
        (System.nanoTime() - t0) / 1e6
      }
      pass(traced = false)
      val u1 = pass(traced = false)
      val t1 = pass(traced = true)
      val t2 = pass(traced = true)
      val u2 = pass(traced = false)
      ctx.tracer.spans.remove(keep, ctx.tracer.spans.size - keep)
      ((t1 + t2) / (u1 + u2) - 1) * 100
    }

    val opMs = timed.map(_._3)
    val passS = opMs.sum / 1000.0
    val perModule = Modules.map(m => s"operators.${m}_s" ->
      timed.filter(_._2 == m).map(_._3).sum / 1000.0)
    val perQuery = Named.map(n => s"query.${n}_s" ->
      timed.find(x => short(x._1) == n).fold(0.0)(_._3 / 1000.0))
    Outcome(opMs, passS, Queries.size, failed,
      tracedOps = if (ctx.trace) 1 else 0,
      (perModule ++ perQuery).toMap ++ Map("trace.overhead_pct" -> overhead),
      f"analytics: ${Queries.size}%d queries on $Scale, pass_s=$passS%.3f s, " +
        f"query_p50_ms=${Stats.median(opMs)}%.1f ms; " +
        timed.map(x => f"${short(x._1)}%s=${x._3 / 1000}%.2f").mkString(" "))
  }

  /** Writes the result hashes of the subset (the check file). */
  def writeExpected(ctx: Ctx, out: String): Unit = {
    val lines = Queries.map { case (q, _) => q + "\t" + hash(ctx, q) }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
