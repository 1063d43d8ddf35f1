package gridperf

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, functions}

import graft.{Pipeline, ResultCache}
import graft.operators.WeatherApi

/** `live`: a dashboard over a warehouse built during set-up, driven by
  * a schedule in logical time. Every tick is one page load (sites,
  * summary, recentHours, recentRaw, metrics — each through one
  * ResultCache and serialized with toJsonRows + collect); every
  * `WriteEvery`-th tick, tick 0 included, first lands one late-data
  * write (1-day window for `SitesPerWrite` sites, alternately a new day
  * and a revision of an existing day) through runNasaIngest →
  * refineSilverPartitions → refreshMarts → invalidate. Set-up runs the
  * first `WarmTicks` ticks untimed on the same cache, so the timed
  * ticks meet a cache in the state the schedule left it in. Closed
  * loop, one client on the driver thread. The cache clock reads each
  * tick's scheduled time, so hits and misses follow from the schedule
  * alone, not from engine speed. */
object Live {
  val Sites = 8
  val BaseDays = 2
  val Start: LocalDate = LocalDate.of(2024, 1, 1)
  /** The reference dashboard's cache TTL. */
  val TtlMs = 60000L
  val TickMs = 2000L
  val WriteEvery = 20
  val WarmTicks = 6
  val SitesPerWrite = 3
  /** The plain Zipf law over the sites. */
  val ZipfExponent = 1.0
  val Hours: Seq[Int] = Seq(24, 72, 168, 336)
  /** Timed ticks per second of `--seconds`. */
  val TicksPerSecond = 2

  final case class Page(site: Int, hours: Int)

  def apply(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val gen = new NasaGen(ctx.seed)
    val expected = new Expected
    val wh = Pipeline.Warehouse(s"${ctx.runDir}/live")
    val sites = (0 until Sites).map(NasaGen.site)
    val bodies = mutable.HashMap.empty[String, String]
    val fetch = Backfill.transport(bodies, t)

    // set-up: the warehouse the dashboard reads
    val lastBase = Start.plusDays(BaseDays - 1L)
    val (base, baseDays) = gen.windows(sites.indices, Start, lastBase, 1, clean = false)
    bodies ++= base
    expected.add(baseDays)
    Pipeline.runNasaIngest(spark, sites, Start, lastBase, wh,
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), fetch)
    Pipeline.refineSilver(spark, wh)
    Pipeline.buildMarts(spark, wh)
    bodies.clear()
    ctx.mark("base warehouse built")

    val rng = new Random(ctx.seed)
    val zipf = {
      val w = (1 to Sites).map(r => math.pow(r, -ZipfExponent))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    // tick i's page is a quasi-random draw from golden-ratio (Weyl)
    // sequences: the same Zipf site mix and hours mix for every seed, so
    // the cache's hits and misses do not depend on the seed; the seed
    // sets the payload values and the late writes
    def page(i: Int): Page = {
      def frac(x: Double) = x - math.floor(x)
      val u = frac((i + 1) * 0.6180339887498949)
      val v = frac(0.5 + (i + 1) * 0.4142135623730951)
      Page(zipf.indexWhere(_ >= u) max 0, Hours((v * Hours.size).toInt))
    }
    var nextDay = lastBase.plusDays(1)
    var now = 0L
    var cache = new ResultCache(TtlMs, clock = () => now)
    var failed = 0
    var payloadBytes = 0L

    /** One late-data write; returns its freshness latency in ms. */
    def write(w: Int): Double = {
      val chosen = rng.shuffle(sites.indices.toList).take(SitesPerWrite).sorted
      val revise = w % 2 == 1
      val day =
        if (revise) Start.plusDays(rng.nextInt(
          (nextDay.toEpochDay - Start.toEpochDay).toInt).toLong)
        else { val d = nextDay; nextDay = nextDay.plusDays(1); d }
      // a revision is a correction feed: complete, in-range values
      val (late, days) = gen.windows(chosen, day, day, w + 2, clean = revise)
      bodies ++= late
      if (t.on) payloadBytes += late.valuesIterator.map(_.length.toLong).sum
      val fetchedAt = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 6, 1, 0, 0).plusMinutes(w + 1L))
      val touched = Seq(java.sql.Date.valueOf(day))
      val t0 = System.nanoTime()
      try t.span("op", "write") {
        t.span("pipeline", "ingest") {
          Pipeline.runNasaIngest(spark, chosen.map(sites), day, day, wh, fetchedAt, fetch)
        }
        t.span("pipeline", "clean")(Pipeline.refineSilverPartitions(spark, wh, touched))
        t.span("pipeline", "marts")(Pipeline.refreshMarts(spark, wh, touched))
        t.span("cache", "invalidate")(cache.invalidate())
        expected.add(days)
      } catch { case e: Exception => System.err.println(s"live write $w: $e"); failed += 1 }
      val ms = (System.nanoTime() - t0) / 1e6
      bodies.clear()
      ms
    }

    /** Per timed call: latency, whether the cache served it, and
      * whether it ran traced. */
    final case class Call(ms: Double, hit: Boolean, traced: Boolean)
    val calls = mutable.ArrayBuffer.empty[Call]
    var recording = false

    /** One cached endpoint call: the miss path materializes the query
      * inside its `api` span, then the result is serialized. */
    def call(endpoint: String, key: String)(query: => DataFrame): Array[String] = {
      val misses = cache.stats._2
      val t0 = System.nanoTime()
      val df = t.span("cache", "get") {
        cache(spark, key) {
          t.span("api", endpoint) {
            val q = query
            spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
          }
        }
      }
      val rows = t.span("api", "serialize")(WeatherApi.toJsonRows(df).collect())
      if (recording)
        calls += Call((System.nanoTime() - t0) / 1e6, cache.stats._2 == misses, t.on)
      rows
    }

    /** One page load; returns its latency and the rows each call served. */
    def load(p: Page): (Double, Seq[Array[String]]) = {
      val s = sites(p.site).name
      val t0 = System.nanoTime()
      // the stores are read on the miss path only
      def bronze = spark.read.parquet(wh.bronze)
      def silver = spark.read.parquet(wh.silver)
      val out = t.span("op", "page") {
        Seq(
          call("sites", "sites")(WeatherApi.sites(bronze)),
          call("summary", s"summary:$s")(WeatherApi.summary(silver, Some(s))),
          call("hourly", s"hourly:$s:${p.hours}")(
            WeatherApi.recentHours(bronze, silver, s, p.hours)),
          call("raw", s"raw:$s:${p.hours}")(WeatherApi.recentRaw(bronze, s, p.hours)),
          call("metrics", s"metrics:$s")(WeatherApi.metrics(bronze, silver, s)))
      }
      ((System.nanoTime() - t0) / 1e6, out)
    }

    def tryLoad(p: Page): (Double, Seq[Array[String]]) = {
      val t0 = System.nanoTime()
      try load(p)
      catch { case e: Exception =>
        System.err.println(s"live page $p: $e")
        ((System.nanoTime() - t0) / 1e6, Nil)
      }
    }

    /** Row counts (and the count fields of summary/metrics) against the
      * generator's state; an empty result stands for a failed load. */
    def pageOk(p: Page, rows: Seq[Array[String]]): Boolean = rows.nonEmpty && {
      val (b, s) = expected.perSite.getOrElse(p.site, (0, 0))
      def field(json: String, name: String): Long =
        ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(json).fold(-1L)(_.group(1).toLong)
      rows.map(_.length) == Seq(Sites, 1, math.min(p.hours, s), math.min(p.hours, b), 1) &&
        field(rows(1)(0), "row_count") == s &&
        field(rows(4)(0), "raw_rows") == b && field(rows(4)(0), "fact_rows") == s
    }

    val pageMs = mutable.ArrayBuffer.empty[Double]
    val freshMs = mutable.ArrayBuffer.empty[Double]
    var writes = 0
    var op = 0
    /** Schedule tick `i`: a late write on every `WriteEvery`-th tick,
      * then one page load. */
    def tick(i: Int): Unit = {
      now = i * TickMs
      if (i % WriteEvery == 0) {
        t.op = op; op += 1
        val ms = write(writes)
        if (recording) freshMs += ms
        writes += 1
      }
      val p = page(i)
      t.op = op; op += 1
      val (ms, rows) = tryLoad(p)
      if (recording) pageMs += ms
      if (!pageOk(p, rows)) failed += 1
    }

    // set-up: the schedule's first ticks, untimed, warm the read and
    // write paths and leave the cache in the schedule's own state
    t.on = false
    (0 until WarmTicks).foreach(tick)
    val warmWrites = writes
    val timedTicks = WarmTicks until WarmTicks + ctx.seconds * TicksPerSecond

    // a traced run traces every timed op
    t.on = ctx.trace
    recording = true
    ctx.mark("warm-up done")
    ctx.timedStart()
    val passStart = System.nanoTime()
    timedTicks.foreach(tick)
    val passS = (System.nanoTime() - passStart) / 1e9
    recording = false
    t.on = false
    ctx.mark("timed schedule done")

    // tracing overhead on matched work: the first timed pages replayed
    // with a fresh cache at their scheduled times, untraced, traced,
    // traced, untraced (so a drift over the four passes cancels); the
    // replay's spans are dropped
    val overhead = if (!ctx.trace) 0.0 else {
      val keep = t.spans.size
      val replay = timedTicks.take(4)
      def pass(traced: Boolean): Double = {
        cache = new ResultCache(TtlMs, clock = () => now)
        t.on = traced
        val t0 = System.nanoTime()
        replay.foreach { i => now = i * TickMs; tryLoad(page(i)) }
        t.on = false
        (System.nanoTime() - t0) / 1e6
      }
      val u1 = pass(traced = false)
      val t1 = pass(traced = true)
      val t2 = pass(traced = true)
      val u2 = pass(traced = false)
      t.spans.remove(keep, t.spans.size - keep)
      ((t1 + t2) / (u1 + u2) - 1) * 100
    }

    // after the run: the incrementally maintained Silver and marts must
    // equal a full refineSilver + buildMarts over a copy of the same Bronze
    val full = Pipeline.Warehouse(s"${ctx.runDir}/live-full")
    copyTree(Paths.get(wh.bronze), Paths.get(full.bronze))
    Pipeline.refineSilver(spark, full)
    Pipeline.buildMarts(spark, full)
    def same(a: String, b: String): Boolean = {
      val x = spark.read.parquet(a)
      val y = spark.read.parquet(b).select(x.columns.toSeq.map(functions.col): _*)
      Checks.resultHash(x) == Checks.resultHash(y)
    }
    val invariant = same(wh.silver, full.silver) &&
      same(wh.martFeatures, full.martFeatures) && same(wh.martKpis, full.martKpis)
    val store = Checks.store(spark, wh)
    val counts = store.bronzeRows == expected.bronzeRows &&
      store.silverRows == expected.silverRows
    if (!invariant) System.err.println("live: incremental stores differ from a full rebuild")
    if (!counts) System.err.println(s"live: store $store vs generator " +
      s"${expected.bronzeRows}/${expected.silverRows}")
    if (!invariant || !counts) failed += 1

    val files = Workloads.storeFiles(wh)
    val callMs = calls.map(_.ms).toSeq
    val hitShare = calls.count(_.hit).toDouble / calls.size
    val traced = calls.toSeq.filter(_.traced)
    // one op is one page load; attempted also counts the writes and the
    // end-of-run store check
    Outcome(pageMs.toSeq, passS, op + 1, failed, if (ctx.trace) op - WarmTicks - warmWrites else 0,
      Map("storage.files.bronze" -> files._1, "storage.files.silver" -> files._2,
        "cache.lookups" -> traced.size.toDouble,
        "cache.hit_ratio" ->
          (if (traced.isEmpty) 0.0 else traced.count(_.hit).toDouble / traced.size),
        "payload_bytes" -> payloadBytes.toDouble,
        "trace.overhead_pct" -> overhead),
      f"live: S=$Sites%d sites, ${timedTicks.size}%d timed page loads, " +
        f"${writes - warmWrites}%d timed writes, " +
        f"${calls.size}%d calls (cache hit share $hitShare%.3f; p50 at rank 0.50 and " +
        f"p95 at rank 0.95 of the call latencies), " +
        f"call_p50_ms=${Stats.median(callMs)}%.1f ms, call_p95_ms=${Stats.percentile(callMs, 95)}%.1f ms, " +
        f"read_p50_ms=${Stats.median(pageMs.toSeq)}%.1f ms, " +
        f"read_p95_ms=${Stats.percentile(pageMs.toSeq, 95)}%.1f ms (page loads, n=${pageMs.size}%d), " +
        f"fresh_p50_ms=${if (freshMs.isEmpty) Double.NaN else Stats.median(freshMs.toSeq)}%.1f ms " +
        f"(n=${freshMs.size}%d), pass_s=$passS%.3f s")
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val files = Files.walk(from)
    try files.forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }
}
