package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.syntax._

/** The reference's query/API surface as a query library (SURVEY §2.1
  * S8/S9, §2.3 P5, §2.6 W1/W4, §3.3; fastapi/app/main.py) — each
  * endpoint is a named function over the medallion tables, returning a
  * DataFrame (engine layer) or a JSON row set (serialization layer).
  * FastAPI/HTTP itself is out of engine scope; everything the
  * endpoints *compute* is here.
  *
  * Job budgets. A dashboard call is a tiny result, so its latency is
  * scheduler round trips, not data: each endpoint below states how many
  * Spark jobs it runs (AQE off, the bench posture; AQE adds one job per
  * shuffle stage). An endpoint that validates a site already runs a job
  * when called, so it returns its materialized rows as a local relation
  * and the caller's `collect()` runs no second job. `toJsonRows` over a
  * local relation (a `ResultCache` snapshot) runs none.
  */
object WeatherApi {

  /** Unknown-site error — the 404 path (main.py:221-222). */
  final case class UnknownSiteException(site: String)
      extends IllegalArgumentException(s"unknown site: $site")

  /** `hours` bound [1, 336] (W4; main.py:215,240). */
  val MaxHours = 336
  def clampHours(h: Int): Int = math.max(1, math.min(MaxHours, h))

  /** GET /sites — A2 distinct list. The reference reads the site list
    * from BRONZE (`SELECT DISTINCT site FROM raw_weather`,
    * main.py:74-77) — a site whose rows were all dropped by cleaning
    * still exists for the API. Pass the Bronze table here.
    *
    * Budget: 1 job. A hash distinct, then one sorted partition: a
    * global `orderBy` would add the range partitioner's sampling job
    * for a list of a few names. */
  def sites(bronze: DataFrame): DataFrame =
    bronze.select($"site").distinct().coalesce(1).sortWithinPartitions($"site")

  /** `site` is in the site column — null-safe, as a membership test. */
  private def member(site: String): Column = $"site" <=> lit(site)

  /** Membership validation (P5): throws the 404 analogue when the site
    * list is non-empty and doesn't contain `site`. `siteSource` should
    * be Bronze to match the reference's fetch_sites.
    *
    * Budget: 1 job, one probe aggregate. `max` over the membership
    * flag is null on an empty source, else whether any row matched. */
  def requireSite(siteSource: DataFrame, site: String): Unit = {
    val known = siteSource.agg(max(member(site))).collect()(0)
    if (!known.isNullAt(0) && !known.getBoolean(0))
      throw UnknownSiteException(site)
  }

  /** GET / (root) — A1 summary: count / min ts / max ts, optional site
    * filter; empty input → (0, null, null) (main.py:81-104).
    *
    * Budget: 1 job, when the caller collects. */
  def summary(table: DataFrame, site: Option[String] = None): DataFrame =
    site.fold(table)(s => table.filter($"site" === s))
      .agg(count(lit(1)).as("row_count"),
           min($"ts_utc").as("min_ts"),
           max($"ts_utc").as("max_ts"))

  /** GET /weather/hourly — W1 recent-N slice re-sorted chronological
    * (main.py:108-134): TakeOrderedAndProject top-k, then an ASC sort
    * over ≤336 rows. Site membership is validated against Bronze
    * (main.py:220-222) — a fully-dropped site yields 200 + empty rows,
    * not a 404. Silver rows prove nothing about Bronze, so the probe
    * always runs.
    *
    * Budget: 2 jobs at call time (probe, slice); the returned local
    * relation runs none. An unknown site fails after the probe alone. */
  def recentHours(bronze: DataFrame, silver: DataFrame, site: String,
                  hours: Int): DataFrame = {
    requireSite(bronze, site)
    val n = clampHours(hours)
    val slice = silver.filter($"site" === site)
      .orderBy($"ts_utc".desc)
      .limit(n)
      .orderBy($"ts_utc".asc)
    local(slice, slice.collect())
  }

  /** GET /weather/raw — same slice over Bronze, same 404 validation
    * (main.py:238-255).
    *
    * Budget: 1 job at call time when the slice is non-empty — its rows
    * are Bronze rows of `site`, which proves membership; an empty slice
    * adds the probe. The returned local relation runs none. */
  def recentRaw(bronze: DataFrame, site: String, hours: Int): DataFrame = {
    val n = clampHours(hours)
    val slice = bronze.filter($"site" === site)
      .orderBy($"ts_utc".desc, $"ingest_seq".desc)
      .limit(n)
      .orderBy($"ts_utc".asc, $"ingest_seq".asc)
    val rows = slice.collect()
    if (rows.isEmpty) requireSite(bronze, site)
    local(slice, rows)
  }

  /** GET /weather/metrics — A8 raw-vs-clean KPIs for one site
    * (main.py:262-289): kept_pct null-safe on zero raw rows, dropped
    * clamped at 0.
    *
    * Budget: 1 job at call time — one aggregate over Bronze ∪ Silver
    * yields the row counts and the membership check together; the
    * returned one-row local relation runs none. */
  def metrics(bronze: DataFrame, silver: DataFrame, site: String): DataFrame = {
    def rows(p: Column) = count(when(p, lit(1)))
    val kpis = bronze.select(lit(true).as("bronze"), $"site")
      .union(silver.select(lit(false).as("bronze"), $"site"))
      .agg(rows($"bronze").as("bronze_rows"),
           rows($"bronze" && member(site)).as("known"),
           rows($"bronze" && $"site" === site).as("raw_rows"),
           rows(!$"bronze" && $"site" === site).as("fact_rows"))
      .select(
        lit(site).as("site"), $"raw_rows", $"fact_rows",
        when($"raw_rows" === 0, lit(null).cast(DoubleType))
          .otherwise($"fact_rows".cast(DoubleType) / $"raw_rows" * 100)
          .as("kept_pct"),
        greatest($"raw_rows" - $"fact_rows", lit(0L)).as("dropped_rows"),
        $"bronze_rows", $"known")
    val r = kpis.collect()(0)
    if (r.getAs[Long]("bronze_rows") > 0 && r.getAs[Long]("known") == 0)
      throw UnknownSiteException(site)
    val out = kpis.drop("bronze_rows", "known")
    local(out, Array(Row.fromSeq(r.toSeq.take(out.columns.length))))
  }

  /** `rows` of `df` as a local relation with `df`'s schema: actions on
    * it fold at plan time and run no job. */
  private def local(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  // ---------------------------------------------------------------
  // S8 — REST JSON result serialization: ISO-8601 timestamps (F4,
  // main.py:22-23), one JSON object per row.
  // ---------------------------------------------------------------

  /** Timestamp columns → ISO-8601 strings (null-safe), then JSON rows.
    * Byte-level parity with Python `datetime.isoformat()`
    * (main.py:22-23): the UTC offset renders as "+00:00" (not "Z"),
    * and microseconds appear as exactly 6 digits iff non-zero.
    *
    * Budget: the JSON is one projection (`to_json` over a struct of
    * every column), so over a local relation — a `ResultCache`
    * snapshot — the optimizer folds it and `collect()` runs no job.
    * `Dataset.toJSON` writes the same bytes but through an RDD
    * `mapPartitions`, one job per call. */
  def toJsonRows(df: DataFrame): Dataset[String] =
    isoTimestamps(df).select(to_json(struct(col("*"))).as("value"))
      .as(Encoders.STRING)

  private[graft] def isoTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.dataType == TimestampType =>
        val micros = pmod(expr(s"unix_micros(`${f.name}`)"), lit(1000000L))
        acc.withColumn(f.name, concat(
          date_format(col(f.name), "yyyy-MM-dd'T'HH:mm:ss"),
          when(micros =!= 0, format_string(".%06d", micros)).otherwise(""),
          date_format(col(f.name), "xxx")))
      case (acc, _) => acc
    }

  // ---------------------------------------------------------------
  // S2 — chunked window planner (nasa.py:160-177): split [start, end]
  // into ≤chunkDays windows; end >= start enforced.
  // ---------------------------------------------------------------

  def ingestWindows(start: LocalDate, end: LocalDate,
                    chunkDays: Int = 7): Seq[(LocalDate, LocalDate)] = {
    require(!end.isBefore(start), s"end $end before start $start")
    require(chunkDays >= 1, "chunkDays must be >= 1")
    Iterator.iterate(start)(_.plusDays(chunkDays.toLong))
      .takeWhile(!_.isAfter(end))
      .map(s => s -> Seq(s.plusDays(chunkDays.toLong - 1), end).min)
      .toSeq
  }

  // ---------------------------------------------------------------
  // F8 — KPI number formatting (streamlit/app.py:313-327): thousands
  // separators, 0/1 decimal places by magnitude, null → "--", signed
  // percent with pos/neg/neutral bucket.
  // ---------------------------------------------------------------

  def formatMetric(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull || isnan(c), lit("--"))
      .when(abs(c) >= 100, format_number(c, 0))
      .otherwise(format_number(c, 1))

  /** _format_delta magnitude (app.py:320-327): '+' for ALL deltas
    * ≥ 0 (so "+0.0%"), plain %.1f (no thousands separator — unlike
    * formatMetric), null/NaN → "N/A". */
  def formatPct(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull || isnan(c), lit("N/A"))
      .otherwise(concat(
        when(c >= 0, "+").otherwise(""), format_string("%.1f", c), lit("%")))

  /** _format_delta status strings (app.py:326). */
  def pctBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull || isnan(c), "neutral")
      .when(c > 0, "positive").when(c < 0, "negative").otherwise("neutral")
}
