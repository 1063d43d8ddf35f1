package graft.sources

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonProcessingException}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.syntax._

/** NASA-POWER-style payload relationalization (SURVEY §2.2, J1–J3;
  * reference parser at fastapi/app/etl/nasa.py:58-108): nested
  * `properties.parameter.<PARAM>` series in TWO encodings —
  * `"YYYYMMDD" -> [24 hourly floats]` (list form) and
  * `"YYYYMMDDHH" -> float` (scalar form) — normalized per key (mixed
  * encodings within one parameter survive), malformed keys skipped,
  * then full-outer-aligned on the hour axis with one column per
  * parameter and a traceability `raw_json` blob (S7, nasa.py:106).
  *
  * As in the reference, one process fetches and parses: the driver
  * that holds the bodies parses them row by row with the Jackson that
  * ships with Spark and hands the rows on as a local relation, so no
  * parse plan, shuffle or sort runs. Payloads that already live in a
  * DataFrame reach the same parser through one typed `flatMap`.
  */
object NasaIngest {

  val Params: Seq[String] = Seq("ALLSKY_SFC_SW_DWN", "T2M", "WS10M")

  /** S1 — NASA POWER hourly point-endpoint URL (nasa.py:34-46). The
    * HTTP GET itself stays a driver-side concern behind any transport;
    * the engine owns the request construction and the parse. */
  def powerUrl(lat: Double, lon: Double,
               startYyyymmdd: String, endYyyymmdd: String): String = {
    val base = "https://power.larc.nasa.gov/api/temporal/hourly/point"
    val params = Seq(
      "parameters" -> Params.mkString(","),
      "community" -> "RE",
      "longitude" -> lon.toString,
      "latitude" -> lat.toString,
      "start" -> startYyyymmdd,
      "end" -> endYyyymmdd,
      "format" -> "JSON",
      "time-standard" -> "UTC")
    base + "?" + params.map { case (k, v) => s"$k=$v" }.mkString("&")
  }

  // ---------------------------------------------------------------
  // S1 transport — the engine-side counterpart of fetch_power's
  // GET + 60 s timeout + raise_for_status (nasa.py:50-54). The wire
  // call is pluggable so the error paths are unit-testable without
  // network (mirroring tests/test_fetch_json.py:28-41); the default
  // transport is a plain HttpURLConnection GET.
  // ---------------------------------------------------------------

  sealed trait FetchError { def url: String }
  /** Non-2xx response — raise_for_status's analogue. */
  final case class HttpStatusError(url: String, code: Int) extends FetchError
  /** Connect/read failure or timeout. */
  final case class TransportFailure(url: String, cause: Throwable) extends FetchError

  /** (url, timeoutMs) → (status, body) or the underlying exception. */
  type Transport = (String, Int) => Either[Throwable, (Int, String)]

  val DefaultTimeoutMs = 60000

  /** Default wire transport (driver-side, like the reference's
    * requests.get). */
  val httpTransport: Transport = (url, timeoutMs) =>
    try {
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setConnectTimeout(timeoutMs)
        conn.setReadTimeout(timeoutMs)
        conn.setRequestMethod("GET")
        val code = conn.getResponseCode
        val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body =
          if (stream == null) ""
          else try new String(stream.readAllBytes(),
                              java.nio.charset.StandardCharsets.UTF_8)
          finally stream.close()
        Right(code -> body)
      } finally conn.disconnect() // also on timeout/reset — no fd leak
    } catch { case e: Throwable => Left(e) }

  /** GET `url`, propagating timeouts/transport failures and non-2xx
    * statuses as typed errors; the body comes back only on success —
    * exactly fetch_power's contract, minus the exception control
    * flow. */
  def fetch(url: String, timeoutMs: Int = DefaultTimeoutMs,
            transport: Transport = httpTransport): Either[FetchError, String] =
    transport(url, timeoutMs) match {
      case Left(e) => Left(TransportFailure(url, e))
      case Right((code, body)) if code >= 200 && code < 300 => Right(body)
      case Right((code, _)) => Left(HttpStatusError(url, code))
    }

  /** One hour of one site, aligned across the three parameters (J3):
    * a measure is None where its parameter has no entry for the hour
    * or its entry is null. */
  final case class Reading(site: String, ts: Instant,
                           ghi_wm2: Option[Double], t2m_c: Option[Double],
                           ws10_mps: Option[Double])

  /** Spark's own JSON reading options (`from_json`'s defaults): single
    * quotes and the NaN/Infinity tokens are accepted. */
  private lazy val json = new ObjectMapper(new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build())

  private def tree(text: String): Option[JsonNode] =
    try Option(json.readTree(text)) catch { case _: JsonProcessingException => None }

  /** A parameter's series or a list-form value may arrive as a JSON
    * string that holds the JSON: it is read as that JSON. */
  private def unwrap(v: JsonNode): Option[JsonNode] =
    if (v.isTextual) tree(v.asText) else Some(v)

  /** A `YYYYMMDD` or `YYYYMMDDHH` key of ASCII digits as a local
    * date-time, if it names a valid day (and hour). */
  private def keyTime(k: String): Option[LocalDateTime] =
    if (k.length != 8 && k.length != 10 || !k.forall(c => c >= '0' && c <= '9')) None
    else try {
      val day = LocalDate.of(k.take(4).toInt, k.slice(4, 6).toInt, k.slice(6, 8).toInt)
      Some(if (k.length == 8) day.atStartOfDay else day.atTime(k.drop(8).toInt, 0))
    } catch { case _: java.time.DateTimeException => None }

  /** A list-form element: a number, null, or one of the NaN/Infinity
    * strings; anything else voids the whole list, as `from_json` to
    * `array<double>` does. */
  private def listElement(e: JsonNode): Option[Option[Double]] =
    if (e.isNumber) Some(Some(e.doubleValue))
    else if (e.isNull) Some(None)
    else if (!e.isTextual) None
    else e.asText match {
      case "NaN" => Some(Some(Double.NaN))
      case "+INF" | "+Infinity" | "Infinity" => Some(Some(Double.PositiveInfinity))
      case "-INF" | "-Infinity" => Some(Some(Double.NegativeInfinity))
      case _ => None
    }

  /** The entries of one series key as (hour, value, list form?).
    * J1: `"YYYYMMDD": [..]` puts element i at hour i of that day (a
    * null element keeps its hour); `"YYYYMMDDHH": v` reads the first
    * ten characters of the key, drops a null v, and casts any other v
    * from its text with Spark's string-to-double cast under `mode` — a
    * non-numeric scalar fails the call under ANSI and is a null
    * measure otherwise. A key that names no valid day or hour is
    * skipped (nasa.py:71-74). */
  private def entries(key: String, v: JsonNode, zone: ZoneId, mode: EvalMode.Value)
      : Seq[(Instant, Option[Double], Boolean)] = {
    if (v.isNull) Nil
    else if (v.isArray || v.isTextual && v.asText.startsWith("[")) (for {
      day <- if (key.length == 8) keyTime(key) else None
      arr <- unwrap(v).filter(_.isArray)
      values <- arr.elements.asScala.foldLeft(Option(Vector.empty[Option[Double]])) {
        (acc, e) => acc.flatMap(a => listElement(e).map(a :+ _))
      }
    } yield {
      val midnight = day.atZone(zone).toInstant
      values.zipWithIndex.map { case (x, h) => (midnight.plusSeconds(3600L * h), x, true) }
    }).getOrElse(Nil)
    else (if (key.length >= 10) keyTime(key.take(10)) else None).toSeq.map { hour =>
      val x = if (v.isNumber) Some(v.doubleValue) else {
        val text = if (v.isTextual) v.asText else v.toString
        Option(Cast(Literal(text), DoubleType, None, mode).eval())
          .map(_.asInstanceOf[Double])
      }
      (hour.atZone(zone).toInstant, x, false)
    }
  }

  /** The relationalization of `(site, payload body)` pairs into aligned
    * Bronze readings (J1–J3), with timestamps in `zone`.
    *   - J2: only [[Params]] are read; a body that is not JSON, or has
    *     no `properties.parameter` object, yields nothing.
    *   - J3: one reading per (site, hour) that any parameter has an
    *     entry for; per-parameter gaps stay None.
    *   - Several entries for one (site, hour, parameter): a list-form
    *     entry wins over a scalar one, then the earlier payload and
    *     key. Within one JSON object a repeated key keeps its last
    *     value. */
  private def readings(payloads: Iterator[(String, String)], zone: ZoneId,
                       mode: EvalMode.Value): Iterator[Reading] = {
    val n = Params.size
    // per (site, hour): slot p holds parameter p's first list-form
    // entry, slot n + p its first scalar-form entry
    val hours = mutable.LinkedHashMap.empty[(String, Instant), Array[Option[Option[Double]]]]
    for {
      (site, body) <- payloads
      parameter <- tree(body).map(_.path("properties").path("parameter")).filter(_.isObject)
      field <- parameter.properties.asScala
      p = Params.indexOf(field.getKey) if p >= 0
      series <- unwrap(field.getValue).filter(_.isObject)
      entry <- series.properties.asScala
      (ts, x, list) <- entries(entry.getKey, entry.getValue, zone, mode)
    } {
      val slots = hours.getOrElseUpdate((site, ts), Array.fill(2 * n)(None))
      val i = if (list) p else n + p
      if (slots(i).isEmpty) slots(i) = Some(x)
    }
    hours.iterator.map { case ((site, ts), s) =>
      def m(p: Int) = s(p).orElse(s(n + p)).flatten
      Reading(site, ts, m(0), m(1), m(2))
    }
  }

  /** The session's time zone and cast mode, which the parse follows as
    * `try_to_timestamp` and `cast` do. */
  private def parseContext(spark: SparkSession): (ZoneId, EvalMode.Value) = {
    val conf = spark.sessionState.conf
    (DateTimeUtils.getZoneId(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf))
  }

  /** Readings as Bronze-shaped rows with the S7 `raw_json` blob
    * (nasa.py:106). */
  private def withRawJson(readings: Dataset[Reading]): DataFrame =
    readings.toDF().withColumn("raw_json", to_json(struct(
      lit("NASA_POWER").as("source"),
      $"ghi_wm2", $"t2m_c", $"ws10_mps")))

  /** Payloads the driver holds → Bronze-shaped rows (entry point 1 of
    * SURVEY §3.1, stages 4–5). The parse runs here, on the driver, and
    * the rows come back as a local relation: no Spark job runs until
    * the caller writes them. */
  def ingest(spark: SparkSession, payloads: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val (zone, mode) = parseContext(spark)
    withRawJson(readings(payloads.iterator, zone, mode).toSeq.toDS())
  }

  /** The same parse over payload rows `(site, payload)` held in a
    * DataFrame (q35, the streaming ingest): each payload is parsed on
    * its own in one typed `flatMap`, so payloads must not share a
    * (site, hour) — the ≤7-day windows never do. */
  def ingest(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val (zone, mode) = parseContext(spark)
    withRawJson(payloads.select(col("site"), col("payload")).as[(String, String)]
      .flatMap(p => readings(Iterator.single(p), zone, mode)))
  }

  /** q35 — round-trip demonstration on fixture data: build scalar-form
    * NASA payloads from hourly event aggregates, parse + align them
    * back, and return the Bronze rows in (site, ts) order. Validates
    * the full J1→J2→J3 path inside the driver contract (rows-only
    * check — the payload construction isn't mirrored in SQL).
    *
    * Payloads are chunked per (site, 7-day window), mirroring the
    * reference's ≤7-day request windows (nasa.py:160-177): a payload
    * row carries at most 168 hours of series, so no single row/task
    * ever holds a site's full history (the collect_list width hazard
    * at 100× — a site's multi-year series in ONE row — cannot
    * arise; the same chunk arithmetic as WeatherApi.ingestWindows). */
  def roundTrip(spark: SparkSession, dir: String): DataFrame =
    ingest(roundTripPayloads(spark, dir)).orderBy($"site", $"ts")

  /** The payload-construction stage of [[roundTrip]], exposed so the
    * chunk-width invariant (≤168 hourly keys per payload row) is
    * directly testable. */
  def roundTripPayloads(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.operators.Weather.bronze(spark, dir)
      .groupBy($"site", date_trunc("hour", $"ts_utc").as("h"))
      .agg(round(avg($"ghi_wm2"), 3).as("ghi"),
           round(avg($"t2m_c"), 3).as("t2m"),
           round(avg($"ws10_mps"), 3).as("ws"))
      .withColumn("chunk7d",
        floor(unix_timestamp($"h") / lit(7L * 86400)))
    val payloads = hourly
      .groupBy($"site", $"chunk7d")
      .agg(
        map_from_entries(collect_list(struct(
          date_format($"h", "yyyyMMddHH").as("k"), $"ghi".as("v"))))
          .as("ghi_series"),
        map_from_entries(collect_list(struct(
          date_format($"h", "yyyyMMddHH").as("k"), $"t2m".as("v"))))
          .as("t2m_series"),
        map_from_entries(collect_list(struct(
          date_format($"h", "yyyyMMddHH").as("k"), $"ws".as("v"))))
          .as("ws_series"))
      .select($"site", to_json(struct(struct(struct(
          $"ghi_series".as("ALLSKY_SFC_SW_DWN"),
          $"t2m_series".as("T2M"),
          $"ws_series".as("WS10M")).as("parameter")).as("properties")))
        .as("payload"))
    payloads
  }
}
