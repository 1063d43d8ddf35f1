package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Forecast, Weather, WeatherApi}

class WeatherApiSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val bronze = Weather.bronze(spark, sf)
  private lazy val silver = Weather.cleanToHourly(bronze)

  test("/sites: sorted distinct site list") {
    val s = WeatherApi.sites(silver).collect().map(_.getString(0))
    assert(s.toSeq === s.sorted.toSeq && s.distinct.length === s.length)
  }

  test("unknown site raises the 404 analogue on hourly, raw, and metrics") {
    intercept[WeatherApi.UnknownSiteException] {
      WeatherApi.recentHours(bronze, silver, "nope", 24)
    }
    intercept[WeatherApi.UnknownSiteException] {
      WeatherApi.recentRaw(bronze, "nope", 24)
    }
    intercept[WeatherApi.UnknownSiteException] {
      WeatherApi.metrics(bronze, silver, "nope")
    }
  }

  test("site membership is judged on Bronze (a fully-dropped site is not a 404)") {
    // restrict silver to exclude one site entirely; bronze still has it
    val silverNoClick = silver.filter(col("site") =!= "click")
    val rows = WeatherApi.recentHours(bronze, silverNoClick, "click", 24)
    assert(rows.count() === 0) // 200 + empty, like the reference
    val m = WeatherApi.metrics(bronze, silverNoClick, "click").collect()(0)
    assert(m.getLong(1) > 0 && m.getLong(2) === 0L)
    assert(m.getDouble(3) === 0.0 && m.getLong(4) === m.getLong(1))
    // and Silver rows of a site absent from a non-empty Bronze prove
    // nothing: still the 404
    val bronzeNoClick = bronze.filter(col("site") =!= "click")
    assert(silver.filter(col("site") === "click").count() > 0, "fixture sanity")
    intercept[WeatherApi.UnknownSiteException] {
      WeatherApi.recentHours(bronzeNoClick, silver, "click", 24)
    }
  }

  test("summary: empty filter yields (0, null, null)") {
    val r = WeatherApi.summary(silver.filter(lit(false))).collect()(0)
    assert(r.getLong(0) === 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("recentHours: hours clamped to [1,336], chronological output") {
    val rows = WeatherApi.recentHours(bronze, silver, "click", 10000).collect()
    assert(rows.length <= WeatherApi.MaxHours)
    val ts = rows.map(_.getTimestamp(1).getTime)
    assert(ts.toSeq === ts.sorted.toSeq)
    assert(WeatherApi.clampHours(0) === 1)
    assert(WeatherApi.clampHours(9999) === 336)
  }

  test("metrics: kept_pct consistent with row counts") {
    val df = WeatherApi.metrics(bronze, silver, "click")
    val m = df.collect()(0)
    val raw = m.getLong(1); val kept = m.getLong(2)
    assert(m.getDouble(3) === kept.toDouble / raw * 100)
    assert(m.getLong(4) === math.max(raw - kept, 0L))
    import org.apache.spark.sql.types._
    assert(df.schema === StructType(Seq(
      StructField("site", StringType, nullable = false),
      StructField("raw_rows", LongType, nullable = false),
      StructField("fact_rows", LongType, nullable = false),
      StructField("kept_pct", DoubleType, nullable = true),
      StructField("dropped_rows", LongType, nullable = false))))
  }

  test("toJsonRows: Python-isoformat timestamps in JSON output") {
    val js = WeatherApi.toJsonRows(silver.limit(1)).collect()(0)
    // datetime.isoformat() parity: +00:00 offset, no .000000 for whole
    // seconds (main.py:22-23)
    assert(js.matches(""".*"ts_utc":"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\+00:00".*"""),
      s"got $js")
    import spark.implicits._
    val frac = Seq(java.sql.Timestamp.valueOf("2024-01-01 01:02:03.0405"))
      .toDF("ts")
    val js2 = WeatherApi.toJsonRows(frac).collect()(0)
    assert(js2.contains("\"2024-01-01T01:02:03.040500+00:00\""), s"got $js2")
  }

  test("toJsonRows: the same bytes as Dataset.toJSON on every JSON-relevant type") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("dec", DecimalType(38, 18)), StructField("dec2", DecimalType(10, 2)),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("arr", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("st", StructType(Seq(
        StructField("x", StringType), StructField("y", DoubleType)))),
      StructField("day", DateType), StructField("ts", TimestampType)))
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.1 + 0.2, 1e-300, 12345678.9, Double.MaxValue)
    val floats = Seq(Float.NaN, -0.0f, Float.MaxValue, 0.1f)
    val decimals = Seq("-12345678901234567890.123456789012345678",
      "0.000000000000000001", "0", "1E+5").map(new java.math.BigDecimal(_))
    val strings = Seq("", "quote\" back\\slash /slash",
      "line\nfeed\r\ttab\u0001\u001f\u007f", "unicode é 日本 😀 \u2028\u2029")
    val days = Seq("1900-01-01", "1970-01-01", "2024-02-29").map(java.sql.Date.valueOf)
    val stamps = Seq("2024-01-01 01:02:03.000004", "2024-01-01 01:02:03",
      "1969-12-31 23:59:59.999999").map(java.sql.Timestamp.valueOf)
    val rows = Row.fromSeq(Seq.fill(schema.length)(null)) +:
      doubles.indices.map { k =>
        def at[A](xs: Seq[A]) = xs(k % xs.length)
        Row(k, Long.MinValue / (k + 1), at(doubles), at(floats),
          at(decimals), new java.math.BigDecimal("-1.10"), at(strings), k % 2 == 0,
          Seq(at(doubles), null, 1.0), Map("a" -> k, "\"é\n" -> null),
          Row(at(strings), at(doubles)), at(days), at(stamps))
      }
    val df = spark.createDataFrame(rows.asJava, schema)
    // a local relation (the ResultCache case) and a distributed frame
    for (frame <- Seq(df, df.repartition(3))) {
      val got = WeatherApi.toJsonRows(frame).collect().toSeq
      assert(got.length === rows.length)
      assert(got.sorted === WeatherApi.isoTimestamps(frame).toJSON.collect().toSeq.sorted)
    }
    val first = WeatherApi.toJsonRows(df).collect()
    assert(first(0) === "{}", "null fields are omitted, as toJSON does")
    assert(first(1).contains("\"ts\":\"2024-01-01T01:02:03.000004+00:00\""), first(1))
    assert(first(1).contains("\"d\":\"NaN\""), first(1))
  }

  /** The endpoints in the bench posture (AQE off, 8 shuffle partitions;
    * AQE runs each shuffle stage as its own job), on the fixture. */
  private lazy val benchSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  test("job budgets: one job per endpoint call (hourly at most two), none to serialize a snapshot") {
    val bench = benchSession
    val b = Weather.bronze(bench, sf)
    val s = Weather.cleanToHourly(b)
    def jobs(f: => Any): Int = org.apache.spark.JobCount(bench.sparkContext)(f)._2
    assert(jobs(WeatherApi.sites(b).collect()) === 1, "sites")
    assert(jobs(WeatherApi.summary(s, Some("click")).collect()) === 1, "summary")
    assert(jobs(WeatherApi.metrics(b, s, "click").collect()) === 1, "metrics")
    assert(jobs(WeatherApi.recentRaw(b, "click", 24).collect().length) === 1, "raw")
    assert(jobs(WeatherApi.recentHours(b, s, "click", 24).collect()) <= 2, "hourly")
    val cache = new ResultCache(ttlMs = 60000)
    val miss = cache(bench, "hourly:click")(WeatherApi.recentHours(b, s, "click", 24))
    val hit = cache(bench, "hourly:click")(fail("a hit must not load"))
    for (snapshot <- Seq(miss, hit)) {
      val (json, n) = org.apache.spark.JobCount(bench.sparkContext)(
        WeatherApi.toJsonRows(snapshot).collect())
      assert(json.nonEmpty && n === 0, s"toJsonRows over a snapshot ran $n jobs")
    }
  }

  test("an empty Bronze is no 404: zero metrics, empty hourly and raw") {
    val none = bronze.filter(lit(false))
    val m = WeatherApi.metrics(none, Weather.cleanToHourly(none), "click").collect()
    assert(m.toSeq === Seq(org.apache.spark.sql.Row("click", 0L, 0L, null, 0L)))
    assert(WeatherApi.recentHours(none, Weather.cleanToHourly(none), "click", 24)
      .collect().isEmpty)
    assert(WeatherApi.recentRaw(none, "click", 24).collect().isEmpty)
  }

  test("ingestWindows: 7-day chunks, inclusive remainder, validation") {
    val w = WeatherApi.ingestWindows(
      LocalDate.of(2024, 1, 1), LocalDate.of(2024, 1, 17))
    assert(w === Seq(
      (LocalDate.of(2024, 1, 1), LocalDate.of(2024, 1, 7)),
      (LocalDate.of(2024, 1, 8), LocalDate.of(2024, 1, 14)),
      (LocalDate.of(2024, 1, 15), LocalDate.of(2024, 1, 17))))
    // single-day window
    assert(WeatherApi.ingestWindows(
      LocalDate.of(2024, 2, 1), LocalDate.of(2024, 2, 1)).size === 1)
    intercept[IllegalArgumentException] {
      WeatherApi.ingestWindows(LocalDate.of(2024, 2, 2), LocalDate.of(2024, 2, 1))
    }
  }

  test("F8 formatting: magnitude-dependent decimals, signed pct, buckets") {
    import spark.implicits._
    val df = Seq(1234.567, 12.345, -3.2, 0.0)
      .toDF("x")
      .select(
        WeatherApi.formatMetric(col("x")).as("m"),
        WeatherApi.formatPct(col("x")).as("p"),
        WeatherApi.pctBucket(col("x")).as("b"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // _format_delta parity (app.py:320-327): sign for >= 0 (so +0.0%),
    // %.1f without thousands separators, positive/negative/neutral
    assert(rows(0) === ("1,235", "+1234.6%", "positive"))
    assert(rows(1) === ("12.3", "+12.3%", "positive"))
    assert(rows(2) === ("-3.2", "-3.2%", "negative"))
    assert(rows(3) === ("0.0", "+0.0%", "neutral"))
    val nulls = Seq[Option[Double]](None).toDF("x")
      .select(WeatherApi.formatMetric(col("x")), WeatherApi.pctBucket(col("x")),
              WeatherApi.formatPct(col("x")))
      .collect()(0)
    assert(nulls.getString(0) === "--" && nulls.getString(1) === "neutral")
    assert(nulls.getString(2) === "N/A")
  }
}

class ForecastSpec extends AnyFunSuite {
  import TestSpark._

  test("q30 sarimax-slot forecast honors the mart_forecast contract") {
    val fc = Forecast.forecastMl(spark, sf).collect()
    val bySiteVar = fc.groupBy(r => (r.getString(0), r.getString(3)))
    assert(bySiteVar.nonEmpty)
    assert(bySiteVar.keys.map(_._2).toSet === Set("pv", "wind"),
      "both DDL vars (init.sql:65) must be forecast")
    bySiteVar.values.foreach { g =>
      assert(g.length === Forecast.Horizons)
      assert(g.map(_.getInt(4)).sorted.toSeq === (1 to 48))
      g.foreach { r =>
        val yhat = r.getDouble(5)
        val lo = r.getDouble(6); val hi = r.getDouble(7)
        assert(yhat >= 0.0 && lo >= 0.0)
        assert(lo <= yhat && yhat <= hi)
        assert(r.getString(2) === "sarimax")
      }
    }
  }

  test("q30 fit is partition-order-invariant: identical coefficient " +
       "BITS under any repartitioning (the exact-statistics pin)") {
    // the hash gate rests on the sufficient statistics being exact
    // integer sums — order-independent by construction. Pin it: a
    // float-sum formulation would drift in the last ulps across
    // partitionings and this comparison is BIT equality, not a
    // tolerance.
    val train = Forecast.buildTrain(Forecast.history(spark, sf))
      .localCheckpoint(true)
    val a = Forecast.fitNormal(train.repartition(1))
    val b = Forecast.fitNormal(train.repartition(13))
    Seq("pv", "wind").foreach { v =>
      val (ba, ra) = a(v); val (bb, rb) = b(v)
      assert(ba.map(java.lang.Double.doubleToLongBits).toSeq ===
        bb.map(java.lang.Double.doubleToLongBits).toSeq,
        s"$v coefficients drifted across partitionings")
      assert(java.lang.Double.doubleToLongBits(ra) ===
        java.lang.Double.doubleToLongBits(rb), s"$v rmse drifted")
    }
  }

  test("q29/q30 satisfy every mart_forecast DDL CHECK; created_at is the " +
       "site's newest feature audit stamp (init.sql:61-73)") {
    import graft.schema.{Schemas, Validator}
    val expected = Weather.goldFeatures(spark, sf)
      .groupBy(col("site")).agg(max(col("computed_at")).as("created_at"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    Seq(Forecast.forecastMl(spark, sf),
        Weather.forecastBaseline(spark, sf)).foreach { fc =>
      val v = Validator.violations(fc, Schemas.martForecastChecks)
      assert(v.values.forall(_ == 0), s"DDL CHECK violations: $v")
      val stamps = fc.select(col("site"), col("created_at")).distinct()
        .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
      assert(stamps === expected,
        "created_at must be deterministic (max computed_at per site), " +
          "not wall-clock NOW()")
    }
  }

  test("training frame: lags align (lag24 equals the value 24 rows back)") {
    // the frame q30 fits from: per site, a training row at history
    // position k carries the quantized y_pv of positions k−24 and k−48
    val hist = Forecast.history(spark, sf)
    val qy = hist.select(col("site"), col("ts_utc"),
        Forecast.quant(col("y_pv")).as("q"))
      .orderBy("site", "ts_utc").collect().toSeq.groupBy(_.getString(0))
      .view.mapValues { rs =>
        (rs.map(_.get(1)).zipWithIndex.toMap,
          rs.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      }.toMap
    val train = Forecast.buildTrain(hist)
      .select("site", "ts_utc", "lag24_pv", "lag48_pv").collect()
    assert(train.map(_.getString(0)).distinct.length === qy.size,
      "every site must keep training rows")
    def back(r: org.apache.spark.sql.Row, rows: Int) = {
      val (pos, q) = qy(r.getString(0))
      q(pos(r.get(1)) - rows)
    }
    train.foreach { r =>
      assert(Some(r.getDouble(2)) === back(r, 24), s"lag24_pv at $r")
      assert(Some(r.getDouble(3)) === back(r, 48), s"lag48_pv at $r")
    }
    // sensitivity: a one-row shift would not pass unnoticed
    assert(train.exists(r => Some(r.getDouble(2)) != back(r, 23)))
  }

  test("MLlib LinearRegression(solver=normal) matches Forecast.solve " +
       "within 1e-8 (coefficients and RMSE, both vars)") {
    val train = Forecast.buildTrain(Forecast.history(spark, sf))
    // equivalence is pinned at the unregularized point: MLlib's ridge
    // acts on standardized, intercept-excluded coefficients, which no
    // fixed raw-space λ reproduces — at regParam 0 both solve the
    // identical OLS normal equations
    val ours = Forecast.fitNormal(train, ridge = 0.0)
    val mllib = Forecast.fitMllib(train, regParam = 0.0)
    Seq("pv", "wind").foreach { v =>
      val (bOurs, rmseOurs) = ours(v)
      val (bMl, rmseMl) = mllib(v)
      assert(bOurs.length === bMl.length)
      bOurs.zip(bMl).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) <= 1e-8, s"$v beta($i): $a vs $b")
      }
      assert(math.abs(rmseOurs - rmseMl) <= 1e-8, s"$v rmse")
    }
  }

  test("forecastMlLib: the MLlib-backed variant honors the same " +
       "mart_forecast contract and stays within ridge-distance of q30") {
    import graft.schema.{Schemas, Validator}
    val ml = Forecast.forecastMlLib(spark, sf)
    val v = Validator.violations(ml, Schemas.martForecastChecks)
    assert(v.values.forall(_ == 0), s"DDL CHECK violations: $v")
    val rows = ml.collect()
    val q30 = Forecast.forecastMl(spark, sf).collect()
    assert(rows.length === q30.length)
    // identical keys in identical order; yhat differs only by the
    // 1e-6 ridge the production fit keeps for determinism
    rows.zip(q30).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getAs[String]("var") === b.getAs[String]("var"))
      assert(a.getAs[Int]("horizon_h") === b.getAs[Int]("horizon_h"))
      assert(math.abs(a.getAs[Double]("yhat") - b.getAs[Double]("yhat"))
        <= 1e-3, s"yhat drift beyond ridge distance: $a vs $b")
    }
  }
}
