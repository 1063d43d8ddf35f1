package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NasaIngest

/** The DataFrame parse that `NasaIngest` ran before its row-level
  * parser (from_json → explode → pivot), kept as the reference the
  * row-level parser must reproduce. */
object ReferenceNasaParse {
  import TestSpark.spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("properties", StructType(Seq(
      StructField("parameter", MapType(StringType, StringType)))))))

  /** (site, payload_json) → one row per (site, param, ts, value). */
  def parseSeries(payloads: DataFrame): DataFrame = {
    val entries = payloads
      .select($"site",
        explode(from_json($"payload", payloadSchema)
          .getField("properties").getField("parameter"))
          .as(Seq("param", "series_json")))
      .filter($"param".isin(NasaIngest.Params: _*))
      .select($"site", $"param",
        explode(from_json($"series_json", MapType(StringType, StringType)))
          .as(Seq("key", "val_str")))
    val listForm = entries
      .filter($"val_str".startsWith("["))
      .select($"site", $"param",
        try_to_timestamp($"key", lit("yyyyMMdd")).as("day_ts"),
        posexplode(from_json($"val_str", ArrayType(DoubleType)))
          .as(Seq("pos", "value")))
      .select($"site", $"param",
        expr("timestampadd(HOUR, pos, day_ts)").as("ts"), $"value")
    val scalarForm = entries
      .filter(!$"val_str".startsWith("["))
      .select($"site", $"param",
        try_to_timestamp(substring($"key", 1, 10), lit("yyyyMMddHH")).as("ts"),
        $"val_str".cast(DoubleType).as("value"))
    listForm.unionByName(scalarForm)
      .filter($"ts".isNotNull)
  }

  /** Hour-axis alignment with one column per parameter + raw_json. */
  def alignToBronze(series: DataFrame): DataFrame =
    series
      .groupBy($"site", $"ts")
      .pivot("param", NasaIngest.Params)
      .agg(first($"value"))
      .withColumnRenamed("ALLSKY_SFC_SW_DWN", "ghi_wm2")
      .withColumnRenamed("T2M", "t2m_c")
      .withColumnRenamed("WS10M", "ws10_mps")
      .withColumn("raw_json", to_json(struct(
        lit("NASA_POWER").as("source"),
        $"ghi_wm2", $"t2m_c", $"ws10_mps")))

  def ingest(payloads: DataFrame): DataFrame = alignToBronze(parseSeries(payloads))
}

/** The row-level NASA parser against the DataFrame reference: the same
  * Bronze rows and byte-identical `raw_json`, on the driver-held and
  * the DataFrame-held path alike. */
class NasaParseSpec extends AnyFunSuite {
  import TestSpark._

  /** FIXTURES.md §A1. */
  private val a1 =
    """{"properties": {"parameter": {
      |  "ALLSKY_SFC_SW_DWN": {"20250101": [0.0, null, 12.5, 3.0]},
      |  "T2M":               {"2025010100": -3.4, "2025010101": null, "badkey": 1.0},
      |  "WS10M":             {"2025010100": 4.2, "2025010102": 5.0},
      |  "IGNORED_PARAM":     {"2025010100": 9.9}
      |}}}""".stripMargin

  /** Three days, both encodings per parameter, list nulls, a malformed
    * list key and a malformed scalar key. */
  private def multiDay(scale: Double): String = {
    def list(day: String, off: Int) =
      s""""$day": [${(0 until 24).map(h =>
        if ((h + off) % 7 == 0) "null" else f"${scale + h * 0.25}%.2f").mkString(", ")}]"""
    def scalars(day: String, hours: Seq[Int]) =
      hours.map(h => f""""$day$h%02d": ${scale - h}%.1f""").mkString(", ")
    s"""{"properties": {"parameter": {
       |  "ALLSKY_SFC_SW_DWN": {${list("20240301", 0)}, ${scalars("20240302", 0 until 24 by 3)},
       |                        ${list("20240303", 2)}, "2024XX04": [1.0, 2.0]},
       |  "T2M": {${scalars("20240301", 0 until 24)}, ${list("20240302", 5)},
       |          ${scalars("20240303", Seq(1, 2, 23))}, "2024030325": 7.0},
       |  "WS10M": {${scalars("20240301", 0 until 24 by 2)}, ${scalars("20240302", 1 until 24 by 2)},
       |            ${list("20240303", 1)}}
       |}}, "header": {"fill_value": -999}}""".stripMargin
  }

  private val malformed = """{"properties": {"parameter": {"T2M": {"2025010100": 1.0}"""

  /** Edge cases of the two encodings, one payload each. */
  private val edges = Seq(
    """{"properties":{"parameter":{"T2M":{"20250101":[1.0,"NaN","Infinity","-INF"]}}}}""",
    """{"properties":{"parameter":{"T2M":{"20250101":[1.0,"abc",3.0]},"WS10M":{"2025010100":2.0}}}}""",
    """{"properties":{"parameter":{"T2M":{"20250101":[1.0,true]}}}}""",
    """{"properties":{"parameter":{"T2M":{"20250101":"[1.0,2.0]"}}}}""",
    """{"properties":{"parameter":{"T2M":{"2025010100":"12.5","2025010101":" 7 ","2025010102":"1d","2025010103":"inf"}}}}""",
    """{"properties":{"parameter":{"T2M":{"2025010100":1.00000000000000000000001,"2025010101":1e400,"2025010102":12345678901234567890123}}}}""",
    """{"properties":{"parameter":{"T2M":{"2025010100XYZ":1.0,"20250101":2.0,"2025010124":3.0,"202501010":4.0}}}}""",
    """{"properties":{"parameter":{"T2M":{"2025010100":[1.0],"2025013":[2.0],"20250132":[3.0]," 20250101":[4.0]}}}}""",
    """{"properties":{"parameter":{"T2M":[1,2],"WS10M":5,"ALLSKY_SFC_SW_DWN":"{\"2025010100\": 7.0}"}}}""",
    """{"properties":{"parameter":{"T2M":{"2025010100":1.0}}}} trailing""",
    """{"properties":{"parameter":{"T2M":{"2025010101":5.0,"20250101":[1.0,2.0]}}}}""",
    """{"properties":{"parameter":{"T2M":{"20250101":[null,null],"2025010100":5.0}}}}""",
    """{"properties":{"parameter":{"T2M":{"20250101":[0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,21,22,23,24,25],"20250102":[-1.0]}}}}""",
    """{"properties":{"parameter":{"T2M":{"2025010100":-0.0,"20250102":[-0.0,1E2,3e-2]}}}}""",
    """{'properties':{'parameter':{'T2M':{'2025010100':NaN,'20250102':[Infinity]}}}}""",
    """{"properties":{"parameter":{"T2M":null,"WS10M":{"2025010100":null}}}}""",
    """{"properties":5}""", "null", "", "[1,2]",
    """{"properties":{"parameter":{"T2M":{"2024022924":5.0,"2023022900":6.0,"2024130100":7.0,"2024022923":8.0}}}}""")

  private def render(df: DataFrame): Seq[String] =
    df.select("site", "ts", "ghi_wm2", "t2m_c", "ws10_mps", "raw_json")
      .collect().map(_.toString).toSeq.sorted

  /** Both paths of the row-level parser against the reference. */
  private def assertParity(s: SparkSession, payloads: Seq[(String, String)]): Unit = {
    import s.implicits._
    val frame = payloads.toDF("site", "payload")
    val expected = render(ReferenceNasaParse.ingest(frame))
    val local = NasaIngest.ingest(s, payloads)
    assert(local.columns.toSeq === Seq("site", "ts", "ghi_wm2", "t2m_c", "ws10_mps", "raw_json"))
    assert(render(local) === expected, s"driver-side parse of $payloads")
    assert(render(NasaIngest.ingest(frame)) === expected, s"DataFrame parse of $payloads")
  }

  test("parity: the FIXTURES §A1 payload") {
    assertParity(spark, Seq("site_a" -> a1))
    assert(NasaIngest.ingest(spark, Seq("site_a" -> a1)).count() === 4)
  }

  test("parity: multi-day payloads in both encodings, two sites in one call") {
    val payloads = Seq("alpha" -> multiDay(100.0), "beta" -> multiDay(20.0))
    assertParity(spark, payloads)
    assert(NasaIngest.ingest(spark, payloads).count() === 2L * 3 * 24)
  }

  test("parity: a malformed body yields no rows, alone or beside a good one") {
    assertParity(spark, Seq("site_a" -> malformed))
    assert(NasaIngest.ingest(spark, Seq("site_a" -> malformed)).count() === 0)
    assertParity(spark, Seq("site_a" -> malformed, "site_b" -> a1))
  }

  test("parity: encoding edge cases, and a session time zone other than UTC") {
    edges.zipWithIndex.foreach { case (p, i) => assertParity(spark, Seq(s"e$i" -> p)) }
    val kolkata = spark.newSession()
    kolkata.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    assertParity(kolkata, Seq("alpha" -> multiDay(100.0), "site_a" -> a1))
  }

  test("a non-numeric scalar follows the session's ANSI setting: it fails " +
       "the call under ANSI and is a null measure without it") {
    val bad = """{"properties":{"parameter":{"T2M":{"2025010100":"abc","2025010101":1.5}}}}"""
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    import ansi.implicits._
    val frame = Seq("s" -> bad).toDF("site", "payload")
    for (run <- Seq[() => Any](
        () => ReferenceNasaParse.ingest(frame).collect(),
        () => NasaIngest.ingest(ansi, Seq("s" -> bad)),
        () => NasaIngest.ingest(frame).collect())) {
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("CAST_INVALID_INPUT")), e.toString)
    }
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    assertParity(legacy, Seq("s" -> bad))
    val rows = NasaIngest.ingest(legacy, Seq("s" -> bad)).orderBy("ts").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("t2m_c")))
    assert(rows(1).getAs[Double]("t2m_c") === 1.5)
  }

  test("parity: q35's round trip yields the reference's rows, in (site, ts) order") {
    val expected = ReferenceNasaParse.ingest(NasaIngest.roundTripPayloads(spark, sf))
      .orderBy("site", "ts").collect().map(_.toString).toSeq
    assert(expected.nonEmpty)
    assert(NasaIngest.roundTrip(spark, sf).collect().map(_.toString).toSeq === expected)
  }

  test("the driver-side parse is a local relation: no Spark job runs") {
    val (rows, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
      NasaIngest.ingest(spark, Seq("alpha" -> multiDay(100.0))).collect())
    assert(rows.length === 3 * 24)
    assert(jobs === 0)
  }
}
