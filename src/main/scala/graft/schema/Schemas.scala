package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse table schemas and declarative constraints (SURVEY §1.1,
  * infra/init.sql:8-91), kept as DATA so writers, validators, and
  * tests share one source of truth — vanilla Spark tables don't
  * enforce CHECKs, so the constraints become a validation operator
  * ([[Validator]]) applied at write boundaries and in tests.
  */
object Schemas {

  /** Bronze raw_weather (init.sql:8-18). */
  val rawWeather: StructType = StructType(Seq(
    StructField("site", StringType, nullable = false),
    StructField("ts_utc", TimestampType, nullable = false),
    StructField("ghi_wm2", DoubleType, nullable = true),
    StructField("t2m_c", DoubleType, nullable = true),
    StructField("ws10_mps", DoubleType, nullable = true),
    StructField("raw_json", StringType, nullable = true),
    StructField("ingested_at", TimestampType, nullable = false)))

  /** Silver fact_weather (init.sql:26-37). */
  val factWeather: StructType = StructType(Seq(
    StructField("site", StringType, nullable = false),
    StructField("ts_utc", TimestampType, nullable = false),
    StructField("ghi_wm2", DoubleType, nullable = false),
    StructField("temp_c", DoubleType, nullable = false),
    StructField("wind_mps", DoubleType, nullable = false),
    StructField("cleaned_at", TimestampType, nullable = false)))

  /** Gold mart_features (init.sql:44-54). */
  val martFeatures: StructType = StructType(Seq(
    StructField("site", StringType, nullable = false),
    StructField("ts_utc", TimestampType, nullable = false),
    StructField("ghi_kwh_m2", DoubleType, nullable = false),
    StructField("pv_est_mwh", DoubleType, nullable = false),
    StructField("wind_est_mwh", DoubleType, nullable = false),
    StructField("computed_at", TimestampType, nullable = false)))

  /** Gold mart_forecast (init.sql:61-73). */
  val martForecast: StructType = StructType(Seq(
    StructField("site", StringType, nullable = false),
    StructField("ts_utc", TimestampType, nullable = false),
    StructField("model", StringType, nullable = false),
    StructField("var", StringType, nullable = false),
    StructField("horizon_h", ShortType, nullable = false),
    StructField("yhat", DoubleType, nullable = false),
    StructField("yhat_lower", DoubleType, nullable = true),
    StructField("yhat_upper", DoubleType, nullable = true),
    StructField("created_at", TimestampType, nullable = false)))

  /** Gold mart_kpis (init.sql:80-91). */
  val martKpis: StructType = StructType(Seq(
    StructField("site", StringType, nullable = false),
    StructField("ts_utc", TimestampType, nullable = false),
    StructField("pv_capacity_mw", DoubleType, nullable = false),
    StructField("wind_capacity_mw", DoubleType, nullable = false),
    StructField("pv_cf", DoubleType, nullable = false),
    StructField("wind_cf", DoubleType, nullable = false),
    StructField("computed_at", TimestampType, nullable = false)))

  // The Pipeline's parquet stores as they lie on disk: the table
  // columns plus the version columns the merges arbitrate on and the
  // `ds` partition date (the last column). Every store read declares
  // one of these, so no read infers a schema.

  /** Bronze store `<root>/bronze/raw_weather`: raw_weather with its
    * insertion order `ingest_seq` (SURVEY §7.4-1). */
  val bronzeStore: StructType = StructType(Seq(
    StructField("site", StringType),
    StructField("ts_utc", TimestampType),
    StructField("ingest_seq", LongType),
    StructField("ghi_wm2", DoubleType),
    StructField("t2m_c", DoubleType),
    StructField("ws10_mps", DoubleType),
    StructField("ingested_at", TimestampType),
    StructField("raw_json", StringType),
    StructField("ds", DateType)))

  /** Silver store `<root>/silver/fact_weather`: the cleaned measures
    * with the winning Bronze row's (ingested_at, ingest_seq). */
  val silverStore: StructType = StructType(Seq(
    StructField("site", StringType),
    StructField("ts_utc", TimestampType),
    StructField("ghi_wm2", DoubleType),
    StructField("temp_c", DoubleType),
    StructField("wind_mps", DoubleType),
    StructField("ingested_at", TimestampType),
    StructField("ingest_seq", LongType),
    StructField("ds", DateType)))

  val martFeaturesStore: StructType = martFeatures.add("ds", DateType)

  val martKpisStore: StructType = martKpis.add("ds", DateType)

  /** `df` projected to a store layout, columns in the declared order.
    * A missing column or a type that differs from the declaration
    * fails here, before anything is written. */
  def conform(df: DataFrame, store: StructType): DataFrame = {
    val out = df.select(store.fieldNames.toSeq.map(col): _*)
    val clash = store.fields.zip(out.schema.fields)
      .filter { case (d, a) => d.dataType != a.dataType }
    require(clash.isEmpty, "store layout mismatch: " + clash.map { case (d, a) =>
      s"${d.name} is ${a.dataType.simpleString}, declared ${d.dataType.simpleString}"
    }.mkString(", "))
    out
  }

  /** One declarative constraint = (name, violation predicate). */
  final case class Check(name: String, violation: Column)

  /** Range + alignment CHECKs per table, as data (init.sql:11-13,
    * 29-35, 52, 64-66, 85-89). A row VIOLATES when the predicate is
    * true; null predicate values (from null measures) do not violate —
    * matching SQL CHECK three-valued logic. */
  val rawWeatherChecks: Seq[Check] = Seq(
    Check("ghi_nonneg", col("ghi_wm2") < 0),
    Check("t2m_range", col("t2m_c") < -80 || col("t2m_c") > 80),
    Check("ws_nonneg", col("ws10_mps") < 0))

  val factWeatherChecks: Seq[Check] = Seq(
    Check("ghi_nonneg", col("ghi_wm2") < 0),
    Check("t2m_range", col("temp_c") < -80 || col("temp_c") > 80),
    Check("ws_nonneg", col("wind_mps") < 0),
    Check("measures_not_null",
      col("ghi_wm2").isNull || col("temp_c").isNull || col("wind_mps").isNull),
    Check("hourly_alignment",
      date_trunc("hour", col("ts_utc")) =!= col("ts_utc")))

  val martFeaturesChecks: Seq[Check] = Seq(
    Check("ghi_kwh_nonneg", col("ghi_kwh_m2") < 0),
    Check("pv_est_nonneg", col("pv_est_mwh") < 0),
    Check("wind_est_nonneg", col("wind_est_mwh") < 0),
    Check("hourly_alignment",
      date_trunc("hour", col("ts_utc")) =!= col("ts_utc")))

  val martForecastChecks: Seq[Check] = Seq(
    Check("model_enum", !col("model").isin("baseline", "sarimax")),
    Check("var_enum", !col("var").isin("pv", "wind")),
    Check("horizon_range", col("horizon_h") < 1 || col("horizon_h") > 48),
    Check("yhat_nonneg", col("yhat") < 0))

  val martKpisChecks: Seq[Check] = Seq(
    Check("pv_cf_range", col("pv_cf") < 0 || col("pv_cf") > 1.2),
    Check("wind_cf_range", col("wind_cf") < 0 || col("wind_cf") > 1.2),
    Check("hourly_alignment",
      date_trunc("hour", col("ts_utc")) =!= col("ts_utc")))
}

/** Runtime constraint validation — the engine-side stand-in for the
  * reference's Postgres CHECK enforcement (SURVEY §1.3, §2.8 Q7). */
object Validator {

  final case class ConstraintViolation(table: String, check: String, rows: Long)
      extends RuntimeException(s"$table violates $check on $rows rows")

  /** Count violations per check (one aggregate pass over the frame). */
  def violations(df: DataFrame, checks: Seq[Schemas.Check]): Map[String, Long] = {
    if (checks.isEmpty) return Map.empty
    val aggs = checks.map(c =>
      sum(when(c.violation, 1L).otherwise(0L)).as(c.name))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    checks.map(c => c.name -> Option(row.getAs[Long](c.name)).getOrElse(0L))
      .toMap
  }

  /** Throw on the first violated check (write-boundary guard). */
  def enforce(df: DataFrame, checks: Seq[Schemas.Check], table: String): DataFrame = {
    violations(df, checks).find(_._2 > 0).foreach { case (name, n) =>
      throw ConstraintViolation(table, name, n)
    }
    df
  }
}
