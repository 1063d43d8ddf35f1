package gridperf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Pipeline.Warehouse

/** Output checks. All of them run outside the timed region. */
object Checks {

  /** Published row counts and value checksums of one warehouse. */
  final case class Store(bronzeRows: Long, bronzeSum: Long,
                         silverRows: Long, silverSum: Long,
                         featureRows: Long, featureGhi: Long, kpiRows: Long)

  private def cents(c: Column): Column = round(c * 100).cast(LongType)

  private def weighted(ghi: String, t2m: String, ws: String): Column =
    sum(coalesce(cents(col(ghi)), lit(0L)) +
      lit(3L) * coalesce(cents(col(t2m)), lit(0L)) +
      lit(7L) * coalesce(cents(col(ws)), lit(0L)))

  def store(spark: SparkSession, wh: Warehouse): Store = {
    val b = spark.read.parquet(wh.bronze)
      .agg(count(lit(1)), weighted("ghi_wm2", "t2m_c", "ws10_mps")).head()
    val s = spark.read.parquet(wh.silver)
      .agg(count(lit(1)), weighted("ghi_wm2", "temp_c", "wind_mps")).head()
    val f = spark.read.parquet(wh.martFeatures)
      .agg(count(lit(1)),
        sum(round(col("ghi_kwh_m2") * 100000).cast(LongType))).head()
    val k = spark.read.parquet(wh.martKpis).count()
    def l(v: Any): Long = Option(v).fold(0L)(_.toString.toLong)
    Store(l(b.get(0)), l(b.get(1)), l(s.get(0)), l(s.get(1)),
      l(f.get(0)), l(f.get(1)), k)
  }

  /** What [[store]] must read after the generator's rows are published. */
  def expected(e: Expected): Store = {
    val silver = e.silverRows
    Store(e.bronzeRows, e.bronzeChecksum, silver, e.silverChecksum,
      silver, e.silverGhi, silver)
  }

  /** Order-independent result hash: "rows:sum of per-row xxhash64".
    * Doubles are rounded to 6 places (and -0.0 folded into 0.0) and map
    * entries sorted, so the hash does not depend on partial-aggregate
    * order or map iteration order. */
  def resultHash(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val row = renamed.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${row.getLong(0)}:${Option(row.get(1)).getOrElse(0)}"
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, normalize(_, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"),
        normalize(e.getField("value"), vt).as("v"))))
    case StructType(fields) =>
      struct(fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
