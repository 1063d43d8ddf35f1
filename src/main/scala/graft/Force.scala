package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one way a timed query is forced and timed: `Bench` and the
  * scale receipts both deliver each query's full result through
  * [[resultHash]] — never `.count()`, which lets Catalyst prune the
  * output work the oracle's result pays for. */
object Force {

  /** `f`'s value and its wall in seconds. */
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The forcing function: an order-independent hash of the full
    * result, "rows:sum of per-row xxhash64" — the semantics of
    * gridperf's `Checks.resultHash`. Doubles are rounded to 6 places
    * (and -0.0 folded into 0.0) and map entries sorted, so neither
    * partial-aggregate order nor map iteration order moves it. */
  def resultHash(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq
      .map(f => normalize(col(f.name), f.dataType))
    val row = renamed
      .select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
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
    case StructType(fields) => struct(fields.toSeq
      .map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
