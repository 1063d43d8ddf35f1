package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Weather
import graft.sources.{NasaIngest, UpsertWriter}

/** The Bronze → Silver → marts write path: a crash between a swap's
  * two renames loses nothing, a store whose files disagree with its
  * declared schema fails loudly, a late write and a micro-batch stay
  * within their job budgets, and no code path goes back to dynamic
  * partition overwrite or to schema-inferring store reads. */
class WritePathSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def kv(rows: (String, Int, Double)*) =
    rows.toSeq.toDF("k", "version", "v")

  /** What a crash right after a swap's first rename leaves: `dir` only
    * under its backup name. */
  private def crashAfterFirstRename(dir: String): Unit = {
    val bak = UpsertWriter.backupOf(new Path(dir)).toUri.getPath
    Files.move(Paths.get(dir), Paths.get(bak))
    ()
  }

  test("upsert restores a table left in its backup by a crash between the two renames") {
    val path = TestTmp.dir("graft-crash-").toString + "/t"
    UpsertWriter.upsert(spark, path, kv(("a", 1, 1.0), ("b", 1, 2.0)), Seq("k"), Seq("version"))
    crashAfterFirstRename(path)
    UpsertWriter.upsert(spark, path, kv(("c", 1, 3.0)), Seq("k"), Seq("version"))
    val got = spark.read.parquet(path).collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got === Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0), "the old rows survive")
    assert(!Files.exists(Paths.get(UpsertWriter.backupOf(new Path(path)).toUri.getPath)))
  }

  test("upsertPartitioned restores a ds partition left in its backup by a crash") {
    val path = TestTmp.dir("graft-crash-ds-").toString + "/t"
    def rows(r: (String, String, Int, Double)*) =
      r.toSeq.toDF("k", "d", "version", "v").withColumn("ds", to_date($"d")).drop("d")
    UpsertWriter.upsertPartitioned(spark, path,
      rows(("a", "2024-01-01", 1, 1.0), ("b", "2024-01-02", 1, 2.0)),
      Seq("k"), Seq("version"), "ds")
    crashAfterFirstRename(s"$path/ds=2024-01-01")
    val touched = UpsertWriter.upsertPartitioned(spark, path,
      rows(("c", "2024-01-01", 1, 3.0)), Seq("k"), Seq("version"), "ds")
    assert(touched === Seq(java.sql.Date.valueOf("2024-01-01")))
    val got = spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[java.sql.Date]("ds").toString).toSet
    assert(got === Set("a" -> "2024-01-01", "b" -> "2024-01-02", "c" -> "2024-01-01"),
      "the partition's old row survives")
    assert(new java.io.File(s"$path/ds=2024-01-01").listFiles()
      .count(_.getName.endsWith(".parquet")) === 1, "one file per published partition")
  }

  test("a store whose files disagree with its declared schema fails loudly") {
    val wh = Pipeline.Warehouse(TestTmp.dir("graft-drift-").toString + "/wh")
    // a Bronze store written without ingest_seq, and with ws10_mps as text
    Weather.bronze(spark, sf).drop("ingest_seq")
      .withColumn("ws10_mps", $"ws10_mps".cast("string"))
      .withColumn("raw_json", lit(null).cast("string"))
      .withColumn("ds", to_date($"ts_utc"))
      .write.partitionBy("ds").parquet(wh.bronze)
    val e = intercept[IllegalStateException](Pipeline.refineSilver(spark, wh))
    assert(e.getMessage.contains("declared"), e.getMessage)
    assert(!new java.io.File(wh.silver).exists(), "nothing was published")
  }

  /** The bench posture: AQE off (with AQE each shuffle stage is its own
    * job), 8 shuffle partitions. */
  private lazy val bench: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** A scalar-form payload for each day of [d0, d1]: every hour, all
    * three parameters. */
  private val transport: NasaIngest.Transport = (url, _) => {
    val q = url.split('?')(1).split('&').map(_.split('=')).map(p => p(0) -> p(1)).toMap
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val days = Iterator.iterate(LocalDate.parse(q("start"), fmt))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.parse(q("end"), fmt))).map(_.format(fmt)).toSeq
    def series(v: Double) =
      days.flatMap(d => (0 until 24).map(h => f""""$d$h%02d": ${v + h}%.1f""")).mkString(", ")
    Right(200 -> s"""{"properties": {"parameter": {"ALLSKY_SFC_SW_DWN": {${series(100)}},
                    |"T2M": {${series(10)}}, "WS10M": {${series(1)}}}}}""".stripMargin)
  }

  test("job budget: a one-day late write (ingest, clean, marts) runs at most 8 jobs") {
    val wh = Pipeline.Warehouse(TestTmp.dir("graft-late-").toString + "/wh")
    val sites = Seq(Pipeline.Site("alpha", 52.5, 13.4), Pipeline.Site("beta", 40.7, -74.0))
    val start = LocalDate.of(2024, 3, 1)
    Pipeline.runNasaIngest(bench, sites, start, start.plusDays(1), wh,
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), transport)
    Pipeline.refineSilver(bench, wh)
    Pipeline.buildMarts(bench, wh)
    val day = start.plusDays(1)
    val touched = Seq(java.sql.Date.valueOf(day))
    def jobs(f: => Any): Int = JobCount(bench.sparkContext)(f)._2
    val ingest = jobs(Pipeline.runNasaIngest(bench, sites.take(1), day, day, wh,
      java.sql.Timestamp.valueOf("2024-06-01 00:01:00"), transport))
    val clean = jobs(Pipeline.refineSilverPartitions(bench, wh, touched))
    val marts = jobs(Pipeline.refreshMarts(bench, wh, touched))
    assert((ingest, clean, marts) === ((2, 3, 2)), "ingest, clean, marts")
    assert(ingest + clean + marts <= 8)
    // the late write landed: 2 sites x 2 days x 24 hours in every store
    for ((path, schema) <- Seq(wh.bronze -> graft.schema.Schemas.bronzeStore,
                               wh.silver -> graft.schema.Schemas.silverStore,
                               wh.martKpis -> graft.schema.Schemas.martKpisStore))
      assert(UpsertWriter.readStore(bench, path, schema).count() === 96, path)
  }

  test("job budget: one micro-batch on an existing warehouse runs 7 jobs " +
       "(no second touched-ds listing)") {
    val wh = Pipeline.Warehouse(TestTmp.dir("graft-mb-").toString + "/wh")
    val bronze = Weather.bronze(bench, sf)
    val days = bronze.select(to_date($"ts_utc").as("ds")).distinct().orderBy("ds")
      .collect().map(_.getDate(0))
    def batch(d: java.sql.Date): DataFrame = bronze.filter(to_date($"ts_utc") === lit(d))
    Pipeline.microBatchStep(batch(days(0)), wh)
    val (_, n) = JobCount(bench.sparkContext)(Pipeline.microBatchStep(batch(days(1)), wh))
    assert(n === 7)
  }

  test("source scan: no dynamic partition overwrite and no store read " +
       "without a declared schema under src/main/scala") {
    val files = SourceScan.files
    val dynamic = files.collect { case (f, src) if src.contains("partitionOverwriteMode") => f }
    assert(dynamic.isEmpty, s"publish partitions with UpsertWriter.publishPartitions: " +
      dynamic.mkString(", "))
    // the files that own warehouse stores may read only fixtures
    // (`sfDir`, `eventsPath`) without a schema; a Warehouse path
    // (`wh.`) may nowhere be read that way
    val owners = Seq("graft/Pipeline.scala", "graft/sources/UpsertWriter.scala",
      "graft/streaming/StreamingClean.scala")
    val read = """\.read\.parquet\(([^)]*)\)""".r
    val inferred = for {
      (f, src) <- files
      m <- read.findAllMatchIn(src)
      arg = m.group(1).trim
      if arg.startsWith("wh.") || owners.exists(f.getPath.endsWith(_)) &&
        !(arg.contains("sfDir") || arg.contains("eventsPath"))
    } yield s"$f: read.parquet($arg)"
    assert(inferred.isEmpty, "read stores with UpsertWriter.readStore: " +
      inferred.mkString(", "))
  }
}
