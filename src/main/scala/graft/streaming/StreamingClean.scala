package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Weather
import graft.sources.UpsertWriter
import graft.syntax._

/** The cleaning kernel as a Structured Streaming pipeline (SURVEY
  * §2.10): `readStream` over the events source → Bronze mapping → the
  * same Q1–Q5 kernel per micro-batch → idempotent keyed merge via
  * `foreachBatch`. Late or re-delivered data for an already-written
  * (site, hour) overwrites iff newer — exactly the reference's upsert
  * contract, which pure watermarked state cannot express for
  * arbitrarily-late keys (SURVEY §7.4-8); the merge sink is the
  * reprocessing-safe path.
  *
  * `Trigger.AvailableNow` drains the backlog as bounded micro-batches
  * and stops — the streaming analogue of the reference's chunked
  * backfill loop (nasa.py:160-177). The same query with a continuous
  * trigger is the live path; nothing else changes.
  */
object StreamingClean {

  /** Streaming reader over an events parquet file or directory,
    * normalized to the batch `Tables.events` shape. The file-stream
    * source needs an explicit schema, so the actual on-disk schema is
    * peeked with a one-off batch footer read — which also makes the
    * stream robust to both fixture `ts` encodings (nanos INT64 vs
    * micros NTZ; see `Tables.normalizeEventsTs`). */
  def readEventsStream(spark: SparkSession, eventsPath: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.Tables.normalizeEventsTs(spark, Drain.files(spark, eventsPath,
      spark.read.parquet(eventsPath).schema, maxFilesPerTrigger))

  /** Recursive delete: [[Drain]]'s checkpoints and the exit sweep. */
  private[graft] def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  /** Temp dirs that must outlive the call that makes them (a stream's
    * staging input while the query runs; a result's backing store
    * while the caller still reads it) but not the JVM: tracked here
    * and swept by a shutdown hook, so repeated suite/verify runs don't
    * accumulate orphans under /tmp. */
  private val exitSweep = scala.collection.mutable.ArrayBuffer.empty[String]
  sys.addShutdownHook(exitSweep.synchronized(exitSweep.foreach(rmTree)))
  private[graft] def trackedTempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    exitSweep.synchronized(exitSweep += d)
    d
  }

  def run(spark: SparkSession, eventsPath: String, outPath: String,
          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val raw = readEventsStream(spark, eventsPath, maxFilesPerTrigger)
    Drain.foreachBatch(Weather.bronzeFromEvents(raw),
        "graft_streaming_clean_") { (batch, _) =>
      val cleaned = Weather.cleanToHourlyAudit(batch)
      // partition-pruned merge (VERDICT r5 item 6): the store is laid
      // out by UTC date, so a micro-batch reads and rewrites only the
      // date partitions it touches — at scale a late trickle merges a
      // few partitions, never the table (hour groups can't span a
      // date boundary, so the bounded merge is self-contained)
      UpsertWriter.upsertPartitioned(batch.sparkSession, outPath,
        graft.schema.Schemas.conform(cleaned.withColumn("ds", to_date(col("ts_utc"))),
          graft.schema.Schemas.silverStore),
        keys = Seq("site", "ts_utc"),
        versionCols = Seq("ingested_at", "ingest_seq"),
        partitionCol = "ds",
        checks = graft.schema.Schemas.factWeatherChecks,
        table = "fact_weather")
    }
    UpsertWriter.readStore(spark, outPath, graft.schema.Schemas.silverStore)
  }

  /** q34 — streaming-vs-batch parity: the full streaming pipeline on
    * the fixture events, projected to the Silver schema. Its oracle is
    * the BATCH silver SQL — passing means the streaming path computes
    * exactly what the batch kernel computes. */
  def silverViaStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val out = trackedTempDir("graft-silver-") + "/silver"
    run(spark, s"$sfDir/events.parquet", out)
      .drop("ingested_at", "ingest_seq", "ds")
      .orderBy($"site", $"ts_utc")
  }
}
