package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Weather
import graft.syntax._

/** Event-time streaming analytics over the events source (SURVEY
  * §2.10): watermarked tumbling-window aggregation (the streaming form
  * of the kernel's hour bucketing, Q2) and an explicit stateful
  * last-write-wins dedup via flatMapGroupsWithState — the
  * `KeyValueGroupedDataset` custom-state path for when `max_by` over a
  * window isn't expressive enough (SURVEY §2.11).
  */
object StreamingWindows {

  /** Hourly per-site counts/means as a watermarked streaming
    * aggregation, drained with AvailableNow into a memory sink.
    *
    * Output mode matters: Complete (the default here, so a bounded
    * drain emits every window for the batch-parity check) retains all
    * window state and does NOT evict on the watermark. The
    * unbounded-input live path is `OutputMode.Append`, where the
    * watermark finalizes windows older than the event-time high-mark
    * minus `watermark` and evicts their state — same query, different
    * output mode. */
  def hourlyStats(spark: SparkSession, eventsPath: String,
                  watermark: String = "2 hours",
                  mode: OutputMode = OutputMode.Complete): DataFrame = {
    val bronze = Weather.bronzeFromEvents(
      StreamingClean.readEventsStream(spark, eventsPath))
    val agg = bronze
      .withWatermark("ts_utc", watermark)
      .groupBy(window($"ts_utc", "1 hour"), $"site")
      .agg(count(lit(1)).as("n"),
           round(avg($"ghi_wm2"), 6).as("ghi_mean"))
      .select($"window.start".as("ts_hour"), $"site", $"n", $"ghi_mean")
    Drain.memory(agg, "graft_hourly_", mode)(identity)
  }

  case class KeyedRow(site: String, tsHour: Long, ghi: Double,
                      version: Long, seq: Long)
  case class Winner(site: String, tsHour: Long, ghi: Double,
                    version: Long, seq: Long)

  /** Stateful LWW dedup: one state cell per (site, hour) holding the
    * current winner; each batch emits keys whose winner changed. The
    * state comparison is (version, seq) — the same total order as the
    * batch kernel, so replay/ooo delivery converge to the same result. */
  def statefulDedup(spark: SparkSession, eventsPath: String): DataFrame = {
    import spark.implicits.{newProductEncoder, newLongEncoder, newProductSeqEncoder, newStringEncoder}
    val bronze = Weather.bronzeFromEvents(
      StreamingClean.readEventsStream(spark, eventsPath))
    val keyed = bronze.select(
        $"site", unix_micros(date_trunc("hour", $"ts_utc")).as("tsHour"),
        coalesce($"ghi_wm2", lit(0.0)).as("ghi"),
        unix_micros($"ingested_at").as("version"),
        $"ingest_seq".as("seq"))
      .as[KeyedRow]
    val updater = (key: (String, Long), rows: Iterator[KeyedRow],
                   state: GroupState[Winner]) => {
      val best = (state.getOption.map(w =>
          KeyedRow(w.site, w.tsHour, w.ghi, w.version, w.seq)) ++ rows)
        .maxBy(r => (r.version, r.seq))
      val changed = !state.getOption.exists(w =>
        w.version == best.version && w.seq == best.seq)
      state.update(Winner(best.site, best.tsHour, best.ghi,
                          best.version, best.seq))
      if (changed)
        Iterator(Winner(best.site, best.tsHour, best.ghi,
                        best.version, best.seq))
      else Iterator.empty
    }
    val deduped = keyed
      .groupByKey(r => (r.site, r.tsHour))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(updater)
    // The memory sink holds the UPDATE CHANGELOG (one row per winner
    // change per batch); reduce it to the final winner per key so
    // multi-batch inputs don't surface superseded rows.
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy($"site", $"tsHour")
      .orderBy($"version".desc, $"seq".desc)
    Drain.memory(deduped, "graft_dedup_", OutputMode.Update)(
      _.withColumn("rn", row_number().over(wFinal))
        .filter($"rn" === 1).drop("rn"))
  }
}
