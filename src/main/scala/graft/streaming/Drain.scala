package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** The bounded-drain lifecycle shared by every streaming query in the
  * engine — the streaming form of the reference's chunked backfill
  * loop (nasa.py:160-177). A drain names its query uniquely (caller
  * prefix + a JVM-wide counter, so concurrent calls never collide on a
  * query name or a memory-sink view), gives it a tracked checkpoint,
  * drains the backlog under `Trigger.AvailableNow`, waits, and then —
  * on success and on failure alike — stops the query if it still runs
  * and removes the checkpoint. The sink logic stays with each caller.
  *
  * Checkpoint policy: a live (unbounded) deployment keeps its
  * checkpoint — it IS the restart contract; bounded drains own a
  * throwaway one and remove it on termination. A query still active
  * when the wait ends is stopped BEFORE its checkpoint goes: an
  * interrupted wait throws while the query keeps running its batches,
  * and removing the checkpoint of a running query would leave it
  * committing into a deleted directory. A drained query has already
  * terminated, and stopping it again would only log a failed
  * job-group cancel.
  */
object Drain {

  /** Monotonic suffix for per-call query names. */
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** File-stream source over a parquet file or directory with an
    * explicit `schema`. The file-stream source reads directories only,
    * so a single file is staged through a symlink in a tracked temp
    * dir. `maxFilesPerTrigger = Some(1)` makes each file its own
    * micro-batch. */
  def files(spark: SparkSession, path: String, schema: StructType,
            maxFilesPerTrigger: Option[Int]): DataFrame = {
    val src = Paths.get(path)
    val dir =
      if (Files.isDirectory(src)) path
      else {
        val d = Paths.get(StreamingClean.trackedTempDir("graft-stream-in-"))
        Files.createSymbolicLink(d.resolve(src.getFileName), src)
        d.toString
      }
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Stage `df` as `n` files range-partitioned on `key` in a fresh
    * tracked dir — drained with `maxFilesPerTrigger = Some(1)`, each
    * file is one micro-batch, so the streaming-parity harnesses cross
    * batch boundaries the way the chunked backfill windows do. */
  def stageRanged(df: DataFrame, key: String, n: Int): String = {
    val staged = StreamingClean.trackedTempDir("graft-stage-") + "/in"
    df.repartitionByRange(n, col(key)).write.parquet(staged)
    staged
  }

  /** Drain `stream` through `body`, one call per micro-batch (with its
    * batch id); returns once the backlog is drained. */
  def foreachBatch(stream: DataFrame, prefix: String)(
      body: (DataFrame, Long) => Unit): Unit =
    run(stream, prefix + seq.incrementAndGet())(_.foreachBatch(body))

  /** Drain `stream` into a memory sink under `mode` and return
    * `fold(sink table)`, materialized eagerly so the sink's view can be
    * dropped before returning — a per-call view would otherwise keep
    * its whole changelog in the session catalog for the JVM's
    * lifetime. */
  def memory(stream: Dataset[_], prefix: String, mode: OutputMode)(
      fold: DataFrame => DataFrame): DataFrame = {
    val spark = stream.sparkSession
    val name = prefix + seq.incrementAndGet()
    try {
      run(stream, name)(_.outputMode(mode).format("memory"))
      fold(spark.table(name)).localCheckpoint(true)
    } finally spark.catalog.dropTempView(name)
  }

  private def run[T](stream: Dataset[T], name: String)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit = {
    val checkpoint = StreamingClean.trackedTempDir("graft-drain-ckpt-")
    try {
      val q = sink(stream.writeStream).queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    } finally StreamingClean.rmTree(checkpoint)
  }
}
