package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Weather
import graft.streaming.{Drain, StreamingWindows}

/** The one bounded-drain lifecycle (`graft.streaming.Drain`): a drain
  * never leaves a running query, a checkpoint or a memory-sink view
  * behind, concurrent drains never share a name, and no streaming
  * query is started anywhere else in the engine. */
class DrainSpec extends AnyFunSuite {
  import TestSpark._

  private def events = s"$sf/events.parquet"

  private def batchHourly =
    Weather.bronze(spark, sf)
      .groupBy(date_trunc("hour", col("ts_utc")).as("ts_hour"), col("site"))
      .agg(count(lit(1)).as("n"), round(avg(col("ghi_wm2")), 6).as("ghi_mean"))

  test("an interrupted wait stops the query, then removes its checkpoint") {
    import spark.implicits._
    val in = TestTmp.dir("graft-drain-in-").toString + "/p"
    Seq(1L, 2L, 3L).toDF("id").write.parquet(in)
    val prefix = "graft_drain_interrupted_"
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val thrown = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try {
        Drain.foreachBatch(Drain.files(spark, in,
            StructType(Seq(StructField("id", LongType))), None), prefix) {
          (_, _) =>
            entered.countDown()
            release.await(2, TimeUnit.MINUTES)
            ()
        }
      } catch { case t: Throwable => thrown.set(t) })
    caller.start()
    try {
      assert(entered.await(2, TimeUnit.MINUTES), "the batch body never ran")
      val q = spark.streams.active.find(_.name.startsWith(prefix)).get
      val checkpoint = new java.io.File(new org.apache.hadoop.fs.Path(
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .resolvedCheckpointRoot).toUri.getPath)
      assert(checkpoint.isDirectory)
      caller.interrupt()
      caller.join(TimeUnit.MINUTES.toMillis(2))
      assert(!caller.isAlive, "the drain call did not return")
      assert(thrown.get() != null, "an interrupted drain must throw")
      assert(!spark.streams.active.exists(_.name == q.name),
        s"${q.name} still running after its drain call returned")
      assert(!checkpoint.exists(), s"$checkpoint left behind")
    } finally {
      release.countDown()
      spark.streams.active.filter(_.name.startsWith(prefix)).foreach(_.stop())
    }
  }

  test("hourlyStats and statefulDedup leave no memory-sink view behind") {
    def views(prefix: String) = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix)).toSeq
    assert(StreamingWindows.hourlyStats(spark, events).count() > 0)
    assert(views("graft_hourly_") === Seq.empty)
    assert(StreamingWindows.statefulDedup(spark, events).count() > 0)
    assert(views("graft_dedup_") === Seq.empty)
  }

  test("two concurrent hourlyStats calls on one path both match the batch") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val calls = Seq.fill(2)(Future(StreamingWindows.hourlyStats(spark, events)))
    val batch = batchHourly
    val n = batch.count()
    calls.map(Await.result(_, 5.minutes)).foreach { streamed =>
      assert(streamed.count() === n)
      assert(streamed.exceptAll(batch).count() === 0)
    }
  }

  test("writeStream and checkpointLocation appear only in Drain.scala") {
    val offenders = SourceScan.files.collect {
      case (f, src) if !f.getPath.endsWith("graft/streaming/Drain.scala") &&
        (src.contains("writeStream") || src.contains("\"checkpointLocation\"")) => f
    }
    assert(offenders.isEmpty,
      s"start streaming queries through graft.streaming.Drain: " +
        offenders.mkString(", "))
  }
}
