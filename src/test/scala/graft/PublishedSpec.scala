package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.state.Published

/** The published-state store: one build per (session, name, dir) and
  * fingerprint, however many callers race for it; nested and
  * concurrent builds of different keys; a rebuild on a fingerprint
  * flip whose displaced state the ContextCleaner frees. */
class PublishedSpec extends AnyFunSuite {
  import TestSpark._

  private def await[T](f: Future[T]): T = Await.result(f, 60.seconds)

  test("two concurrent first callers build exactly once") {
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def call(): Future[AnyRef] = Future(
      Published(spark, "spec.race", "d", "fp") {
        builds.incrementAndGet()
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
        new Object
      })
    val first = call()
    assert(entered.await(60, TimeUnit.SECONDS))
    val second = call()
    // let the second caller reach the store while the build is open
    Thread.sleep(300)
    release.countDown()
    assert(await(first) eq await(second))
    assert(builds.get === 1)
  }

  test("builds of different keys nest on one thread and run concurrently") {
    assert(Published(spark, "spec.outer", "d", "fp") {
      Published(spark, "spec.inner", "d", "fp")(1) + 1
    } === 2)
    // each build waits for the other to start: a store that held one
    // lock across builds would time the barrier out
    val barrier = new CyclicBarrier(2)
    def call(name: String): Future[String] = Future(
      Published(spark, name, "d", "fp") {
        barrier.await(30, TimeUnit.SECONDS)
        name
      })
    val (a, b) = (call("spec.concA"), call("spec.concB"))
    assert((await(a), await(b)) === (("spec.concA", "spec.concB")))
  }

  test("two sessions of one context get separate entries") {
    val other = spark.newSession()
    val mine = Published(spark, "spec.session", "d", "fp")(new Object)
    val theirs = Published(other, "spec.session", "d", "fp")(new Object)
    assert(mine ne theirs)
    assert(Published(spark, "spec.session", "d", "fp")(new Object) eq mine)
    assert(Published(other, "spec.session", "d", "fp")(new Object) eq theirs)
    assert(Published.entries(other) === Seq(("spec.session", "d", "fp")))
  }

  test("a build that throws leaves no entry and is retried") {
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      Published[Int](spark, "spec.throw", "d", "fp") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(!Published.entries(spark).exists(_._1 == "spec.throw"))
    assert(Published(spark, "spec.throw", "d", "fp") {
      builds.incrementAndGet()
    } === 2)
    assert(Published(spark, "spec.throw", "d", "fp")(-1) === 2)
  }

  test("a fingerprint flip rebuilds; the ContextCleaner frees the " +
       "displaced leaf and keeps one a live consumer still reads") {
    val dir = TestTmp.dir("published-flip").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    val file = new java.io.File(dir, "documents.parquet")
    def leaf(name: String): DataFrame =
      Published(spark, name, dir, Published.inventory(dir, "documents")) {
        Tables.documents(spark, dir).select("doc_id").localCheckpoint(true)
      }
    def rddId(df: DataFrame): Int = df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
    }
    // ids only: a keySet view would hold the RDDs themselves
    def persisted = spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    // built in a helper so no frame of the dropped leaf stays on
    // this stack
    def droppedId(): Int = rddId(leaf("spec.dropped"))
    val dropped = droppedId()
    val held = leaf("spec.held")
    val consumer = held.filter("doc_id % 2 = 0")
    val expected = consumer.count()
    assert(persisted.contains(dropped) && persisted.contains(rddId(held)))

    assert(file.setLastModified(file.lastModified() - 60000))
    assert(droppedId() != dropped, "a new fingerprint must rebuild")
    assert(rddId(leaf("spec.held")) != rddId(held))

    val deadline = System.nanoTime() + 60.seconds.toNanos
    while (persisted.contains(dropped) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(!persisted.contains(dropped),
      s"displaced leaf rdd $dropped still persisted")
    assert(persisted.contains(rddId(held)))
    assert(consumer.count() === expected)
  }

  test("no hand-rolled TrieMap memo outside graft/state") {
    val offenders = SourceScan.files.collect {
      case (f, src) if !f.getPath.contains("graft/state/") &&
        src.contains("concurrent.TrieMap") => f
    }
    assert(offenders.isEmpty,
      s"use graft.state.Published instead of a TrieMap memo: " +
        offenders.mkString(", "))
  }
}
