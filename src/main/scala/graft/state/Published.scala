package graft.state

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The engine's one store of published state: the stored tables,
  * fitted models and codebooks a nightly job would land once per
  * snapshot, and the fixture frames every query reads. Each entry is
  * keyed by (session, name, dir) and carries the fingerprint of the
  * inputs it was built from; a call with the same fingerprint reads
  * the entry, a call with a new one rebuilds and replaces it.
  *
  * Builds are atomic per key: a second caller of an entry that is
  * being built waits for that build instead of starting its own, and
  * a build that throws leaves no entry (the next call retries).
  * There is no global lock, so builds of different keys nest on one
  * thread (q116's maintained model builds the tf state it derives
  * from) and run concurrently (q101's five published stage verdicts).
  *
  * Entries are session-scoped because a checkpointed frame cannot
  * outlive its session's context; sessions are held WEAKLY and their
  * entry maps behind a SoftReference — a published DataFrame strongly
  * references its SparkSession (via QueryExecution), so a strongly
  * held map would pin its own WeakHashMap key forever. A stopped,
  * otherwise-unreferenced session (and its state) can therefore be
  * reclaimed under memory pressure. Near heap exhaustion the JVM may
  * clear a live session's map as well; its state is then rebuilt on
  * the next call.
  *
  * A replaced entry is only dropped, never unpersisted: once nothing
  * references its frames the ContextCleaner frees their checkpoint
  * blocks, while a consumer plan still holding them keeps them (local
  * checkpoint blocks cannot be recomputed, so an eager unpersist
  * would break that consumer). */
object Published {

  private final class Slot(val fingerprint: String, val builder: Thread) {
    val value = new CompletableFuture[Any]()
  }

  private type Slots = ConcurrentHashMap[(String, String), Slot]

  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[Slots]]())

  private def slotsOf(spark: SparkSession): Slots = sessions.synchronized {
    val ref = sessions.get(spark)
    val existing = if (ref == null) null else ref.get()
    if (existing != null) existing
    else {
      val fresh = new Slots
      sessions.put(spark, new java.lang.ref.SoftReference(fresh))
      fresh
    }
  }

  /** The entry `name` over `dir` for `spark`, built by `build` unless
    * an entry with the same `fingerprint` exists or is being built. */
  def apply[T](spark: SparkSession, name: String, dir: String,
               fingerprint: String)(build: => T): T = {
    val slots = slotsOf(spark)
    val key = (name, dir)
    @annotation.tailrec def run(): T = {
      val cur = slots.get(key)
      if (cur != null && cur.fingerprint == fingerprint) {
        if (cur.builder == Thread.currentThread && !cur.value.isDone)
          throw new IllegalStateException(
            s"published state $name over $dir depends on itself")
        try scala.concurrent.blocking(cur.value.join()).asInstanceOf[T]
        catch { case e: CompletionException => throw e.getCause }
      } else {
        val mine = new Slot(fingerprint, Thread.currentThread)
        val claimed =
          if (cur == null) slots.putIfAbsent(key, mine) == null
          else slots.replace(key, cur, mine)
        if (!claimed) run()
        else {
          val v = try build catch {
            case t: Throwable =>
              slots.remove(key, mine)
              mine.value.completeExceptionally(t)
              throw t
          }
          mine.value.complete(v)
          v
        }
      }
    }
    run()
  }

  /** One `path:mtime:size` line per file of `table` under `dir`
    * (sorted): the fingerprint of everything built from that table.
    * A rewrite in place changes it, so the next call rebuilds.
    *
    * CAVEAT: mtime granularity is filesystem-dependent (1 s on some) —
    * a table regenerated in place within one tick with byte-identical
    * file SIZES keeps its fingerprint. Fine for the fixtures; a store
    * needing airtight invalidation would hash parquet footers
    * (content-addressed) instead of stat() metadata. */
  def inventory(dir: String, table: String): String =
    walk(new java.io.File(dir, s"$table.parquet")).sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.lastModified}:${f.length}")
      .mkString("\n")

  /** Every file under `f` (`f` itself when it is a file). */
  private[graft] def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  /** (name, dir, fingerprint) of every entry `spark` has built. */
  private[graft] def entries(spark: SparkSession): Seq[(String, String, String)] = {
    val ref = sessions.synchronized(sessions.get(spark))
    val slots = if (ref == null) null else ref.get()
    if (slots == null) Nil
    else slots.asScala.toSeq.collect {
      case ((name, dir), s) if s.value.isDone && !s.value.isCompletedExceptionally =>
        (name, dir, s.fingerprint)
    }
  }
}
