package graft.delta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Corpus, VectorOps}
import graft.state.Published

/** What changed between two snapshots, keyed by `key` (`doc_id` or
  * `vec_id`): the one seam every incremental maintainer reads — the
  * engine-owned "state plus delta" of incremental execution.
  *
  * A delta holds two id sets, derived once from a status frame
  * (`key`, `status`, ...):
  *   - `stale`: ids whose stored rows must not survive (removed and
  *     changed — an added id has no stored row);
  *   - `fresh`: ids to recompute from the current snapshot (added and
  *     changed).
  * Every maintainer is carried ∪ recomputed over these two sets:
  * [[carry]] keeps the stored rows of clean ids, [[slice]] cuts the
  * current snapshot down to what must be recomputed, [[lost]] is the
  * stored rows a corpus-global count must subtract, and [[signed]]
  * merges those signed counts into a stored count table.
  *
  * Both sets are broadcast by the family's premise (|dirty| ≪ corpus;
  * a diff dirtying most of the corpus is the rebuild trigger). A
  * delta carries no checkpoint posture: a maintainer that wants its
  * id sets behind a barrier says so with [[map]] at its own call
  * site. */
final class Delta private (val status: DataFrame, val key: String,
                           val stale: DataFrame, val fresh: DataFrame) {

  /** Stored rows whose key is clean. */
  def carry(stored: DataFrame): DataFrame =
    stored.join(broadcast(stale), Seq(key), "left_anti")

  /** Stored pair rows with BOTH endpoints clean (endpoint columns
    * `doc_a`/`doc_b`, or `vec_a`/`vec_b` over vectors). */
  def carryPairs(stored: DataFrame): DataFrame = {
    val (a, b) = Delta.pairCols(key)
    stored
      .join(broadcast(stale.withColumnRenamed(key, a)), Seq(a), "left_anti")
      .join(broadcast(stale.withColumnRenamed(key, b)), Seq(b), "left_anti")
  }

  /** Stored rows of stale ids: what a count table must subtract. */
  def lost(stored: DataFrame): DataFrame =
    stored.join(broadcast(stale), Seq(key))

  /** The rows of the current snapshot that must be recomputed. */
  def slice(current: DataFrame): DataFrame =
    current.join(broadcast(fresh), Seq(key))

  /** The same delta with `f` applied to both id sets: a call site's
    * checkpoint posture, or a widening by ids the maintainer itself
    * found dirty (q132's hot-cutoff flips). */
  def map(f: DataFrame => DataFrame): Delta =
    new Delta(status, key, f(stale), f(fresh))
}

object Delta {

  private val Added = "added"
  private val Removed = "removed"
  private val Changed = "changed"
  private val Unchanged = "unchanged"

  private val statusCol = col("status")

  /** Per-status predicates over a status frame. */
  val added: Column = statusCol === Added
  val removed: Column = statusCol === Removed
  val changed: Column = statusCol === Changed
  /** Every status but unchanged: the rows a diff feed carries. */
  val dirty: Column = statusCol =!= Unchanged
  /** Removed or changed: the stored row must not survive. */
  private val isStale: Column = statusCol.isin(Removed, Changed)
  /** Added or changed: recompute from the current snapshot. */
  val isFresh: Column = statusCol.isin(Added, Changed)

  /** The status of a row of a full-outer snapshot join: presence from
    * the two marker columns (never from digest nullness), content by
    * a null-safe digest compare. */
  def statusOf(inPrev: Column, inCur: Column, prevDigest: Column,
               curDigest: Column): Column =
    when(inPrev.isNull, lit(Added))
      .when(inCur.isNull, lit(Removed))
      .when(!(prevDigest <=> curDigest), lit(Changed))
      .otherwise(lit(Unchanged))

  def apply(status: DataFrame, key: String): Delta =
    new Delta(status, key,
      status.filter(isStale).select(col(key)),
      status.filter(isFresh).select(col(key)))

  private def pairCols(key: String): (String, String) = key match {
    case "vec_id" => ("vec_a", "vec_b")
    case _ => ("doc_a", "doc_b")
  }

  /** prev + Σ gained − Σ lost per key, dropping keys whose count
    * reaches zero — what a full recount over the new snapshot would
    * hold. All three frames are (key columns..., count) with the same
    * names; one union under one partial-aggregated sum is a single
    * table-sized exchange. */
  def signed(prev: DataFrame, lost: DataFrame,
             gained: DataFrame): DataFrame = {
    val keys = prev.columns.init.toSeq.map(col)
    val n = prev.columns.last
    prev.unionByName(gained)
      .unionByName(lost.select(keys :+ (-col(n)).as(n): _*))
      .groupBy(keys: _*).agg(sum(col(n)).as(n))
      .filter(col(n) > 0)
  }

  /** The published document delta of `dir` (q84's diff): one
    * checkpointed entry per corpus, shared by every document
    * maintainer, nested and concurrent builds included. */
  def documents(spark: SparkSession, dir: String): Delta =
    Published(spark, "delta.documents", dir,
        Published.inventory(dir, "documents")) {
      Delta(Corpus.snapshotDiffDerived(Tables.documents(spark, dir))
        .localCheckpoint(true), "doc_id")
    }

  /** The published vector delta of `dir`, one entry per corpus. */
  def embeddings(spark: SparkSession, dir: String): Delta =
    Published(spark, "delta.embeddings", dir,
        Published.inventory(dir, "embeddings")) {
      Delta(VectorOps.vecSnapshotDiff(
        VectorOps.vecsFrom(Tables.embeddings(spark, dir)))
        .localCheckpoint(true), "vec_id")
    }
}
