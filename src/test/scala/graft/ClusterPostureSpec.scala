package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.state.Published

/** The cluster-deployment configuration smoke: Bench documents that a
  * real deployment flips `SPARK_GRAFT_AQE=true` and a shuffle
  * partition count sized to the cluster (not the sub-GB bench's 8).
  * Nothing should DEPEND on the bench posture's AQE-off semantics —
  * this suite proves it by running every driver-contract query under
  * AQE + 64 shuffle partitions in a sibling session and demanding
  * row-for-row equality with the default session.
  *
  * Sessions share the JVM/SparkContext (`newSession`), so this also
  * exercises config isolation: both postures execute interleaved
  * against the same context. Published state is session-scoped, so
  * the posture session builds its own stored tables, models and
  * codebooks under AQE + 64 partitions instead of reading the base
  * session's — the suite asserts that through the store's inventory.
  *
  * A third sibling runs `Session.posture`, the settings every main and
  * the benchmark run with; `Verify` checks that posture against the
  * DuckDB oracle, so oracle == measured posture == cluster posture.
  */
class ClusterPostureSpec extends AnyFunSuite {
  import TestSpark.sf

  /** q30's WLS fit sums doubles in partition order, and its rows-only
    * contract (no oracle) documents that floating drift across
    * configurations is acceptable — everything else must be EXACT
    * row-for-row (the same discipline the DuckDB hash gate enforces
    * at 32-vs-1 threads). */
  private val RowsOnly = Set("q30_forecast_ml")

  /** Every stored-state entry the query set publishes per corpus. */
  private val StateNames = Set(
    "dedup.index", "dedup.spans", "dedup.fullPairs",
    "classify.nbModel", "classify.nbState", "classify.nbMaintained",
    "vector.codebook", "vector.pairs", "vector.index",
    "vector.pqCodebook", "vector.pqIndex",
    "corpus.bigramModel", "corpus.bigramState", "corpus.bpeMerges",
    "corpus.scores", "corpus.tf", "corpus.tfidf", "corpus.logProbScores",
    "corpus.decontam", "corpus.chunks", "corpus.verdicts",
    "delta.documents", "delta.embeddings")

  test("every query is posture-invariant under AQE + 64 shuffle partitions") {
    val base = TestSpark.spark
    val posture = base.newSession()
    posture.conf.set("spark.sql.adaptive.enabled", "true")
    posture.conf.set("spark.sql.shuffle.partitions", "64")
    // the posture every main runs and the benchmark measures
    val measured = base.newSession()
    Session.posture.foreach { case (k, v) => measured.conf.set(k, v) }
    val postures = Seq("cluster" -> posture, "measured" -> measured)
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val expect = q(base, sf).collect()
        postures.flatMap { case (label, session) =>
          val got = q(session, sf).collect()
          if (RowsOnly(name)) {
            if (got.length == expect.length) None
            else Some(s"$name: ${got.length} rows vs ${expect.length} under $label posture")
          } else if (got.toSeq == expect.toSeq) None
          else Some(s"$name: results differ under $label posture")
        }
    }
    assert(failures.isEmpty, failures.mkString("; "))
    def built(s: SparkSession): Set[String] =
      Published.entries(s).collect { case (name, `sf`, _) => name }.toSet
    postures.foreach { case (label, session) =>
      assert(StateNames -- built(session) === Set.empty,
        s"state the $label posture session read without building it")
    }
  }
}
