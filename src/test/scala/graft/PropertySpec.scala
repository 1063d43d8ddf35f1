package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Weather
import graft.schema.{Schemas, Validator}
import graft.sources.UpsertWriter

/** Property-based invariants (SURVEY §5.2-3): randomized dirty Bronze
  * frames through the kernel must always satisfy the Silver contract;
  * the upsert must be idempotent and version-monotone for arbitrary
  * batch splits. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Deterministic property driver: sample `gen` across fixed seeds
    * (scalatest+scalacheck bridge isn't a dependency; raw Gen sampling
    * gives the same coverage reproducibly). */
  private def forAllSampled[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      val v = gen.pureApply(Gen.Parameters.default, Seed(42L + i))
      withClue(s"seed=${42 + i}: ")(body(v))
    }

  private val baseMs = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private case class BronzeRow(site: String, offsetMin: Int, seq: Long,
                               ghi: Option[Double], t2m: Option[Double],
                               ws: Option[Double])

  private val rowGen: Gen[BronzeRow] = for {
    site <- Gen.oneOf("s1", "s2", "s3")
    offset <- Gen.choose(0, 72 * 60) // three days of minutes
    seq <- Gen.choose(0L, 100000L)
    ghi <- Gen.option(Gen.choose(-50.0, 500.0))
    t2m <- Gen.option(Gen.choose(-120.0, 120.0))
    ws <- Gen.option(Gen.choose(-5.0, 40.0))
  } yield BronzeRow(site, offset, seq, ghi, t2m, ws)

  private def toBronzeDf(rows: List[BronzeRow]) =
    rows.map(r => (r.site,
        new Timestamp(baseMs + r.offsetMin * 60000L), r.seq,
        r.ghi.map(Double.box).orNull,
        r.t2m.map(Double.box).orNull,
        r.ws.map(Double.box).orNull))
      .toDF("site", "ts_utc", "ingest_seq", "ghi_wm2", "t2m_c", "ws10_mps")
      .withColumn("ingested_at", col("ts_utc"))

  test("property: kernel output always satisfies the Silver contract") {
    forAllSampled(Gen.listOfN(60, rowGen), 8) { rows =>
      {
        val silver = Weather.cleanToHourly(toBronzeDf(rows))
        // no violations of any fact_weather CHECK
        val v = Validator.violations(silver,
          Schemas.factWeatherChecks.filterNot(_.name == "measures_not_null"))
        assert(v.values.forall(_ === 0L), v)
        // no null measures, one row per (site, hour)
        assert(silver.filter(col("ghi_wm2").isNull || col("temp_c").isNull
          || col("wind_mps").isNull).count() === 0)
        val dup = silver.groupBy("site", "ts_utc").count()
          .filter(col("count") > 1).count()
        assert(dup === 0)
      }
    }
  }

  test("property: clean is idempotent on its own output") {
    forAllSampled(Gen.listOfN(50, rowGen), 5) { rows =>
      {
        val once = Weather.cleanToHourly(toBronzeDf(rows))
        val refeed = once.select(col("site"), col("ts_utc"), col("ghi_wm2"),
            col("temp_c").as("t2m_c"), col("wind_mps").as("ws10_mps"))
          .withColumn("ingested_at", col("ts_utc"))
          .withColumn("ingest_seq", lit(0L))
        val twice = Weather.cleanToHourly(refeed)
        assert(twice.exceptAll(once).count() === 0)
        assert(once.exceptAll(twice).count() === 0)
      }
    }
  }

  test("property: merging batches in any split equals one-shot dedup") {
    forAllSampled(Gen.zip(Gen.listOfN(40, rowGen), Gen.choose(0, 40)), 6) {
      case (rows, splitAt) =>
      {
        val keys = Seq("site", "ts_utc")
        val version = Seq("ingested_at", "ingest_seq")
        val all = toBronzeDf(rows)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("site"), col("ts_utc"))
          .orderBy(col("ingested_at").desc, col("ingest_seq").desc)
        val oneShot = all.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        val (a, b) = rows.splitAt(math.min(splitAt, rows.length))
        val merged =
          if (a.isEmpty) toBronzeDf(b)
          else if (b.isEmpty) toBronzeDf(a)
          else UpsertWriter.merge(
            // dedup within each batch first (store holds one row/key)
            toBronzeDf(a).withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn"),
            toBronzeDf(b).withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn"),
            keys, version)
        // same winners (modulo exact row equality)
        assert(merged.count() === oneShot.count())
        assert(merged.exceptAll(oneShot).count() === 0)
      }
    }
  }

  test("graft_nearest_cells == brute-force top-k by (round(d2,6), cid) " +
       "on random vectors and codebooks") {
    graft.GraftExtensions.register(spark)
    val caseGen: Gen[(List[List[Double]], List[(Long, List[Double])], Int)] =
      for {
        dim <- Gen.choose(1, 8)
        nVec <- Gen.choose(1, 12)
        nCell <- Gen.choose(1, 9)
        // coarse grid values make exact round-boundary TIES likely,
        // exercising the cid tie-break, not just the distance order
        coord = Gen.choose(-4, 4).map(_ / 2.0)
        vecs <- Gen.listOfN(nVec, Gen.listOfN(dim, coord))
        cells <- Gen.listOfN(nCell, Gen.listOfN(dim, coord))
        probes <- Gen.choose(1, 4)
      } yield (vecs, cells.zipWithIndex.map { case (cv, i) =>
        ((i.toLong * 7) % 11, cv) }, probes) // non-monotone cell ids
    forAllSampled(caseGen, 25) { case (vecs, cells, probes) =>
      def roundHalfUp(d: Double): Double =
        java.math.BigDecimal.valueOf(d)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      def expectedFor(v: List[Double]): Seq[Long] =
        cells.map { case (cid, cv) =>
          val d = v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
          (roundHalfUp(d), cid)
        }.sorted.take(probes).map(_._2)
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val cellsLit = array(cells.map { case (cid, cv) =>
        struct(lit(cid), array(cv.map(lit): _*)) }: _*)
      val got = df.select($"vec_id",
          call_function("graft_nearest_cells", $"v", cellsLit, lit(probes))
            .as("cell_id"))
        .collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSeq).toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        assert(got(i.toLong) === expectedFor(v),
          s"vec $v cells $cells probes $probes")
      }
    }
  }

  // --- incremental-maintenance family: for ANY corpus and ANY diff,
  // maintaining stored state must equal the full recompute over the
  // new snapshot. A tiny vocabulary forces n-gram collisions so the
  // bench-delta and carry paths are genuinely exercised.

  private case class DocCase(id: Long, status: String,
                             prevText: String, curText: String)

  private val corpusGen: Gen[List[DocCase]] = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val text = Gen.listOfN(10, word).map(_.mkString(" "))
    val doc = for {
      status <- Gen.frequency(6 -> "unchanged", 1 -> "removed",
        1 -> "added", 1 -> "changed")
      t1 <- text
      t2 <- text
    } yield (status, t1, t2)
    Gen.listOfN(30, doc).map(_.zipWithIndex.map { case ((s, t1, t2), i) =>
      DocCase(i.toLong, s, t1, t2)
    })
  }

  private def snapshotsOf(cs: List[DocCase]) = {
    val prev = cs.filter(_.status != "added")
      .map(c => c.id -> c.prevText).toDF("doc_id", "text")
    val cur = cs.filter(_.status != "removed")
      .map(c => c.id -> (if (c.status == "changed") c.curText
                         else c.prevText)).toDF("doc_id", "text")
    val diff = cs.map(c => c.id -> c.status).toDF("doc_id", "status")
    (prev, cur, diff)
  }

  test("property: q83 tertile bucketing agrees between Spark's " +
       "percentile and the oracle's quantile_cont arithmetic, " +
       "including scores within ±1e-6 of a boundary") {
    // The latent flake pinned here (ADVICE r8 / VERDICT r9 item 7):
    // both engines interpolate the tertile independently and
    // ROUND(…,6); a doc score AT a rounded boundary must classify
    // identically via the shared `>=` CASE. Scores are 6dp-rounded
    // (the q74 discipline), so ties are exact — this drives scores
    // deliberately ONTO and ±1e-6 AROUND the interpolated boundary
    // and checks Spark's bucket against a pure-Scala reference
    // implementing DuckDB's quantile_cont + ROUND half-away-from-zero.
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // DuckDB quantile_cont / Spark Percentile shared formula:
    // lower + (upper - lower) * frac at rank (n-1)*q
    def qcont(sorted: IndexedSeq[Double], q: Double): Double = {
      val h = (sorted.length - 1) * q
      val lo = h.toInt
      if (lo + 1 < sorted.length)
        sorted(lo) + (sorted(lo + 1) - sorted(lo)) * (h - lo)
      else sorted(lo)
    }
    val scoresGen = Gen.listOfN(50, Gen.choose(-10.0, 0.0).map(r6))
    forAllSampled(scoresGen, 8) { base =>
      val b1 = qcont(base.sorted.toIndexedSeq, 1.0 / 3)
      val b2 = qcont(base.sorted.toIndexedSeq, 2.0 / 3)
      val scores = (base ++ Seq(b1, b2).flatMap(b =>
        Seq(r6(b - 1e-6), r6(b), r6(b + 1e-6)))).map(r6)
      val df = scores.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "score")
      val bounds = df.agg(
          round(percentile($"score", lit(1.0 / 3)), 6).as("lo"),
          round(percentile($"score", lit(2.0 / 3)), 6).as("hi"))
        .collect().head
      val (sparkLo, sparkHi) = (bounds.getDouble(0), bounds.getDouble(1))
      val sparkBuckets = df.select($"doc_id",
          when($"score" >= sparkHi, "head")
            .when($"score" >= sparkLo, "middle")
            .otherwise("tail").as("b"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val sorted = scores.sorted.toIndexedSeq
      val (refLo, refHi) =
        (r6(qcont(sorted, 1.0 / 3)), r6(qcont(sorted, 2.0 / 3)))
      assert(sparkLo === refLo && sparkHi === refHi,
        s"boundary interpolation diverged: spark=($sparkLo,$sparkHi) " +
          s"ref=($refLo,$refHi)")
      scores.zipWithIndex.foreach { case (s, i) =>
        val ref = if (s >= refHi) "head"
                  else if (s >= refLo) "middle" else "tail"
        assert(sparkBuckets(i.toLong) === ref,
          s"score=$s bucket flip: spark=${sparkBuckets(i.toLong)} ref=$ref")
      }
    }
  }

  test("property: incremental decontamination == full recompute for " +
       "any corpus and any diff (bench docs included)") {
    forAllSampled(corpusGen, 8) { cs =>
      val (prev, cur, diff) = snapshotsOf(cs)
      val (fps, counts, bench) = graft.operators.Corpus
        .decontamStateFrom(prev)
      val inc = graft.operators.Corpus
        .incrementalDecontamOf(fps, counts, bench, cur, diff)
        .collect().map(_.toSeq).toSeq
      val full = graft.operators.Corpus.decontaminateFrom(cur)
        .collect().map(_.toSeq).toSeq
      assert(inc === full)
    }
  }

  test("property: incremental dedup keep-corpus == full chain for " +
       "any corpus and any diff") {
    forAllSampled(corpusGen, 4) { cs =>
      val (prev, cur, diff) = snapshotsOf(cs)
      val (fps, bands, cand, verified) =
        graft.operators.Dedup.indexState(prev)
      val inc = graft.operators.Dedup
        .incrementalKeepCorpusOf(fps, bands, cand, verified, cur, diff)
        .collect().map(_.toSeq).toSeq
      val full = graft.operators.Dedup.dedupKeepCorpusFrom(cur,
        graft.operators.Dedup.dedupClustersFrom(
          graft.operators.Dedup.lshNearDupPairsFrom(
            graft.operators.Dedup.shingleFpsFrom(cur))
            .select(col("doc_a"), col("doc_b"))))
        .collect().map(_.toSeq).toSeq
      assert(inc === full)
    }
  }
}
