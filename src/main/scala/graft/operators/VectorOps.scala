package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.state.Published
import graft.syntax._

/** Similarity search over the `embeddings` fixture (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline and an
  * IVF-style cell assignment as the scale path.
  *
  * Numeric parity: elements are cast FLOAT→DOUBLE before any
  * arithmetic, and dot/norm folds are explicit sequential left-folds
  * (`aggregate` in Spark, `list_reduce` in DuckDB) — both engines do
  * the same IEEE ops in the same order, so cosines match bit-for-bit
  * before the defensive 6dp rounding.
  *
  * Scale notes: brute-force is O(Q·N·d) with a broadcast query side —
  * fine for reranking, not for N=10^9; the IVF assignment shows the
  * bucketed layout (partition by cell, prune cells at query time). A
  * codegen'd Catalyst Expression for the dot product is the next
  * optimization if the fold shows up in profiles.
  */
object VectorOps {

  /** embedding as array<double>. */
  private def vecD(c: String): Column =
    expr(s"transform($c, x -> CAST(x AS DOUBLE))")

  /** Codegen'd sequential dot product (graft.functions.DotProduct) —
    * same left-to-right accumulation as the interpreted HOF fold and
    * DuckDB's list_reduce, ~100× faster on all-pairs workloads. Args
    * are column names; the kernels are registered SQL functions. */
  def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  def l2norm(a: String): Column = expr(s"graft_l2norm($a)")

  /** DuckDB equivalents (list_reduce has no init; prepending 0.0
    * yields the same fold: 0.0 + x == x). */
  def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), x -> x[1] * x[2])), (p, q) -> p + q)"
  def sqlNorm(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (p, q) -> p + q))"

  /** Normalized vectors with precomputed norms. Scan parallelism comes
    * from the warehouse layout (multi-split files — see Bench's
    * ingest step); an explicit repartition here was measured SLOWER
    * for the broadcast-probe queries (the 2k-vector fixture corpus is
    * too small to amortize an extra exchange). */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    vecsFrom(Tables.embeddings(spark, dir))

  /** (vec_id, v, nrm) over any embeddings-shaped frame — the shared
    * corpus normalization, public for specs/dev amplification. */
  def vecsFrom(embeddings: DataFrame): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    embeddings
      .select($"vec_id", vecD("embedding").as("v"))
      .withColumn("nrm", l2norm("v"))
  }

  private val vecsCte: String =
    """vecs AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |normed AS (
      |  SELECT vec_id, v, %s AS nrm FROM vecs)"""
      .stripMargin.format(sqlNorm("v"))

  val TopK = 5
  val NumQueries = 10

  /** q49 — brute-force cosine top-k: the exact ANN baseline. The tiny
    * query side broadcasts; the corpus scan is a single pass. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val queries = all.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val scored = all.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(dot("qv", "v") / ($"qn" * $"nrm"), 6).as("cos_sim"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  val cosineTopKSql: String =
    s"""WITH $vecsCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROUND(${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos_sim
       |  FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q50 — IVF cell assignment: every vector is assigned to its
    * nearest centroid of a k-means codebook fitted by
    * [[fittedCentroids]]. At scale this is the write-path of an IVF
    * index: partition the corpus by cell_id; queries then probe a few
    * cells instead of the full corpus. Centroids broadcast. */
  private def seedCentroids(all: DataFrame): DataFrame =
    all.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("centroid_id"), $"v".as("cv"))

  /** Lloyd refinement rounds in the codebook fit. Two rounds moves
    * every seed to the center of mass of a real cell; more rounds
    * converge further but the index structure (and its oracle
    * twinning) is identical. */
  val IvfFitRounds = 2

  /** Fixture embedding dimensionality — the oracle SQL's per-position
    * mean iterates generate_series(1, VecDim). */
  val VecDim = 64

  /** Deterministic k-means codebook: seeds are the data-derived
    * vec_id % 100 == 0 subset, refined by [[IvfFitRounds]] Lloyd
    * steps — assign every vector to its nearest centroid (the same
    * argmin kernel the index itself uses), then re-center each cell
    * at its member mean. The mean follows the Exact.davg discipline
    * element-wise so the fitted codebook is BIT-IDENTICAL in Spark
    * and the DuckDB oracle: components quantized to 6 dp (both
    * engines ROUND identically), summed as DECIMAL(18,6) — exact,
    * order-independent — and divided by the member count in double
    * space. Cells that lose all members drop out identically. An
    * offline MLlib KMeans would converge tighter but is not
    * bit-reproducible across engines; this fit keeps q50/q54 inside
    * the hash gate while being a genuine Lloyd optimization. */
  def fittedCentroids(all: DataFrame): DataFrame = {
    var cents = seedCentroids(all)
    for (_ <- 1 to IvfFitRounds) {
      val assigned = assignCells(all, cents)
      val mean = assigned
        .select($"cell_id", posexplode($"v").as(Seq("pos", "val")))
        .groupBy($"cell_id", $"pos")
        .agg((sum(round($"val", 6).cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("c"))
      cents = mean.groupBy($"cell_id")
        .agg(transform(sort_array(collect_list(struct($"pos", $"c"))),
          x => x("c")).as("cv"))
        .select($"cell_id".as("centroid_id"), $"cv")
        // lazy localCheckpoint, not cache(): a per-round cache() pins
        // IvfFitRounds CacheManager entries nobody can unpersist; the
        // checkpoint also truncates the per-round lineage (the q62
        // iterative-algorithm discipline)
        .localCheckpoint(false)
    }
    cents
  }

  /** Oracle CTE chain mirroring [[fittedCentroids]]: cents0 = seeds,
    * then per round an argmin assignment + decimal-exact per-position
    * mean, ending in `cents` (the fitted codebook). `src` names the
    * CTE the fit draws from — `normed` (the full corpus) for q50/q54/
    * q69, the stable training sample for q91. `suffix` disambiguates
    * the generated CTE names so one statement can hold two fits (q105
    * compares the stored fit against a fresh one). */
  private def fitCtesFrom(src: String, suffix: String = ""): String = {
    def d2(v: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    val sb = new StringBuilder
    sb.append(
      s"""cents${suffix}0 AS (
        |  SELECT vec_id AS centroid_id, v AS cv FROM $src
        |  WHERE vec_id % 100 = 0)""".stripMargin)
    for (r <- 1 to IvfFitRounds) {
      sb.append(s""",
        |fit_assign$suffix$r AS (
        |  SELECT vec_id, v, centroid_id AS cell_id FROM (
        |    SELECT a.vec_id, a.v, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |        ORDER BY ROUND(${d2("a.v")}, 6) ASC, c.centroid_id ASC) AS rn
        |    FROM $src a CROSS JOIN cents$suffix${r - 1} c)
        |  WHERE rn = 1),
        |fit_mean$suffix$r AS (
        |  SELECT cell_id, i,
        |    CAST(SUM(CAST(ROUND(v[i], 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c
        |  FROM fit_assign$suffix$r, (SELECT unnest(generate_series(1, $VecDim)) AS i)
        |  GROUP BY cell_id, i),
        |cents$suffix$r AS (
        |  SELECT cell_id AS centroid_id, list(c ORDER BY i) AS cv
        |  FROM fit_mean$suffix$r GROUP BY cell_id)""".stripMargin)
    }
    sb.append(s""",
      |cents$suffix AS (SELECT centroid_id, cv FROM cents$suffix$IvfFitRounds)""".stripMargin)
    sb.toString
  }

  private def fitCtes: String = fitCtesFrom("normed")

  /** Shared nearest-centroid assignment (one row per vector with its
    * cell and distance) — used by both the q50 write-path and the q54
    * read-path so the two cannot drift.
    *
    * Argmin is a `min(struct(dist2, centroid_id, …))` hash aggregate,
    * not a window rank: the struct comparison is lexicographic, so the
    * minimum is (smallest dist2, then smallest centroid_id) — the same
    * total order the previous row_number() used — but the aggregate
    * combines map-side, shuffling ONE row per vec_id instead of
    * sorting a (vectors × centroids)-wide exchange. centroid_id is
    * unique per group, so the trailing v/nrm fields never participate
    * in the comparison; they just ride along with the winner. */
  private[graft] def assignCells(all: DataFrame,
                                 centroids: DataFrame): DataFrame =
    all.crossJoin(broadcast(centroids))
      .withColumn("dist2", round(expr("graft_sqdist(v, cv)"), 6))
      .groupBy($"vec_id")
      .agg(min(struct($"dist2", $"centroid_id", $"v", $"nrm")).as("m"))
      .select($"vec_id", $"m.centroid_id".as("cell_id"), $"m.dist2".as("dist2"),
        $"m.v".as("v"), $"m.nrm".as("nrm"))

  /** Fitted codebooks published per corpus dir. The k-means fit is the
    * OFFLINE write-path step of an IVF index — production fits once
    * when the index is built, then every assign/search call loads the
    * published centroids. [[fittedCentroids]] is deterministic (fixed
    * seeds, fixed rounds, order-independent decimal means), so the
    * published codebook is byte-identical to a fresh fit; the first
    * call per corpus pays the fit, after which q50 measures the
    * assignment write-path and q54 the probe read-path — the
    * steady-state cost profile of a real IVF deployment. The collected
    * codebook is tiny (corpus/100 centroids × VecDim doubles) and
    * rehydrates as a LocalRelation, which broadcasts for free. */
  private[graft] def codebookRowsFor(spark: SparkSession,
                                     dir: String): Array[(Long, Seq[Double])] =
    Published(spark, "vector.codebook", dir,
        Published.inventory(dir, "embeddings")) {
      val all = vecs(spark, dir).cache()
      try fittedCentroids(all).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      finally all.unpersist()
    }

  private def codebookFor(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(codebookRowsFor(spark, dir).toIndexedSeq)
      .toDF("centroid_id", "cv")

  def ivfAssign(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    assignCells(all, codebookFor(spark, dir))
      .select($"vec_id", $"cell_id", $"dist2")
      .orderBy($"vec_id")
  }

  val ivfAssignSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH $vecsCte,
       |$fitCtes,
       |scored AS (
       |  SELECT a.vec_id, c.centroid_id, ROUND($d2, 6) AS dist2
       |  FROM normed a CROSS JOIN cents c)
       |SELECT vec_id, centroid_id AS cell_id, dist2 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist2 ASC, centroid_id ASC) AS rn
       |  FROM scored)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** q54 — IVF top-k SEARCH: each query probes its `NumProbes` nearest
    * centroids and scans only vectors assigned to those cells — the
    * read-path of the IVF index whose write-path is q50. At 100 TB the
    * corpus is laid out partitioned by cell_id, so a probe touches
    * `probes/cells` of the data; recall vs the exact q49 baseline is
    * measured in TextDedupSpec. All arithmetic is the same deterministic
    * kernel chain, so the result is oracle-checkable. */
  val NumProbes = 2

  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopKProbes(spark, dir, NumProbes)

  /** q54 with an explicit probe count — the recall-vs-cost knob every
    * IVF deployment tunes; TextDedupSpec measures the curve for
    * probes 1..4 against the exact q49 baseline (table in SCALE.md). */
  def ivfTopKProbes(spark: SparkSession, dir: String,
                    numProbes: Int): DataFrame = {
    require(numProbes >= 1, "ivfTopK needs at least one probe")
    val all = vecs(spark, dir)
    val centroids = codebookFor(spark, dir)
    // cell assignment — exactly the q50 write-path (shared helper)
    val assigned = assignCells(all, centroids)
      .select($"vec_id", $"v", $"nrm", $"cell_id")
    // probe list: each query's numProbes nearest centroids
    val queries = all.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"qdist2".asc, $"centroid_id".asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .select($"query_id", $"qv", $"qn", $"centroid_id",
              expr("graft_sqdist(qv, cv)").as("qdist2"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= numProbes)
      .select($"query_id", $"qv", $"qn", $"centroid_id".as("cell_id"))
    // scan only the probed cells
    val scored = probes.join(assigned, Seq("cell_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(dot("qv", "v") / ($"qn" * $"nrm"), 6).as("cos_sim"))
    val wTop = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(wTop).cast(LongType))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  val ivfTopKSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(%s, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH $vecsCte,
       |$fitCtes,
       |assigned AS (
       |  SELECT vec_id, v, nrm, centroid_id AS cell_id FROM (
       |    SELECT a.vec_id, a.v, a.nrm, c.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ROUND(${d2.format("a.v")}, 6) ASC, c.centroid_id ASC) AS rn
       |    FROM normed a CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, qv, qn, centroid_id AS cell_id FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${d2.format("q.v")} ASC, c.centroid_id ASC) AS pr
       |    FROM normed q CROSS JOIN cents c
       |    WHERE q.vec_id < $NumQueries)
       |  WHERE pr <= $NumProbes),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ROUND(${sqlDot("p.qv", "a.v")} / (p.qn * a.nrm), 6) AS cos_sim
       |  FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  /** q51 — embedding-cosine near-duplicate pairs above a threshold
    * (the embedding variant of the dedup family). All-pairs here;
    * the LSH/IVF bucketing above is the scale path. */
  val CosineDupThreshold = 0.45

  /** Ceiling for the exact all-pairs baseline: N(N−1)/2 kernel calls
    * stop fitting a node-hour around N ≈ 10⁶ (SCALE.md knee), so the
    * query REFUSES loudly well before that rather than silently going
    * quadratic — 10⁴ here, sized to the fixture ladder (sf0.1 has
    * 2,000 vectors; a 10× amplification trips the guard). Past the
    * cap, q50/q54's IVF layout is the defensible plan; this baseline
    * is for oracle twinning and borderline-pair audits. */
  val MaxExactVectors = 10000L

  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupsFrom(vecs(spark, dir))

  /** All-pairs kernel over any (vec_id, v, nrm) frame, guarded by
    * [[MaxExactVectors]]. The count is one columnar scan — cheap
    * next to the N²/2 join it gates. */
  def embeddingNearDupsFrom(all: DataFrame): DataFrame = {
    val n = all.count()
    require(n <= MaxExactVectors,
      s"embeddingNearDups is the exact all-pairs baseline: $n vectors " +
        s"would be ~${n * (n - 1) / 2} kernel evaluations (cap " +
        s"$MaxExactVectors). Use ivfAssign/ivfTopK (q50/q54) at this " +
        "scale, or pre-filter the corpus slice.")
    val a = all.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("na"))
    val b = all.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nb"))
    a.join(b, $"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b",
        round(dot("va", "vb") / ($"na" * $"nb"), 6).as("cos_sim"))
      .filter($"cos_sim" >= CosineDupThreshold)
      .orderBy($"vec_a", $"vec_b")
  }

  val embeddingNearDupsSql: String =
    s"""WITH $vecsCte
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ROUND(${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
       |FROM normed a JOIN normed b ON a.vec_id < b.vec_id
       |WHERE ROUND(${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
       |      >= $CosineDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------
  // q69 — IVF-bucketed near-dup pairs: the PRODUCTION path past
  // MaxExactVectors. Cluster-then-dedup-within-cells (the standard
  // embedding-dedup shape): candidates are pairs sharing any of each
  // vector's NearDupProbes nearest cells, verified with the exact
  // cosine kernel. Sign-hyperplane LSH was considered and rejected
  // for this corpus: its effective regime is cos ≳ 0.8, while the
  // fixture's true pairs sit at 0.45–0.5 where hyperplane bands prune
  // nothing; cell-blocking prunes by GEOMETRY (shared Voronoi cells),
  // which is exactly where moderate-similarity neighbors live.
  //
  // Scale shape: the codebook seeds every-100th vector, so cells grow
  // as N/100 and per-cell occupancy stays ~100·probes regardless of N
  // — candidate count ≈ cells × (probes·100)² is LINEAR in N, vs the
  // exact baseline's N². The assignment is row-local (codebook inlined
  // as a literal — see assignCellsProbes), so the ONLY corpus shuffle
  // is the cell_id candidate join. Recall vs q51 is measured in the spec
  // (2-probe multiprobe recovers pairs straddling a cell boundary);
  // a degenerate corpus (mass at one point) surfaces as a fat cell in
  // q50's assignment histogram, the audit view for this operator.
  // ---------------------------------------------------------------

  val NearDupProbes = 2

  /** Row-local N-probe corpus assignment through the
    * [[graft.functions.NearestCells]] Generator: each vector scores
    * every cell and keeps its `probes` nearest INSIDE its own row —
    * ZERO shuffle, vs the crossJoin+window formulation's N×cells-wide
    * sort exchange (the exact shape [[assignCells]]'s min-struct
    * aggregate exists to avoid). The codebook crosses the function
    * boundary as a foldable literal but is folded into plain arrays at
    * analysis, so neither the plan nor the generated code grows with
    * cell count (a literal-array formulation measured 53 s at 200
    * cells; this one ~1 s). */
  private[graft] def assignCellsProbes(all: DataFrame,
                                       codebook: Array[(Long, Seq[Double])],
                                       probes: Int): DataFrame = {
    val cellsLit = array(codebook.map { case (id, cv) =>
      struct(lit(id), array(cv.map(lit): _*)) // (cid, cv) by position
    }.toIndexedSeq: _*)
    all.select($"vec_id", $"v", $"nrm",
      call_function("graft_nearest_cells", $"v", cellsLit, lit(probes))
        .as("cell_id"))
  }

  def ivfNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    ivfNearDupPairsFrom(vecs(spark, dir), codebookRowsFor(spark, dir))

  /** The PUBLISHED near-dup pair table of the embedding store — the
    * artifact q69's nightly job lands, which cross-store consumers
    * (q128) read instead of re-running assign/verify per query (the
    * StoredIndex publish-once rule on the vector side). q93/q69
    * themselves stay one-shot — their bench rows price the nightly
    * job. */
  private[graft] def publishedNearDupPairs(spark: SparkSession,
                                           dir: String): DataFrame =
    Published(spark, "vector.pairs", dir,
        Published.inventory(dir, "embeddings")) {
      ivfNearDupPairs(spark, dir)
        .select($"vec_a", $"vec_b").localCheckpoint(true)
    }

  /** The q69 path with the probe knob exposed at the corpus-dir level
    * (the deployment entry — mirrors `ivfTopKProbes`). */
  def ivfNearDupPairs(spark: SparkSession, dir: String,
                      probes: Int): DataFrame =
    ivfNearDupPairsProbes(vecs(spark, dir), codebookRowsFor(spark, dir),
      probes)

  /** q69 over any (vec_id, v, nrm) frame with explicit codebook rows —
    * the spec/stress entry (the named query feeds the published
    * per-corpus codebook). */
  def ivfNearDupPairsFrom(all: DataFrame,
                          codebook: Array[(Long, Seq[Double])]): DataFrame =
    ivfNearDupPairsProbes(all, codebook, NearDupProbes)

  /** q69 with an explicit probe count — the recall-vs-cost knob,
    * mirroring [[ivfTopKProbes]] (VERDICT r6 hygiene #2: a
    * recall-sensitive user tunes this instead of editing source).
    * Candidates grow ~linearly in probes (each vector lands in
    * `probes` cells), so cost scales smoothly; the recall curve vs the
    * exact q51 baseline is measured in TextDedupSpec (table in
    * SCALE.md). The NAMED q69 stays at [[NearDupProbes]] = 2 so its
    * oracle hash is unchanged. */
  def ivfNearDupPairsProbes(all: DataFrame,
                            codebook: Array[(Long, Seq[Double])],
                            probes: Int): DataFrame = {
    require(probes >= 1, "ivfNearDupPairs needs at least one probe")
    val assigned =
      assignCellsProbes(all, codebook, probes)
        .localCheckpoint(false) // both self-join sides read it
    assigned.as("x").join(assigned.as("y"), Seq("cell_id"))
      .filter($"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"x.v".as("va"), $"x.nrm".as("na"),
              $"y.vec_id".as("vec_b"), $"y.v".as("vb"), $"y.nrm".as("nb"))
      // A pair can share up to `probes` cells. Verify the duplicates
      // and dedup AFTER the threshold filter, not before: the kernel
      // is codegen'd and pipeline-local (the fat vector payload never
      // crosses a shuffle), whereas a pre-kernel dropDuplicates
      // sort-shuffles candidate×vector-payload rows — measured 43 s vs
      // ~4 s for the 10× pair stage. cos_sim is deterministic per
      // pair, so distinct() on the thin result is exact.
      .select($"vec_a", $"vec_b",
        round(dot("va", "vb") / ($"na" * $"nb"), 6).as("cos_sim"))
      .filter($"cos_sim" >= CosineDupThreshold)
      .distinct()
      .orderBy($"vec_a", $"vec_b")
  }

  lazy val ivfNearDupPairsSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH $vecsCte,
       |$fitCtes,
       |assigned_n AS (
       |  SELECT vec_id, centroid_id AS cell_id FROM (
       |    SELECT a.vec_id, c.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ROUND($d2, 6) ASC, c.centroid_id ASC) AS rn
       |    FROM normed a CROSS JOIN cents c)
       |  WHERE rn <= $NearDupProbes),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM assigned_n x JOIN assigned_n y
       |    ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id)
       |SELECT c.vec_a, c.vec_b,
       |  ROUND(${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
       |FROM cand c
       |JOIN normed a ON a.vec_id = c.vec_a
       |JOIN normed b ON b.vec_id = c.vec_b
       |WHERE ROUND(${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
       |      >= $CosineDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // q78 — label coherence: per-label embedding centroids (class
  // prototypes) and each vector's cosine to its OWN label's centroid.
  // The training-data QA pass that surfaces mislabeled / outlier
  // examples: a vector pointing away from its class prototype
  // (cos < CoherenceMin) is a labeling suspect, reviewed or dropped
  // before the corpus ships.
  //
  // 100 TB shape: the centroid is ONE partial-aggregable pass —
  // graft_vec_avg (a TypedImperativeAggregate) folds map-side, so the
  // shuffle carries `labels × dim` longs, not `rows × dim` exploded
  // positions; the score-back join broadcasts the centroid table
  // (labels are bounded — classes, clusters, shards — never
  // corpus-sized). Total cost: two corpus scans, zero corpus-sized
  // shuffles.
  // ---------------------------------------------------------------

  /** Coherence gate: cos-to-own-centroid below this flags the row.
    * On the fixture corpus ~10% of vectors land below 0 (p10 ≈
    * −0.004), so the gate marks the genuinely-antipodal tail. */
  val CoherenceMin = 0.0

  def labelCoherence(spark: SparkSession, dir: String): DataFrame =
    labelCoherenceFrom(Tables.embeddings(spark, dir))

  /** (vec_id, label, n_label, cos_centroid, coherent) over any
    * embeddings-shaped frame, ordered by vec_id. */
  def labelCoherenceFrom(embeddings: DataFrame): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val all = embeddings
      .select($"vec_id", $"label", vecD("embedding").as("v"))
      .withColumn("nrm", l2norm("v"))
    val cents = all.groupBy($"label")
      .agg(expr("graft_vec_avg(v)").as("cv"),
        count(lit(1)).as("n_label"))
    all.join(broadcast(cents), Seq("label"))
      .select($"vec_id", $"label", $"n_label",
        round(dot("v", "cv") / ($"nrm" * l2norm("cv")), 6)
          .as("cos_centroid"))
      .withColumn("coherent", $"cos_centroid" >= CoherenceMin)
      .orderBy($"vec_id")
  }

  /** Oracle twin: the decimal-exact per-position mean (the
    * [[fittedCentroids]] fit_mean discipline) recomposed per label,
    * then the same rounded cosine. */
  val labelCoherenceSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |normed AS (
       |  SELECT vec_id, label, v, ${sqlNorm("v")} AS nrm FROM vecs),
       |mean AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(ROUND(v[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(*) AS c
       |  FROM normed, (SELECT unnest(generate_series(1, $VecDim)) AS i)
       |  GROUP BY label, i),
       |cents AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM mean GROUP BY label),
       |sizes AS (SELECT label, COUNT(*) AS n_label FROM normed GROUP BY label)
       |SELECT a.vec_id, a.label, s.n_label,
       |  ROUND(${sqlDot("a.v", "c.cv")} / (a.nrm * ${sqlNorm("c.cv")}), 6)
       |    AS cos_centroid,
       |  ROUND(${sqlDot("a.v", "c.cv")} / (a.nrm * ${sqlNorm("c.cv")}), 6)
       |    >= $CoherenceMin AS coherent
       |FROM normed a
       |JOIN cents c ON a.label = c.label
       |JOIN sizes s ON a.label = s.label
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q91 — incremental IVF index maintenance: bring the q50 assignment
  // table up to date with a crawl diff by assigning ONLY the vectors
  // the diff marks added/changed against the STORED codebook, carrying
  // every unchanged assignment forward untouched and dropping the
  // removed — the q84/q88/q89 incremental-maintenance discipline
  // applied to the vector index (VERDICT r8 item 3). Sound because an
  // IVF assignment is vector-local GIVEN a frozen codebook: a vector's
  // cell depends on its own embedding and the centroids alone.
  //
  // The codebook is fitted once on a STABLE TRAINING SAMPLE — vectors
  // untouched by the diff (present and identical in both snapshots) —
  // and frozen, the production posture: IVF codebooks train on a
  // sample at index build and every subsequent assign loads the
  // published centroids. A corpus drift large enough to invalidate the
  // codebook is the explicit REBUILD trigger (refit + full q50
  // reassign), exactly as a failed q81 drift bound triggers a rescore;
  // maintenance never refits implicitly, because a moved centroid
  // silently invalidates EVERY stored assignment, not just the dirty
  // slice.
  //
  // The oracle is the FULL q50 assignment over the new snapshot
  // against the same sample-fitted codebook: a hash match proves
  // carry-forward ∪ reassign == reassign-everything.
  //
  // 100 TB shape: the carry side is one broadcast anti-join of the
  // stored assignment table against the (tiny) dirty vec_id set —
  // zero corpus shuffle; the assign subtree (broadcast codebook ×
  // dirty slice) runs over only added/changed vectors. A nightly
  // crawl touching 0.1% of the corpus pays 0.1% of the assignment
  // cost, and with the assignment table laid out by cell_id the
  // touched-partition rewrite is bounded by the dirty slice's cells.
  // ---------------------------------------------------------------

  /** The vector-snapshot derivation — the q84 doc_id mods applied to
    * vec_id so the two incremental families share one fixture story.
    * prev lacks the to-be-added vectors; cur lacks the removed. As
    * with [[Corpus.snapshotPrev]], changed vectors are salted only in
    * their prev DIGEST, never their values: every consumer recomputes
    * changed vectors from the current snapshot, so prev values only
    * matter for rows that survive the carry-forward — and those are
    * identical in both snapshots by definition. */
  private[graft] def vecSnapshotPrev(all: DataFrame): DataFrame =
    all.filter($"vec_id" % Corpus.SnapAddedMod =!= Corpus.SnapAddedRes)

  private[graft] def vecSnapshotCur(all: DataFrame): DataFrame =
    all.filter($"vec_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes)

  /** The frozen-codebook training sample: vectors the diff cannot
    * touch (not added, not removed, not changed), so the sample — and
    * the codebook fitted on it — is byte-identical whether computed
    * from the previous or the current snapshot. */
  private[graft] def vecSnapshotSample(all: DataFrame): DataFrame =
    all.filter(
      $"vec_id" % Corpus.SnapAddedMod =!= Corpus.SnapAddedRes &&
      $"vec_id" % Corpus.SnapRemovedMod =!= Corpus.SnapRemovedRes &&
      $"vec_id" % Corpus.SnapChangedMod =!= Corpus.SnapChangedRes)

  /** Content digest of a vector for the snapshot diff. Spark-side
    * only (the oracle never sees digests — q91's output is the
    * assignment table), so double→string formatting needs no
    * cross-engine parity, just determinism. */
  private def vecContentStr: Column =
    concat_ws(",", expr("transform(v, x -> CAST(x AS STRING))"))

  /** The q84 diff over the two derived VECTOR snapshots —
    * [[Corpus.snapshotDiffOf]] reused verbatim (it is keyed by a
    * `doc_id` column; vec_id rides through under that name and is
    * renamed back), so presence markers and null-safe digest compare
    * semantics have one home. */
  private[graft] def vecSnapshotDiff(all: DataFrame): DataFrame = {
    val prev = vecSnapshotPrev(all).select($"vec_id".as("doc_id"),
      md5(when($"vec_id" % Corpus.SnapChangedMod === Corpus.SnapChangedRes,
            concat(vecContentStr, lit(":prev")))
          .otherwise(vecContentStr).cast(BinaryType)).as("prev_digest"))
    val cur = vecSnapshotCur(all).select($"vec_id".as("doc_id"),
      md5(vecContentStr.cast(BinaryType)).as("cur_digest"))
    Corpus.snapshotDiffOf(prev, cur)
      .select($"doc_id".as("vec_id"), $"status")
  }

  /** Stored vector-index state published per corpus dir (the
    * q88/q89/tfState discipline): production publishes the frozen
    * sample codebook, the q50 assignment table, the q69 N-probe
    * assignment + verified pair tables, and the diff with the
    * snapshot; every maintenance run LOADS them, so the named queries
    * (q91, q95) measure maintenance, not the stored index's build.
    * One home for all vector stored state, shared by both consumers.
    * (sample codebook rows, prev q50 assignment, prev q69 N-probe
    * assignment, prev verified pairs, diff). */
  private[graft] def vecIndexState(spark: SparkSession, dir: String)
      : (Array[(Long, Seq[Double])], DataFrame, DataFrame, DataFrame,
         DataFrame) =
    Published(spark, "vector.index", dir,
        Published.inventory(dir, "embeddings")) {
      val all = vecs(spark, dir)
      val sample = vecSnapshotSample(all).cache()
      val cb =
        try fittedCentroids(sample).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        finally sample.unpersist()
      val codebook = spark.createDataFrame(cb.toIndexedSeq)
        .toDF("centroid_id", "cv")
      val prev = vecSnapshotPrev(all).localCheckpoint(false)
      (cb,
        assignCells(prev, codebook)
          .select($"vec_id", $"cell_id", $"dist2").localCheckpoint(true),
        assignCellsProbes(prev, cb, NearDupProbes)
          .select($"vec_id", $"cell_id").localCheckpoint(true),
        ivfNearDupPairsProbes(prev, cb, NearDupProbes)
          .select($"vec_a", $"vec_b").localCheckpoint(true),
        vecSnapshotDiff(all).localCheckpoint(true))
    }

  def incrementalIvfAssign(spark: SparkSession, dir: String): DataFrame = {
    val (cbRows, prevAssign, _, _, diff) = vecIndexState(spark, dir)
    val codebook = spark.createDataFrame(cbRows.toIndexedSeq)
      .toDF("centroid_id", "cv")
    incrementalIvfAssignOf(prevAssign, vecSnapshotCur(vecs(spark, dir)),
      diff, codebook)
  }

  /** The general operator: `prevAssign` = the stored q50 output for
    * the previous snapshot, `curVecs` = the new snapshot as
    * (vec_id, v, nrm), `diff` = a q84-shaped status frame keyed by
    * vec_id, `codebook` = the frozen (centroid_id, cv) table. */
  def incrementalIvfAssignOf(prevAssign: DataFrame, curVecs: DataFrame,
                             diff: DataFrame, codebook: DataFrame): DataFrame = {
    // dirty = anything whose stored assignment must not survive as-is
    val dirty = diff.filter($"status" =!= "unchanged").select($"vec_id")
    val toAssign = diff.filter($"status".isin("added", "changed"))
      .select($"vec_id")
    val carried = prevAssign
      .join(broadcast(dirty), Seq("vec_id"), "left_anti")
    val fresh = assignCells(
        curVecs.join(broadcast(toAssign), Seq("vec_id")), codebook)
      .select($"vec_id", $"cell_id", $"dist2")
    carried.unionByName(fresh).orderBy($"vec_id")
  }

  /** The (vec_id, cell_id, dist2) assignment over any (vec_id, v,
    * nrm) frame against an explicit codebook — the ScaleStress/spec
    * entry to the shared argmin kernel. */
  private[graft] def assignCellsThin(all: DataFrame,
                                     codebook: DataFrame): DataFrame =
    assignCells(all, codebook).select($"vec_id", $"cell_id", $"dist2")

  /** The rebuild path q91 is measured against: a full q50 reassign of
    * the CURRENT snapshot against the frozen sample codebook (spec
    * equality + the ScaleStress A/B). */
  private[graft] def fullIvfAssignSample(spark: SparkSession,
                                         dir: String): DataFrame = {
    val all = vecs(spark, dir)
    assignCells(vecSnapshotCur(all),
        fittedCentroids(vecSnapshotSample(all).localCheckpoint(false)))
      .select($"vec_id", $"cell_id", $"dist2")
      .orderBy($"vec_id")
  }

  // ---------------------------------------------------------------
  // q105 — centroid-drift gate for the frozen-codebook family: the
  // refit-vs-carry verdict q91/q95 leave to a manual trigger
  // (VERDICT r9 item 1), i.e. [[graft.operators.Corpus
  // .vocabDriftStats]]'s discipline applied to the vector side. A
  // nightly pipeline runs this BEFORE maintenance: within the drift
  // bounds it carries the stored codebook (and every assignment /
  // pair table built on it); past them it refits and rebuilds —
  // because a moved centroid silently invalidates EVERY stored
  // assignment, never just the dirty slice.
  //
  // Two drift axes, both computed over the CURRENT snapshot:
  //   - assignment churn: the share of vectors whose argmin cell
  //     differs between the stored codebook and a fresh fit (cell ids
  //     are seed vec_ids under both fits, so "same cell" is
  //     well-defined across codebooks);
  //   - quantization-error drift: how much worse the stored codebook's
  //     mean within-cell squared distance is than the fresh fit's —
  //     the stored codebook always loses to a codebook fitted on the
  //     data it is judged on; the question is by how much.
  //
  // 100 TB shape: the fresh fit is the offline sample fit (the fit is
  // already sample-seeded at every-100th vector; production subsamples
  // its input stream the same way), and both assignments compute in
  // ONE broadcast-codebook × corpus row-local scan (the two codebooks
  // ride one tagged broadcast union) — the q50 shape, no corpus
  // shuffle; the verdict itself is one global aggregate row. Running
  // the gate costs one assignment scan; skipping it risks a silently
  // stale index, which is why the vocab side grew the same knob
  // first.
  // ---------------------------------------------------------------

  /** Churn share above which the codebook refits: a fifth of the
    * corpus changing cells means cell-locality assumptions (probe
    * recall, partition pruning) no longer describe the data. */
  val ChurnRefitShare = 0.20

  /** Quantization-error drift above which the codebook refits: the
    * stored codebook wasting >10% more squared distance than a fresh
    * fit is the classic stale-codebook signature. */
  val Dist2RefitDrift = 0.10

  def centroidDriftStats(spark: SparkSession, dir: String): DataFrame = {
    val (cbRows, _, _, _, _) = vecIndexState(spark, dir)
    val all = vecs(spark, dir)
    val cur = vecSnapshotCur(all).localCheckpoint(false)
    val stored = spark.createDataFrame(cbRows.toIndexedSeq)
      .toDF("centroid_id", "cv")
    centroidDriftStatsOf(cur, stored, fittedCentroids(cur))
  }

  /** The general gate: `cur` = the current snapshot as (vec_id, v,
    * nrm), `storedCb` = the published frozen codebook, `freshCb` = a
    * codebook freshly fitted on (a sample of) the current snapshot.
    * One verdict row. */
  def centroidDriftStatsOf(cur: DataFrame, storedCb: DataFrame,
                           freshCb: DataFrame): DataFrame = {
    // ONE corpus scan computes BOTH argmins (r15): the stored and
    // fresh codebooks ride a single broadcast union tagged by origin,
    // and a conditional min(struct) per tag replaces the former
    // two-assignCells + vec_id-equi-join shape — that join was the
    // only corpus-scale exchange in the gate. Arithmetic is
    // bit-identical: same 6dp round, same (dist2, centroid_id)
    // lexicographic tie-break, same inner-join row set (both sides
    // carried every vec_id of `cur`), so the verdict row hashes
    // unchanged. min(struct) ignores the null rows the `when`
    // produces for the other tag, and the aggregate still combines
    // map-side — one row per vec_id shuffles, nothing else.
    val tagged = storedCb
      .select($"centroid_id", $"cv", lit(true).as("st"))
      .unionByName(freshCb
        .select($"centroid_id", $"cv", lit(false).as("st")))
    cur.crossJoin(broadcast(tagged))
      .withColumn("dist2", round(expr("graft_sqdist(v, cv)"), 6))
      .groupBy($"vec_id")
      .agg(
        min(when($"st", struct($"dist2", $"centroid_id"))).as("s"),
        min(when(!$"st", struct($"dist2", $"centroid_id"))).as("f"))
      .select(
        $"s.centroid_id".as("cell_s"), $"s.dist2".as("d_s"),
        $"f.centroid_id".as("cell_f"), $"f.dist2".as("d_f"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when($"cell_s" =!= $"cell_f", 1L).otherwise(0L)).as("n_moved"),
        // dist2 is already rounded to 6dp by assignCells, so the
        // decimal cast is exact and the sum order-independent — the
        // fittedCentroids mean discipline, engine-identical
        (sum($"d_s".cast(DecimalType(18, 6))).cast(DoubleType)
          / count(lit(1))).as("ms"),
        (sum($"d_f".cast(DecimalType(18, 6))).cast(DoubleType)
          / count(lit(1))).as("mf"))
      .select(
        $"n_vecs", $"n_moved",
        round($"n_moved" * lit(1.0) / $"n_vecs", 6).as("churn_share"),
        round($"ms", 6).as("mean_dist2_stored"),
        round($"mf", 6).as("mean_dist2_fresh"),
        round(($"ms" - $"mf") / nullif($"mf", lit(0.0)), 6)
          .as("dist2_drift"))
      .withColumn("verdict",
        when($"churn_share" > ChurnRefitShare
            || $"dist2_drift" > Dist2RefitDrift, "refit")
          .otherwise("carry"))
  }

  /** q105 oracle: both fits (the stored stable-sample fit and the
    * fresh current-snapshot fit) rebuilt from their CTE chains, both
    * argmin assignments, and the same drift arithmetic — decimal-exact
    * sums, double division, 6dp rounds — so the verdict row
    * hash-matches. */
  lazy val centroidDriftStatsSql: String = {
    def d2(cents: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, centroid_id AS cell_id, dist2 FROM (
         |    SELECT a.vec_id, c.centroid_id, ROUND(${d2(cents)}, 6) AS dist2,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY ROUND(${d2(cents)}, 6) ASC, c.centroid_id ASC) AS rn
         |    FROM cur a CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $vecsCte,
       |stable AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapAddedMod} <> ${Corpus.SnapAddedRes}
       |    AND vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}
       |    AND vec_id % ${Corpus.SnapChangedMod} <> ${Corpus.SnapChangedRes}),
       |${fitCtesFrom("stable")},
       |cur AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}),
       |${fitCtesFrom("cur", "_f")},
       |${assignCte("assign_s", "cents")},
       |${assignCte("assign_f", "cents_f")},
       |agg AS (
       |  SELECT COUNT(*) AS n_vecs,
       |    SUM(CASE WHEN s.cell_id <> f.cell_id THEN 1 ELSE 0 END) AS n_moved,
       |    CAST(SUM(CAST(s.dist2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ms,
       |    CAST(SUM(CAST(f.dist2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mf
       |  FROM assign_s s JOIN assign_f f ON s.vec_id = f.vec_id)
       |SELECT n_vecs, CAST(n_moved AS BIGINT) AS n_moved,
       |  ROUND(n_moved * 1.0 / n_vecs, 6) AS churn_share,
       |  ROUND(ms, 6) AS mean_dist2_stored,
       |  ROUND(mf, 6) AS mean_dist2_fresh,
       |  ROUND((ms - mf) / NULLIF(mf, 0.0), 6) AS dist2_drift,
       |  CASE WHEN ROUND(n_moved * 1.0 / n_vecs, 6) > $ChurnRefitShare
       |         OR ROUND((ms - mf) / NULLIF(mf, 0.0), 6) > $Dist2RefitDrift
       |       THEN 'refit' ELSE 'carry' END AS verdict
       |FROM agg""".stripMargin
  }

  // ---------------------------------------------------------------
  // q110 — DRIFT-GATED IVF maintenance: q105's verdict ACTING. The
  // nightly decision loop as one operator: compute the drift verdict,
  // then either CARRY (q91's incremental maintenance against the
  // stored codebook) or REFIT (full reassignment against the fresh
  // fit — the rebuild every carry-family scaladoc names as its
  // trigger). The chosen path rides along as a `maintenance_path`
  // column so downstream jobs (and the oracle) see WHICH branch ran.
  //
  // The verdict is one aggregate row; collecting it driver-side to
  // pick the branch is the q62-checksum discipline (a scalar control
  // decision, not data movement). The oracle recomputes the identical
  // verdict in SQL and gates each branch's SELECT on it — the
  // DECISION is inside the hash gate, not just the branches.
  //
  // 100 TB shape: the gate costs one fused broadcast-codebook scan
  // (q105);
  // the carry branch is q91's dirty-slice cost; the refit branch is
  // the q50 full pass it genuinely requires. Nothing new shuffles.
  // ---------------------------------------------------------------

  def gatedIvfMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val (cbRows, prevAssign, _, _, diff) = vecIndexState(spark, dir)
    val all = vecs(spark, dir)
    val cur = vecSnapshotCur(all).localCheckpoint(false)
    val stored = spark.createDataFrame(cbRows.toIndexedSeq)
      .toDF("centroid_id", "cv")
    gatedIvfMaintenanceOf(prevAssign, cur, diff, stored,
      fittedCentroids(cur).localCheckpoint(false))
  }

  /** The general operator: the q105 gate over (`storedCb`, `freshCb`)
    * picks q91 maintenance (carry) or a full fresh-codebook
    * reassignment (refit) of `cur`. */
  def gatedIvfMaintenanceOf(prevAssign: DataFrame, cur: DataFrame,
                            diff: DataFrame, storedCb: DataFrame,
                            freshCb: DataFrame): DataFrame = {
    val verdict = centroidDriftStatsOf(cur, storedCb, freshCb)
      .select($"verdict").head().getString(0)
    val out =
      if (verdict == "refit")
        assignCells(cur, freshCb)
          .select($"vec_id", $"cell_id", $"dist2").orderBy($"vec_id")
      else incrementalIvfAssignOf(prevAssign, cur, diff, storedCb)
    out.withColumn("maintenance_path", lit(verdict))
  }

  /** q110 oracle: the q105 drift CTEs compute the same verdict, and
    * each branch's SELECT is gated on it — carry = the full q50
    * reassignment against the STORED codebook (q91's proven
    * equivalence), refit = the same against the FRESH fit. */
  lazy val gatedIvfMaintenanceSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, centroid_id AS cell_id, dist2 FROM (
         |    SELECT a.vec_id, c.centroid_id, ROUND($d2, 6) AS dist2,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY ROUND($d2, 6) ASC, c.centroid_id ASC) AS rn
         |    FROM cur a CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $vecsCte,
       |stable AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapAddedMod} <> ${Corpus.SnapAddedRes}
       |    AND vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}
       |    AND vec_id % ${Corpus.SnapChangedMod} <> ${Corpus.SnapChangedRes}),
       |${fitCtesFrom("stable")},
       |cur AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}),
       |${fitCtesFrom("cur", "_f")},
       |${assignCte("assign_s", "cents")},
       |${assignCte("assign_f", "cents_f")},
       |agg AS (
       |  SELECT
       |    SUM(CASE WHEN s.cell_id <> f.cell_id THEN 1 ELSE 0 END) AS n_moved,
       |    COUNT(*) AS n_vecs,
       |    CAST(SUM(CAST(s.dist2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ms,
       |    CAST(SUM(CAST(f.dist2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mf
       |  FROM assign_s s JOIN assign_f f ON s.vec_id = f.vec_id),
       |v AS (
       |  SELECT CASE WHEN ROUND(n_moved * 1.0 / n_vecs, 6) > $ChurnRefitShare
       |           OR ROUND((ms - mf) / NULLIF(mf, 0.0), 6) > $Dist2RefitDrift
       |         THEN 'refit' ELSE 'carry' END AS verdict FROM agg)
       |SELECT vec_id, cell_id, dist2, 'refit' AS maintenance_path
       |FROM assign_f WHERE (SELECT verdict FROM v) = 'refit'
       |UNION ALL
       |SELECT vec_id, cell_id, dist2, 'carry' AS maintenance_path
       |FROM assign_s WHERE (SELECT verdict FROM v) = 'carry'
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q93 — semantic dedup, the kept-corpus materialization on the
  // EMBEDDING side (SemDeDup, Abbas et al. 2023 "SemDeDup: Data-
  // efficient learning at web-scale through semantic deduplication"):
  // documents whose embeddings are near-identical are semantic
  // duplicates even when their text differs too much for MinHash —
  // paraphrases, templated rewrites, translations embedded into one
  // space. The pipeline is the q70 shape with the similarity kernel
  // swapped: IVF cell-blocked cosine pairs (q69 — candidates are
  // linear in N, never all-pairs) → connected components (q62's
  // two-tier CC, shared verbatim) → keep one representative (min
  // vec_id) per group, everything else on the drop list.
  //
  // 100 TB shape: inherits q69's linear candidate bound and q62's
  // O(log n) rounds; the final keep is one broadcast anti-join of the
  // corpus against the drop list (bounded by the near-dup rate), zero
  // corpus shuffle — identical posture to q70. Recall is q69's
  // (cell-blocked, measured 0.86 vs the exact baseline at 2 probes;
  // the probe knob trades it against cost), which the oracle mirrors
  // by building its pairs from the SAME IVF SQL.
  // ---------------------------------------------------------------

  def semanticKeepCorpus(spark: SparkSession, dir: String): DataFrame =
    semanticKeepCorpusFrom(Tables.embeddings(spark, dir),
      ivfNearDupPairs(spark, dir))

  /** Kept rows of `embeddings` given a (vec_a, vec_b) near-dup pair
    * frame; emits (vec_id, label) — thin, the q70 convention. */
  def semanticKeepCorpusFrom(embeddings: DataFrame,
                             pairs: DataFrame): DataFrame = {
    // r17: label-only CC (Dedup.clusterLabels) — the keep never reads
    // cluster_size, so dedupClustersFrom's size window count and sort
    // are dead work here (the q137/q103 shape).
    val dropList = Dedup.clusterLabels(
        pairs.select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
      .filter($"doc_id" =!= $"lbl") // keepers label themselves
      .select($"doc_id".as("vec_id"))
    embeddings.join(broadcast(dropList), Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label")
      .orderBy($"vec_id")
  }

  /** Oracle: the q69 pair SQL → recursive min-label reachability →
    * NOT EXISTS drop-list keep (the q62/q70 oracle chain with the
    * text kernel swapped for the IVF cosine one). */
  lazy val semanticKeepCorpusSql: String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT vec_a, vec_b FROM ($ivfNearDupPairsSql) q),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(vec_id, lbl) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.vec_id),
       |cc AS (SELECT vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY vec_id)
       |SELECT e.vec_id, e.label FROM embeddings e
       |WHERE NOT EXISTS (SELECT 1 FROM cc
       |                  WHERE cc.vec_id = e.vec_id
       |                    AND cc.vec_id != cc.cluster_id)
       |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q95 — incremental semantic-dedup maintenance: q89's stored-index
  // discipline on the VECTOR side. The stored state is the q93
  // pipeline's intermediates — the N-probe cell assignment table and
  // the verified pair set, both against the q91 frozen sample
  // codebook — maintained against a vector-snapshot diff:
  //   - assign ONLY added/changed vectors (the corpus-scale cost);
  //   - cells a dirty vector left or a delta vector entered are
  //     AFFECTED: their candidate pairs regenerate from current
  //     membership and re-verify with the exact cosine kernel;
  //   - pairs with both endpoints clean CARRY without re-verification
  //     (vectors unchanged ⇒ cosine unchanged ⇒ the stored verdict
  //     stands), pairs with a dirty endpoint die with it.
  // Simpler than q89 in one structural way: IVF cells have no
  // occupancy guard (cell size is bounded ~100·probes by the
  // every-100th seeding), so there is no oversized-bucket recovery
  // case — affected-cell regeneration covers every membership change.
  //
  // The oracle is the FULL q93 chain over the new snapshot against
  // the same frozen codebook: maintenance must land on the identical
  // kept corpus as rebuilding pairs from scratch.
  //
  // 100 TB shape: the delta assign is dirty-slice × broadcast
  // codebook; affected cells are dirty-sized (≈ probes × |dirty|) and
  // broadcast into a semi-join; regeneration touches only those
  // cells' members; the carry side is two broadcast anti-joins over
  // the thin stored pair table. A diff dirtying most of the corpus is
  // the documented rebuild trigger, as everywhere in this family.
  // ---------------------------------------------------------------

  def incrementalSemanticKeep(spark: SparkSession, dir: String): DataFrame = {
    val (cbRows, _, prevAssignN, prevPairs, diff) = vecIndexState(spark, dir)
    incrementalSemanticKeepOf(prevAssignN, prevPairs,
      vecSnapshotCur(Tables.embeddings(spark, dir)), diff, cbRows)
  }

  /** The general operator: `prevAssignN` = the stored N-probe
    * (vec_id, cell_id) table, `prevPairs` = the stored verified
    * (vec_a, vec_b) set, `curEmb` = the new snapshot as an
    * embeddings-shaped frame, `diff` = a q84-shaped status frame
    * keyed by vec_id, `codebook` = the frozen sample codebook. */
  def incrementalSemanticKeepOf(prevAssignN: DataFrame, prevPairs: DataFrame,
                                curEmb: DataFrame, diff: DataFrame,
                                codebook: Array[(Long, Seq[Double])])
      : DataFrame =
    semanticKeepCorpusFrom(curEmb,
      incrementalSemanticPairs(prevAssignN, prevPairs, vecsFrom(curEmb),
        diff, codebook))

  /** The pair-maintenance core of q95 (everything before components +
    * keep) — split out so its plan shape is pinnable: the downstream
    * CC's iterative checkpoints truncate the named query's visible
    * plan. */
  private[graft] def incrementalSemanticPairs(
      prevAssignN: DataFrame, prevPairs: DataFrame, curVecsIn: DataFrame,
      diff: DataFrame, codebook: Array[(Long, Seq[Double])]): DataFrame = {
    val curVecs = curVecsIn.localCheckpoint(false)
    // id sets checkpoint once for their several broadcasts; the
    // maintenance barriers are EAGER (the q89 discipline: a broadcast
    // subtree is built in its own job before any lazy checkpoint it
    // hangs off is materialized, so a lazy barrier under a broadcast
    // consumer is a recomputation). Here the delta-assign subtree is
    // a cheap row-local pass, so the change is parity-of-shape rather
    // than a measured win — the cost model stays honest if the
    // codebook or probe count ever grows.
    val dirtyOut = diff.filter($"status".isin("removed", "changed"))
      .select($"vec_id").localCheckpoint(true)
    val deltaIds = diff.filter($"status".isin("added", "changed"))
      .select($"vec_id").localCheckpoint(true)
    // assign ONLY the delta — the incremental saving lives here
    val deltaAssign = assignCellsProbes(
        curVecs.join(broadcast(deltaIds), Seq("vec_id")),
        codebook, NearDupProbes)
      .select($"vec_id", $"cell_id")
      .localCheckpoint(true) // read by the union AND the affected set
    val keptAssign = prevAssignN
      .join(broadcast(dirtyOut), Seq("vec_id"), "left_anti")
    val allAssign = keptAssign.unionByName(deltaAssign)
      .localCheckpoint(true) // both sides of the regen self-join
    // affected cells: every cell a dirty vector left or a delta
    // vector entered — dirty-sized (≈ probes × |dirty|) by premise
    val affected = prevAssignN.join(broadcast(dirtyOut), Seq("vec_id"))
      .select($"cell_id")
      .union(deltaAssign.select($"cell_id"))
    val regenSrc = allAssign
      .join(broadcast(affected), Seq("cell_id"), "left_semi")
    val regenCand = regenSrc.as("x").join(regenSrc.as("y"), Seq("cell_id"))
      .filter($"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"y.vec_id".as("vec_b"))
      .distinct()
    val verified = regenCand
      .join(curVecs.select($"vec_id".as("vec_a"), $"v".as("va"),
        $"nrm".as("na")), Seq("vec_a"))
      .join(curVecs.select($"vec_id".as("vec_b"), $"v".as("vb"),
        $"nrm".as("nb")), Seq("vec_b"))
      .select($"vec_a", $"vec_b",
        round(dot("va", "vb") / ($"na" * $"nb"), 6).as("cos_sim"))
      .filter($"cos_sim" >= CosineDupThreshold)
      .select($"vec_a", $"vec_b")
    // clean-endpoint pairs carry: cosine depends only on the two
    // vectors, both unchanged, so the stored verification stands
    val carried = prevPairs
      .join(broadcast(dirtyOut.withColumnRenamed("vec_id", "vec_a")),
        Seq("vec_a"), "left_anti")
      .join(broadcast(dirtyOut.withColumnRenamed("vec_id", "vec_b")),
        Seq("vec_b"), "left_anti")
      .select($"vec_a", $"vec_b") // using-column joins reorder columns
    carried.union(verified).distinct()
  }

  /** The rebuild path q95 is measured against: the full q93 chain
    * over the CURRENT snapshot against the frozen sample codebook. */
  private[graft] def fullSemanticKeepSample(spark: SparkSession,
                                            dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cb = fittedCentroids(vecSnapshotSample(all).localCheckpoint(false))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val curEmb = vecSnapshotCur(Tables.embeddings(spark, dir))
    semanticKeepCorpusFrom(curEmb,
      ivfNearDupPairsProbes(vecSnapshotCur(all), cb, NearDupProbes))
  }

  /** q95's oracle: the FULL q93 chain over the new snapshot with the
    * fit restricted to the stable sample — pairs, components, and
    * keep all recomputed from scratch. */
  lazy val incrementalSemanticKeepSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH RECURSIVE
       |$vecsCte,
       |stable AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapAddedMod} <> ${Corpus.SnapAddedRes}
       |    AND vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}
       |    AND vec_id % ${Corpus.SnapChangedMod} <> ${Corpus.SnapChangedRes}),
       |${fitCtesFrom("stable")},
       |cur AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}),
       |assigned_n AS (
       |  SELECT vec_id, centroid_id AS cell_id FROM (
       |    SELECT a.vec_id, c.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ROUND($d2, 6) ASC, c.centroid_id ASC) AS rn
       |    FROM cur a CROSS JOIN cents c)
       |  WHERE rn <= $NearDupProbes),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM assigned_n x JOIN assigned_n y
       |    ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id),
       |pairs AS (
       |  SELECT c.vec_a, c.vec_b
       |  FROM cand c
       |  JOIN cur a ON a.vec_id = c.vec_a
       |  JOIN cur b ON b.vec_id = c.vec_b
       |  WHERE ROUND(${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
       |        >= $CosineDupThreshold),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(vec_id, lbl) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.vec_id),
       |cc AS (SELECT vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY vec_id)
       |SELECT e.vec_id, e.label
       |FROM (SELECT * FROM embeddings
       |      WHERE vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}) e
       |WHERE NOT EXISTS (SELECT 1 FROM cc
       |                  WHERE cc.vec_id = e.vec_id
       |                    AND cc.vec_id != cc.cluster_id)
       |ORDER BY e.vec_id""".stripMargin
  }

  lazy val incrementalIvfAssignSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH $vecsCte,
       |stable AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapAddedMod} <> ${Corpus.SnapAddedRes}
       |    AND vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}
       |    AND vec_id % ${Corpus.SnapChangedMod} <> ${Corpus.SnapChangedRes}),
       |${fitCtesFrom("stable")},
       |cur AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}),
       |scored AS (
       |  SELECT a.vec_id, c.centroid_id, ROUND($d2, 6) AS dist2
       |  FROM cur a CROSS JOIN cents c)
       |SELECT vec_id, centroid_id AS cell_id, dist2 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist2 ASC, centroid_id ASC) AS rn
       |  FROM scored)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q97 — ANN recall audit: per-query recall@k of the IVF probe
  // search (q54) against the exact brute-force baseline (q49). Every
  // ANN deployment ships this eval next to the index — recall is THE
  // quality axis the probe count trades against, and a silent recall
  // regression (skewed cells after ingest, a stale codebook) is
  // invisible without it. TextDedupSpec measures the full probe
  // curve; this query is the production-shaped audit artifact: one
  // row per query vector with hit counts and recall@k.
  //
  // 100 TB shape: both sides are top-k frames (queries × k rows —
  // tiny), so the join/aggregate here is driver-scale regardless of
  // corpus size; the cost is the two searches themselves, each
  // already shaped for scale (q49 broadcast probe / q54 cell-pruned
  // scan). Recall evaluated on a query SAMPLE, as in practice.
  // ---------------------------------------------------------------

  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopK(spark, dir).select($"query_id", $"neighbor_id")
    val approx = ivfTopK(spark, dir)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum($"hit"), lit(0L)).as("n_hit"))
      .select($"query_id", $"n_exact", $"n_hit",
        round($"n_hit" * lit(1.0) / $"n_exact", 6).as("recall"))
      .orderBy($"query_id")
  }

  /** q97 oracle: the q49 and q54 statements verbatim as derived
    * tables (nested WITH), joined and reduced to per-query recall —
    * the eval is only as trustworthy as its two inputs, so it reuses
    * their oracle text rather than restating the chains. */
  lazy val annRecallSql: String =
    s"""WITH exact_k AS (SELECT query_id, neighbor_id FROM ($cosineTopKSql) e),
       |approx_k AS (SELECT query_id, neighbor_id FROM ($ivfTopKSql) a)
       |SELECT e.query_id, COUNT(*) AS n_exact,
       |  CAST(COALESCE(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       |  ROUND(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |    / COUNT(*), 6) AS recall
       |FROM exact_k e LEFT JOIN approx_k a
       |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  // ---------------------------------------------------------------
  // q120/q121 — product quantization (Jégou et al. 2011, "Product
  // Quantization for Nearest Neighbor Search"): the vector-COMPRESSION
  // half of the ANN story. IVF (q50/q54) prunes which vectors a query
  // touches; PQ shrinks what each touched vector costs: the 64-dim
  // embedding splits into [[PqM]] contiguous 16-dim subvectors, each
  // quantized independently against its own small codebook, so a
  // vector stores as M small codes (M bytes at 256 cells) instead of
  // 64 floats — a 256× memory reduction at production parameters, the
  // difference between an index that fits executor memory at 10⁹
  // vectors and one that doesn't.
  //
  // q120 is the write-path (codes per vector); q121 is the read-path:
  // ADC (asymmetric distance) search, where the QUERY stays full-
  // precision and dist²(q, x) ≈ Σ_m dist²(q_m, codebook_m[code_m(x)])
  // — per query a (M × cells) lookup table is built once, and each
  // candidate costs M table lookups + adds, never a full-dimension
  // scan. Distances are approximate BY DESIGN (quantization error);
  // determinism is exact, which is what the oracle hashes.
  //
  // The subspace codebooks follow the [[fittedCentroids]] discipline
  // exactly — data-derived seeds (vec_id % 100), [[IvfFitRounds]]
  // Lloyd rounds, 6dp-quantized DECIMAL means — so the fit is
  // BIT-IDENTICAL in both engines; the m column rides the group keys
  // and all four subspaces fit in ONE plan (no per-subspace loop).
  //
  // 100 TB shape: the fit samples/broadcasts like IVF's; encoding is
  // one broadcast-codebook scan (M·cells tiny rows); the ADC LUT is
  // queries × M × cells — driver-scale — and broadcasts into the
  // codes scan, so search is one map-side join + a partial-aggregated
  // per-(query, vec) sum + TopK. No full-precision corpus access on
  // the read path at all: that is the point.
  // ---------------------------------------------------------------

  /** Subspace count (64 dims → 4 × 16). */
  val PqM = 4
  val PqSubDim: Int = VecDim / PqM

  /** (vec_id, m, sv): the row-local subvector explode. */
  private[graft] def subVecs(all: DataFrame): DataFrame =
    all.select($"vec_id", explode(expr(
      s"""transform(sequence(0, ${PqM - 1}),
         |  m -> named_struct('m', m,
         |    'sv', slice(v, m * $PqSubDim + 1, $PqSubDim)))""".stripMargin))
      .as("s"))
      .select($"vec_id", $"s.m".as("m"), $"s.sv".as("sv"))

  /** Nearest-subcentroid assignment within each subspace — the
    * assignCells argmin (min-struct, map-side combining) with m in
    * the group key and the join key, so one plan assigns all four
    * subspaces. */
  private[graft] def pqAssign(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.join(broadcast(cents), Seq("m"))
      .withColumn("dist2", round(expr("graft_sqdist(sv, cv)"), 6))
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"dist2", $"centroid_id", $"sv")).as("x"))
      .select($"vec_id", $"m", $"x.centroid_id".as("code"),
        $"x.dist2".as("dist2"), $"x.sv".as("sv"))

  /** The four per-subspace codebooks as one (m, centroid_id, cv)
    * frame, Lloyd-fitted with the fittedCentroids decimal-mean
    * discipline. */
  private[graft] def pqCodebooksFrom(all: DataFrame): DataFrame = {
    val sv = subVecs(all).localCheckpoint(false)
    var cents = sv.filter($"vec_id" % 100 === 0)
      .select($"m", $"vec_id".as("centroid_id"), $"sv".as("cv"))
    for (_ <- 1 to IvfFitRounds) {
      val assigned = pqAssign(sv, cents)
      val mean = assigned
        .select($"m", $"code", posexplode($"sv").as(Seq("pos", "val")))
        .groupBy($"m", $"code", $"pos")
        .agg((sum(round($"val", 6).cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("c"))
      cents = mean.groupBy($"m", $"code")
        .agg(transform(sort_array(collect_list(struct($"pos", $"c"))),
          x => x("c")).as("cv"))
        .select($"m", $"code".as("centroid_id"), $"cv")
        .localCheckpoint(false)
    }
    cents
  }

  /** PQ codebooks published per corpus dir (the codebook rule: the
    * fit is the offline write-path step; maintenance/search LOAD the
    * published artifact). */
  private[graft] def pqCodebookRowsFor(spark: SparkSession,
                                dir: String): Array[(Int, Long, Seq[Double])] =
    Published(spark, "vector.pqCodebook", dir,
        Published.inventory(dir, "embeddings")) {
      pqCodebooksFrom(vecs(spark, dir)).collect()
        .map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Double](2).toIndexedSeq: Seq[Double]))
    }

  private def pqCodebookDf(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(pqCodebookRowsFor(spark, dir).toIndexedSeq)
      .toDF("m", "centroid_id", "cv")

  /** q120 — the encoded corpus: (vec_id, m, code, dist2), the
    * quantization write-path. dist2 is the per-subspace quantization
    * error — the storage-quality number a PQ deployment monitors. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqAssign(subVecs(vecs(spark, dir)), pqCodebookDf(spark, dir))
      .select($"vec_id", $"m", $"code", $"dist2")
      .orderBy($"vec_id", $"m")

  /** q127 ingest-time encode kernel: one embeddings micro-batch
    * against the FROZEN published models — PQ codes (the q120 shape)
    * with the vector's IVF cell riding along on every code row. Both
    * encodes are row-local given the broadcast models, so slicing the
    * corpus into micro-batches commutes with encoding: the drained
    * log equals the batch write path exactly (the q123 static-model
    * premise applied to the vector side). Model rows travel as driver
    * arrays (tiny: cells × dims doubles) and rehydrate per batch as
    * LocalRelations, which broadcast for free. */
  def streamEncodeBatch(batch: DataFrame,
                        books: Array[(Int, Long, Seq[Double])],
                        cents: Array[(Long, Seq[Double])]): DataFrame = {
    val spark = batch.sparkSession
    val booksDf = spark.createDataFrame(books.toIndexedSeq)
      .toDF("m", "centroid_id", "cv")
    val centsDf = spark.createDataFrame(cents.toIndexedSeq)
      .toDF("centroid_id", "cv")
    val nv = vecsFrom(batch)
    pqAssign(subVecs(nv), booksDf)
      .select($"vec_id", $"m", $"code", $"dist2")
      .join(assignCells(nv, centsDf).select($"vec_id", $"cell_id"),
        Seq("vec_id"))
  }

  /** q121 — ADC top-k: full-precision queries against the encoded
    * corpus. The LUT (queries × M × cells) broadcasts; per-candidate
    * cost is M lookups + an exact DECIMAL sum. */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cents = pqCodebookDf(spark, dir)
    val codes = pqAssign(subVecs(all), cents)
      .select($"vec_id", $"m", $"code")
    val qsv = subVecs(all.filter($"vec_id" < NumQueries))
      .select($"vec_id".as("query_id"), $"m", $"sv".as("qsv"))
    val lut = qsv.join(cents, Seq("m"))
      .select($"query_id", $"m", $"centroid_id",
        round(expr("graft_sqdist(qsv, cv)"), 6).as("d"))
    val adc = codes
      .join(broadcast(lut),
        codes("m") === lut("m") && codes("code") === lut("centroid_id")
          && codes("vec_id") =!= lut("query_id"))
      .groupBy($"query_id", $"vec_id")
      .agg(round(sum($"d".cast(DecimalType(18, 6))).cast(DoubleType), 6)
        .as("adc_dist2"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"adc_dist2".asc, $"vec_id".asc)
    adc.withColumn("rank", row_number().over(w).cast(LongType))
      .filter($"rank" <= TopK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"adc_dist2",
        $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle CTE chain mirroring [[pqCodebooksFrom]] + [[pqAssign]]:
    * seeds per subspace, [[IvfFitRounds]] Lloyd rounds with m in
    * every group key, final assignment as `pcodes`. `fitSrc` names
    * the CTE the fit draws from, `encodeSrc` the one being encoded —
    * `normed` for the batch q120/q121/q122 statements, the
    * stable-sample / current-snapshot pair for q125 (the fitCtesFrom
    * src parameter, applied to the PQ chain). */
  private def pqCtesFrom(fitSrc: String, encodeSrc: String): String = {
    def d2(a: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    val sb = new StringBuilder
    sb.append(
      s"""sub AS (
         |  SELECT vec_id, CAST(m AS INTEGER) AS m,
         |    v[CAST(m * $PqSubDim + 1 AS INTEGER) :
         |      CAST(m * $PqSubDim + $PqSubDim AS INTEGER)] AS sv
         |  FROM $encodeSrc,
         |    (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
         |subfit AS (
         |  SELECT vec_id, CAST(m AS INTEGER) AS m,
         |    v[CAST(m * $PqSubDim + 1 AS INTEGER) :
         |      CAST(m * $PqSubDim + $PqSubDim AS INTEGER)] AS sv
         |  FROM $fitSrc,
         |    (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
         |pcents0 AS (
         |  SELECT m, vec_id AS centroid_id, sv AS cv FROM subfit
         |  WHERE vec_id % 100 = 0)""".stripMargin)
    for (r <- 1 to IvfFitRounds) {
      sb.append(s""",
        |passign$r AS (
        |  SELECT vec_id, m, centroid_id AS code, sv FROM (
        |    SELECT a.vec_id, a.m, c.centroid_id, a.sv,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.m
        |        ORDER BY ROUND(${d2("a.sv")}, 6) ASC, c.centroid_id ASC)
        |        AS rn
        |    FROM subfit a JOIN pcents${r - 1} c ON a.m = c.m)
        |  WHERE rn = 1),
        |pmean$r AS (
        |  SELECT m, code, i,
        |    CAST(SUM(CAST(ROUND(sv[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM passign$r,
        |    (SELECT CAST(unnest(generate_series(1, $PqSubDim)) AS INTEGER)
        |       AS i)
        |  GROUP BY m, code, i),
        |pcents$r AS (
        |  SELECT m, code AS centroid_id, list(c ORDER BY i) AS cv
        |  FROM pmean$r GROUP BY m, code)""".stripMargin)
    }
    sb.append(s""",
      |pcents AS (SELECT m, centroid_id, cv FROM pcents$IvfFitRounds),
      |pcodes AS (
      |  SELECT vec_id, m, centroid_id AS code, dist2 FROM (
      |    SELECT a.vec_id, a.m, c.centroid_id,
      |      ROUND(${d2("a.sv")}, 6) AS dist2,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.m
      |        ORDER BY ROUND(${d2("a.sv")}, 6) ASC, c.centroid_id ASC)
      |        AS rn
      |    FROM sub a JOIN pcents c ON a.m = c.m)
      |  WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  private lazy val pqCtes: String = pqCtesFrom("normed", "normed")

  lazy val pqCodesSql: String =
    s"""WITH $vecsCte,
       |$pqCtes
       |SELECT vec_id, m, code, dist2 FROM pcodes
       |ORDER BY vec_id, m""".stripMargin

  /** q127 oracle: the FULL batch q120 encode joined to the FULL batch
    * q50 cell assignment (both statements nested verbatim; their
    * ORDER BYs are inert as derived tables) — the drained streaming
    * code log must land byte-identically on both measures. */
  lazy val streamingPqSql: String =
    s"""SELECT c.vec_id, c.m, c.code, c.dist2, a.cell_id
       |FROM ($pqCodesSql) c JOIN ($ivfAssignSql) a USING (vec_id)
       |ORDER BY c.vec_id, c.m""".stripMargin

  lazy val pqAdcTopKSql: String = {
    def d2(a: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH $vecsCte,
       |$pqCtes,
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.m, c.centroid_id,
       |    ROUND(${d2("q.sv")}, 6) AS d
       |  FROM sub q JOIN pcents c ON q.m = c.m
       |  WHERE q.vec_id < $NumQueries),
       |adc AS (
       |  SELECT l.query_id, cd.vec_id AS neighbor_id,
       |    ROUND(CAST(SUM(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE), 6)
       |      AS adc_dist2
       |  FROM pcodes cd JOIN lut l
       |    ON l.m = cd.m AND l.centroid_id = cd.code
       |   AND cd.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_dist2, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rank
       |  FROM adc)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q122 — IVF-PQ search (IVFADC): the two halves composed into the
  // production ANN architecture (FAISS's default index family).
  // IVF prunes: each query probes its [[NumProbes]] nearest coarse
  // cells and touches only those cells' members (the q54 read path).
  // PQ compresses: the touched members are ranked by ADC over their
  // codes (the q121 read path) — so the search scans probes/cells of
  // the corpus AND reads M bytes per candidate instead of the full
  // vector. Neither q54 (full-precision members) nor q121 (all
  // members) has both properties; q122 is the one a 10⁹-vector
  // deployment runs.
  //
  // 100 TB shape: the code table partitions by cell_id (the IVF
  // layout); probes (queries × NumProbes) and the ADC LUT
  // (queries × M × cells) are driver-scale and broadcast, so the
  // whole read path is map-side joins over the probed partitions +
  // one partial-aggregated per-(query, candidate) DECIMAL sum +
  // TopK. PQ here encodes raw vectors (q120's codebooks verbatim —
  // one stored artifact serves flat-ADC and IVF-ADC); the classical
  // residual refinement (encode x − coarse_centroid) needs
  // residual-fitted codebooks and buys precision, not a different
  // plan shape.
  // ---------------------------------------------------------------

  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val coarse = codebookFor(spark, dir)
    val pqc = pqCodebookDf(spark, dir)
    val assigned = assignCells(all, coarse).select($"vec_id", $"cell_id")
    val codes = pqAssign(subVecs(all), pqc)
      .select($"vec_id", $"m", $"code")
      .join(assigned, Seq("vec_id"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"qdist2".asc, $"centroid_id".asc)
    val probes = all.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
      .crossJoin(broadcast(coarse))
      .select($"query_id", $"centroid_id",
        round(expr("graft_sqdist(qv, cv)"), 6).as("qdist2"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= NumProbes)
      .select($"query_id", $"centroid_id".as("cell_id"))
    val lut = subVecs(all.filter($"vec_id" < NumQueries))
      .select($"vec_id".as("query_id"), $"m", $"sv".as("qsv"))
      .join(pqc, Seq("m"))
      .select($"query_id", $"m", $"centroid_id".as("code"),
        round(expr("graft_sqdist(qsv, cv)"), 6).as("d"))
    val adc = codes
      .join(broadcast(probes), Seq("cell_id"))
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(round(sum($"d".cast(DecimalType(18, 6))).cast(DoubleType), 6)
        .as("adc_dist2"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"adc_dist2".asc, $"vec_id".asc)
    adc.withColumn("rank", row_number().over(w).cast(LongType))
      .filter($"rank" <= TopK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"adc_dist2",
        $"rank")
      .orderBy($"query_id", $"rank")
  }

  lazy val ivfPqTopKSql: String = {
    def d2(a: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"
    s"""WITH $vecsCte,
       |$fitCtes,
       |$pqCtes,
       |assigned AS (
       |  SELECT vec_id, centroid_id AS cell_id FROM (
       |    SELECT a.vec_id, c.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ROUND(${d2("a.v")}, 6) ASC, c.centroid_id ASC)
       |        AS rn
       |    FROM normed a CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT q.vec_id AS query_id, c.centroid_id AS cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ROUND(${d2("q.v")}, 6) ASC, c.centroid_id ASC)
       |        AS pr
       |    FROM normed q CROSS JOIN cents c
       |    WHERE q.vec_id < $NumQueries)
       |  WHERE pr <= $NumProbes),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.m, c.centroid_id AS code,
       |    ROUND(${d2("q.sv")}, 6) AS d
       |  FROM sub q JOIN pcents c ON q.m = c.m
       |  WHERE q.vec_id < $NumQueries),
       |cand AS (
       |  SELECT p.query_id, cd.vec_id, cd.m, cd.code
       |  FROM pcodes cd
       |  JOIN assigned a ON cd.vec_id = a.vec_id
       |  JOIN probes p ON a.cell_id = p.cell_id
       |  WHERE cd.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |    ROUND(CAST(SUM(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE), 6)
       |      AS adc_dist2
       |  FROM cand JOIN lut l
       |    ON l.query_id = cand.query_id AND l.m = cand.m
       |   AND l.code = cand.code
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_dist2, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rank
       |  FROM adc)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q124 — PQ recall audit: the q97 discipline applied to the
  // compressed read path. The exact baseline here is brute-force
  // squared-L2 top-k (NOT q49's cosine — ADC ranks by L2, so the
  // audit must compare like metrics to isolate QUANTIZATION loss
  // from metric mismatch); the approximate side is q121's flat ADC,
  // so the recall number answers exactly "what did compressing to
  // M codes cost in neighbor quality", with no cell-pruning term
  // mixed in (q97 already audits the pruning term for IVF).
  // Both sides are queries × k — the audit join is driver-scale at
  // any corpus size.
  // ---------------------------------------------------------------

  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val queries = all.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val wExact = Window.partitionBy($"query_id")
      .orderBy($"d2".asc, $"neighbor_id".asc)
    val exact = all.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(expr("graft_sqdist(qv, v)"), 6).as("d2"))
      .withColumn("rank", row_number().over(wExact))
      .filter($"rank" <= TopK)
      .select($"query_id", $"neighbor_id")
    val approx = pqAdcTopK(spark, dir)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum($"hit"), lit(0L)).as("n_hit"))
      .select($"query_id", $"n_exact", $"n_hit",
        round($"n_hit" * lit(1.0) / $"n_exact", 6).as("recall"))
      .orderBy($"query_id")
  }

  /** q124 oracle: an exact-L2 top-k CTE + the full q121 statement as
    * a derived table (the q97 reuse rule: the eval is only as
    * trustworthy as its inputs, so it quotes their oracle text). */
  lazy val pqRecallSql: String = {
    val d2 = "list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, c.v), x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q2) -> p + q2)"
    s"""WITH $vecsCte,
       |exact_k AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ROUND($d2, 6) ASC, c.vec_id ASC) AS rank
       |    FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries)
       |  WHERE rank <= $TopK),
       |approx_k AS (SELECT query_id, neighbor_id FROM ($pqAdcTopKSql) a)
       |SELECT e.query_id, COUNT(*) AS n_exact,
       |  CAST(COALESCE(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       |  ROUND(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |    / COUNT(*), 6) AS recall
       |FROM exact_k e LEFT JOIN approx_k a
       |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q125 — incremental PQ code maintenance: the q91 discipline on the
  // code table, closing the PQ family's stored-index asymmetry (every
  // other stored artifact — LSH index, IVF assignment, vocabulary,
  // CMS, decontamination counts, span store, classifier counts — has
  // a maintained twin; without this one, a nightly crawl re-encodes
  // the corpus). The PQ codebooks freeze on the diff-untouched STABLE
  // sample (the q91 rule: the sample — and the fit — is byte-
  // identical computed from either snapshot, which is what makes the
  // carry sound AND lets the oracle rebuild the same books); encoding
  // touches only added/changed vectors; everyone else's stored codes
  // carry under one broadcast anti-join. Refit-vs-carry is q105's
  // gate (the coarse verdict applies per-subspace unchanged); q110's
  // composed loop is the template if a deployment wants the decision
  // inside one operator.
  //
  // 100 TB shape: carry = broadcast anti-join of the stored code
  // table (M rows per vector, laid out by cell/shard) against the
  // dirty set; encode = dirty-slice × broadcast codebooks. A 0.1%
  // crawl pays 0.1% of the encode cost.
  // ---------------------------------------------------------------

  /** Stored PQ state published per corpus dir: sample-fit codebooks +
    * the prev snapshot's code table + the diff (shared derivation
    * with vecIndexState). */
  private def pqIndexState(spark: SparkSession, dir: String)
      : (Array[(Int, Long, Seq[Double])], DataFrame, DataFrame) =
    Published(spark, "vector.pqIndex", dir,
        Published.inventory(dir, "embeddings")) {
      val all = vecs(spark, dir)
      val sample = vecSnapshotSample(all).cache()
      val books =
        try pqCodebooksFrom(sample).collect()
          .map(r => (r.getInt(0), r.getLong(1),
            r.getSeq[Double](2).toIndexedSeq: Seq[Double]))
        finally sample.unpersist()
      val booksDf = spark.createDataFrame(books.toIndexedSeq)
        .toDF("m", "centroid_id", "cv")
      (books,
        pqAssign(subVecs(vecSnapshotPrev(all)), booksDf)
          .select($"vec_id", $"m", $"code", $"dist2")
          .localCheckpoint(true),
        vecSnapshotDiff(all).localCheckpoint(true))
    }

  def incrementalPqCodes(spark: SparkSession, dir: String): DataFrame = {
    val (books, prevCodes, diff) = pqIndexState(spark, dir)
    val booksDf = spark.createDataFrame(books.toIndexedSeq)
      .toDF("m", "centroid_id", "cv")
    incrementalPqCodesOf(prevCodes,
      vecSnapshotCur(vecs(spark, dir)), diff, booksDf)
  }

  /** The general operator: `prevCodes` = the stored q125-shaped code
    * table of the previous snapshot, `curVecs` = the new snapshot as
    * (vec_id, v, nrm), `diff` = a q84-shaped status frame keyed by
    * vec_id, `books` = the frozen (m, centroid_id, cv) codebooks. */
  def incrementalPqCodesOf(prevCodes: DataFrame, curVecs: DataFrame,
                           diff: DataFrame, books: DataFrame): DataFrame = {
    val dirty = diff.filter($"status" =!= "unchanged").select($"vec_id")
    val toEncode = diff.filter($"status".isin("added", "changed"))
      .select($"vec_id")
    val carried = prevCodes
      .join(broadcast(dirty), Seq("vec_id"), "left_anti")
    val fresh = pqAssign(
        subVecs(curVecs.join(broadcast(toEncode), Seq("vec_id"))), books)
      .select($"vec_id", $"m", $"code", $"dist2")
    carried.unionByName(fresh).orderBy($"vec_id", $"m")
  }

  /** q125 oracle: the FULL PQ encode of the new snapshot against
    * codebooks fit on the stable sample — the same fit/encode split
    * q91's oracle uses, expressed via the pqCtesFrom src parameters. */
  lazy val incrementalPqCodesSql: String =
    s"""WITH $vecsCte,
       |stable AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapAddedMod} <> ${Corpus.SnapAddedRes}
       |    AND vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}
       |    AND vec_id % ${Corpus.SnapChangedMod} <> ${Corpus.SnapChangedRes}),
       |cur AS (
       |  SELECT * FROM normed
       |  WHERE vec_id % ${Corpus.SnapRemovedMod} <> ${Corpus.SnapRemovedRes}),
       |${pqCtesFrom("stable", "cur")}
       |SELECT vec_id, m, code, dist2 FROM pcodes
       |ORDER BY vec_id, m""".stripMargin
}
