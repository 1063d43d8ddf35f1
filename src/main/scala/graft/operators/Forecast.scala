package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.syntax._

/** mart_forecast's second model slot (infra/init.sql:61-73): the DDL
  * fixes the OUTPUT contract — model ∈ {'baseline','sarimax'},
  * var ∈ {'pv','wind'}, horizon_h ∈ [1,48], yhat ≥ 0 with optional
  * interval bounds — not the algorithm (no SARIMAX exists on the JVM;
  * SURVEY §7.4-9). This fills the 'sarimax' slot with a ridge-
  * regularized linear model on seasonal-lag + Fourier(hour-of-day)
  * features (lag-24/lag-48 ≈ the seasonal AR terms, Fourier ≈ the
  * seasonal component), for BOTH DDL vars.
  *
  * The fit is the normal-equation solve itself, done Spark-natively:
  * ONE aggregate pass computes the sufficient statistics (X'X, X'y,
  * y'y, n) for both vars simultaneously — a fixed-size (≈50-number)
  * reduce regardless of row count, the shape that survives 100 TB —
  * and the 5×5 ridge system is solved on the driver. Training RMSE
  * (for the interval bounds) comes from the SAME statistics
  * (‖y−Xβ‖² = y'y − 2β'X'y + β'X'Xβ), so no second data pass. This is
  * exactly what MLlib's LinearRegression(solver="normal") computes,
  * minus its per-model job fan-out (measured: 2.7 s → well under 1 s
  * for both vars at sf0.1).
  */
object Forecast {

  val Horizons = 48
  val Ridge = 1e-6

  /** Feature quantization scale: 4 decimal places. */
  private val QScale = 1e4

  /** Quantize a feature/label to 4dp with the FLOOR trick —
    * floor(x·1e4 + 0.5) / 1e4 in pure double arithmetic. Both engines
    * hold bit-identical raw doubles for every input (features
    * hash-match through q26/q29; sin/cos agree bit-for-bit between
    * java.lang.Math and DuckDB's libm on the 24 hour arguments —
    * verified), and floor/×/÷ are IEEE-exact, so the quantized values
    * are bit-identical too — no ROUND(double, n), whose scaled-
    * multiply implementations disagree near half-boundaries (the q31
    * davg lesson). Quantization is what makes the normal-equation
    * sufficient statistics EXACT: scaled features are integer-valued,
    * so X'X/X'y/y'y accumulate as overflow-free BIGINTs — order-
    * independent, partial-aggregable, and equal across engines. */
  private[graft] def quant(c: Column): Column =
    floor(c * QScale + lit(0.5)).cast(DoubleType) / QScale

  /** The scaled-integer twin of [[quant]]: recovers s = x_q·1e4 as a
    * BIGINT exactly (x_q·1e4 lands within ~4e-11 of the integer s, so
    * floor(·+0.5) is exact). */
  private def scaled(c: Column): Column =
    floor(c * QScale + lit(0.5))

  /** Solve (A + ridge·I)·β = b for SPD A by UNROLLABLE Cholesky — no
    * pivoting, no data-dependent branching, every accumulation
    * left-associated — so the DuckDB oracle can replay the IDENTICAL
    * IEEE operation sequence expression-by-expression and land on
    * bit-identical β (the normal matrix is SPD + ridge, where
    * pivotless factorization is numerically safe; dim is 5). */
  private[graft] def solve(a: Array[Array[Double]], b: Array[Double],
                           ridge: Double): Array[Double] = {
    val n = b.length
    val l = Array.ofDim[Double](n, n)
    var j = 0
    while (j < n) {
      var d = a(j)(j) + ridge
      var k = 0
      while (k < j) { d -= l(j)(k) * l(j)(k); k += 1 }
      require(d > 0, "normal equations not positive definite")
      l(j)(j) = math.sqrt(d)
      var i = j + 1
      while (i < n) {
        var v = a(i)(j)
        k = 0
        while (k < j) { v -= l(i)(k) * l(j)(k); k += 1 }
        l(i)(j) = v / l(j)(j)
        i += 1
      }
      j += 1
    }
    // forward: L y = b
    val y = Array.ofDim[Double](n)
    var i = 0
    while (i < n) {
      var v = b(i)
      var k = 0
      while (k < i) { v -= l(i)(k) * y(k); k += 1 }
      y(i) = v / l(i)(i)
      i += 1
    }
    // backward: Lᵀ β = y
    val beta = Array.ofDim[Double](n)
    i = n - 1
    while (i >= 0) {
      var v = y(i)
      var k = i + 1
      while (k < n) { v -= l(k)(i) * beta(k); k += 1 }
      beta(i) = v / l(i)(i)
      i -= 1
    }
    beta
  }

  /** Per-site history frame with both DDL vars — shared input of
    * [[buildTrain]] and the horizon emitter. */
  private[graft] def history(spark: SparkSession, dir: String): DataFrame =
    Weather.goldFeatures(spark, dir)
      .select($"site", $"ts_utc",
        $"pv_est_mwh".as("y_pv"), $"wind_est_mwh".as("y_wind"),
        $"computed_at")
      // lazy localCheckpoint, not cache(): the handle is function-local
      // (un-unpersistable); blocks free with the plan (q45 discipline)
      .localCheckpoint(false)

  /** Training frame for both vars: seasonal lags + Fourier terms, all
    * features AND labels 4dp-quantized ([[quant]]) so the sufficient
    * statistics are exact integers and the whole fit is
    * oracle-reproducible (q30 moved from rows-only into the hash gate
    * in round 14). */
  private[graft] def buildTrain(hist: DataFrame): DataFrame = {
    val w = Window.partitionBy($"site").orderBy($"ts_utc")
    hist
      .withColumn("lag24_pv", quant(lag($"y_pv", 24).over(w)))
      .withColumn("lag48_pv", quant(lag($"y_pv", 48).over(w)))
      .withColumn("lag24_wind", quant(lag($"y_wind", 24).over(w)))
      .withColumn("lag48_wind", quant(lag($"y_wind", 48).over(w)))
      .withColumn("y_pv", quant($"y_pv"))
      .withColumn("y_wind", quant($"y_wind"))
      .withColumn("hod", hour($"ts_utc").cast(DoubleType))
      .withColumn("sin_h", quant(sin($"hod" * (2 * math.Pi / 24))))
      .withColumn("cos_h", quant(cos($"hod" * (2 * math.Pi / 24))))
      // all four lags must be present: per-term null-skipping inside
      // the sums would otherwise assemble X'X and X'y from different
      // row subsets and silently corrupt the fit
      .filter($"lag24_pv".isNotNull && $"lag48_pv".isNotNull
              && $"lag24_wind".isNotNull && $"lag48_wind".isNotNull)
  }

  /** Per-var design row x = (1, lag24, lag48, sin_h, cos_h). */
  private def xs(v: String): Seq[Column] =
    Seq(lit(1.0), col(s"lag24_$v"), col(s"lag48_$v"), $"sin_h", $"cos_h")

  /** The ×1e4 scaled-integer design row (the columns are already
    * quantized, so [[scaled]] recovers their exact integers). */
  private def sxs(v: String): Seq[Column] =
    Seq(lit(QScale.toLong), scaled(col(s"lag24_$v")),
      scaled(col(s"lag48_$v")), scaled($"sin_h"), scaled($"cos_h"))
  private val Dims = 5

  /** Normal-equation fit for both vars from ONE sufficient-statistics
    * pass (the fixed-size reduce that survives any scale); returns
    * (β, training RMSE) per var. What MLlib's
    * LinearRegression(solver="normal") computes, minus its per-model
    * job fan-out — ForecastSpec pins the equivalence at ridge 0. */
  private[graft] def fitNormal(train: DataFrame,
                               ridge: Double = Ridge)
      : Map[String, (Array[Double], Double)] = {
    // EXACT sufficient statistics: the 4dp-quantized features become
    // integer-valued BIGINTs under ×1e4 ([[scaled]]), so every sum is
    // overflow-free integer arithmetic — order-independent across any
    // partitioning, and bit-reproducible by the DuckDB oracle. Scale
    // back by 1e8 (two 1e4 factors) on the driver: long→double is
    // exact below 2^53 and the single division is correctly rounded,
    // so both engines hold identical double statistics.
    val aggs = Seq("pv", "wind").flatMap { v =>
      val x = sxs(v); val y = scaled(col(s"y_$v"))
      val xtx = for (i <- 0 until Dims; j <- i until Dims)
        yield sum(x(i) * x(j)).as(s"${v}_xx_${i}_$j")
      val xty = (0 until Dims).map(i => sum(x(i) * y).as(s"${v}_xy_$i"))
      xtx ++ xty :+ sum(y * y).as(s"${v}_yy")
    } ++ Seq(count(lit(1)).as("n"),
      // overflow/exactness guard input (ADVICE r14): the largest
      // |scaled value| across every feature AND label of both vars,
      // from the same single pass
      max(greatest(Seq("pv", "wind").flatMap { v =>
        (sxs(v) :+ scaled(col(s"y_$v"))).map(abs)
      }: _*)).as("max_s"))
    val row = train.agg(aggs.head, aggs.tail: _*).collect()(0)
    require(row.getAs[Long]("n") > 0,
      "forecastMl: empty training frame — every site needs > 48 hours " +
        "of history for the seasonal lags")
    // The 'overflow-free BIGINT' claim is a PRECONDITION, not a
    // property (ADVICE r14): Spark (non-ANSI) wraps silently on both
    // the per-row scaled products and their sums, while DuckDB errors
    // or promotes — a production label magnitude that crosses 2^63
    // would silently corrupt the fit and desync the engines. Enforce
    // both preconditions loudly from the statistics already in hand:
    //   (a) quantization exactness — x·1e4 must sit where doubles are
    //       exact integers with margin for the +0.5 floor trick
    //       (|s| < 2^50, far below the 2^53 exact-integer ceiling);
    //   (b) no wraparound — n · max_s² < 2^63 bounds every X'X / X'y
    //       / y'y sum (each term ≤ max_s², at most n terms). Checked
    //       in BigInt so the guard itself cannot overflow.
    val maxS = BigInt(row.getAs[Long]("max_s"))
    require(maxS < (BigInt(1) << 50),
      s"forecastMl: scaled magnitude $maxS >= 2^50 — the 4dp FLOOR " +
        "quantization is no longer exact at this feature/label scale; " +
        "rescale the inputs or lower QScale")
    require(BigInt(row.getAs[Long]("n")) * maxS * maxS < (BigInt(1) << 63),
      s"forecastMl: n*max_s^2 would overflow the BIGINT sufficient " +
        s"statistics (n=${row.getAs[Long]("n")}, max_s=$maxS) — the " +
        "exact-statistics fit cannot run at this magnitude; rescale " +
        "the labels or shard the fit")
    val n = row.getAs[Long]("n").toDouble

    def fit(v: String): (Array[Double], Double) = {
      val a = Array.tabulate(Dims, Dims) { (i, j) =>
        val (lo, hi) = if (i <= j) (i, j) else (j, i)
        row.getAs[Long](s"${v}_xx_${lo}_$hi").toDouble / 1e8
      }
      val b = Array.tabulate(Dims)(i =>
        row.getAs[Long](s"${v}_xy_$i").toDouble / 1e8)
      val yy = row.getAs[Long](s"${v}_yy").toDouble / 1e8
      val beta = solve(a, b, ridge)
      // ‖y − Xβ‖² from the same statistics — no second data pass
      val bAb = (for (i <- 0 until Dims; j <- 0 until Dims)
        yield beta(i) * a(i)(j) * beta(j)).sum
      val btb = (0 until Dims).map(i => beta(i) * b(i)).sum
      val rmse = math.sqrt(math.max(0.0, (yy - 2 * btb + bAb) / n))
      (beta, rmse)
    }
    Seq("pv", "wind").map(v => v -> fit(v)).toMap
  }

  /** The MLlib-backed fit (north star: "MLlib forecasting"): the same
    * model through `o.a.s.ml.regression.LinearRegression(solver =
    * "normal")` — WeightedLeastSquares assembles the identical normal
    * equations distributed-side and solves by Cholesky. regParam 0 +
    * standardization off makes it EXACTLY the ridge-0 [[fitNormal]]
    * system (MLlib regularizes standardized, intercept-excluded
    * coefficients, which matches no fixed λ on raw ones — so
    * equivalence is pinned at the unregularized point; the production
    * path keeps the deterministic fitNormal with its tiny ridge).
    * Two MLlib jobs instead of one aggregate — the cost [[forecastMl]]
    * avoids; [[forecastMlLib]] accepts it to stay on the library
    * solver. */
  private[graft] def fitMllib(train: DataFrame, regParam: Double = 0.0)
      : Map[String, (Array[Double], Double)] = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.regression.LinearRegression
    Seq("pv", "wind").map { v =>
      val assembled = train.select(
        col(s"y_$v").as("label"),
        array_to_vector(array(xs(v).tail: _*)).as("features"))
      val model = new LinearRegression()
        .setSolver("normal").setRegParam(regParam)
        .setStandardization(false).setFitIntercept(true)
        .fit(assembled)
      val beta = model.intercept +: model.coefficients.toArray
      v -> (beta, model.summary.rootMeanSquaredError)
    }.toMap
  }

  /** q30 — 'sarimax'-slot forecast: fit on history, emit horizons 1..48
    * per site for both DDL vars from each site's last observed hour. */
  def forecastMl(spark: SparkSession, dir: String): DataFrame = {
    val hist = history(spark, dir)
    emit(hist, fitNormal(buildTrain(hist)))
  }

  /** The same mart via the MLlib fit — drop-in behind the identical
    * mart_forecast contract (schema + DDL CHECKs enforced in [[emit]]);
    * yhat differs from q30 only by ridge 1e-6 vs 0. */
  def forecastMlLib(spark: SparkSession, dir: String): DataFrame = {
    val hist = history(spark, dir)
    emit(hist, fitMllib(buildTrain(hist)))
  }

  /** Shared horizon emitter: score `models` over horizons 1..48 per
    * site and enforce the mart_forecast DDL contract. */
  private def emit(hist: DataFrame,
                   models: Map[String, (Array[Double], Double)]): DataFrame = {
    // Horizon frame: for h ≤ 24 the lag-24 feature is the observed
    // y(T+h-24); for h in 25..48 it falls back to y(T+h-48) (the same
    // direct-forecast trick SARIMAX deployments use past one season).
    // created_at (init.sql:72): deterministic "forecast built from data
    // as of X" — the newest audit stamp among the site's history
    val lastHour = hist.groupBy($"site")
      .agg(max($"ts_utc").as("t_max"),
           max($"computed_at").as("created_at"))
    val horizons = lastHour
      .select($"site", $"t_max", $"created_at",
        explode(sequence(lit(1), lit(Horizons))).as("h"))
      .withColumn("target_ts", expr("timestampadd(HOUR, h, t_max)"))
      .withColumn("lag_step", when($"h" <= 24, 24).otherwise(48))
      .withColumn("src24", expr("timestampadd(HOUR, h - lag_step, t_max)"))
      .withColumn("src48", expr("timestampadd(HOUR, h - lag_step - 24, t_max)"))
    val feats = horizons
      .join(hist.select($"site", $"ts_utc".as("src24"),
              $"y_pv".as("lag24_pv"), $"y_wind".as("lag24_wind")),
            Seq("site", "src24"), "left_outer")
      .join(hist.select($"site", $"ts_utc".as("src48"),
              $"y_pv".as("lag48_pv"), $"y_wind".as("lag48_wind")),
            Seq("site", "src48"), "left_outer")
      .na.fill(0.0, Seq("lag24_pv", "lag48_pv", "lag24_wind", "lag48_wind"))
      // the same 4dp quantization the fit saw — scoring features must
      // be bit-identical in both engines for yhat to hash-match
      .withColumn("lag24_pv", quant($"lag24_pv"))
      .withColumn("lag48_pv", quant($"lag48_pv"))
      .withColumn("lag24_wind", quant($"lag24_wind"))
      .withColumn("lag48_wind", quant($"lag48_wind"))
      .withColumn("hod", hour($"target_ts").cast(DoubleType))
      .withColumn("sin_h", quant(sin($"hod" * (2 * math.Pi / 24))))
      .withColumn("cos_h", quant(cos($"hod" * (2 * math.Pi / 24))))

    val perVar = Seq("pv", "wind").map { v =>
      val (beta, rmse) = models(v)
      val pred = xs(v).zip(beta).map { case (c, b) => c * lit(b) }
        .reduce(_ + _)
      feats.select(
          $"site", $"target_ts".as("ts_utc"),
          lit("sarimax").as("model"), lit(v).as("var"),
          $"h".cast(IntegerType).as("horizon_h"),
          greatest(lit(0.0), pred).as("yhat"), $"created_at")
        .withColumn("yhat_lower", greatest(lit(0.0), $"yhat" - 1.96 * rmse))
        .withColumn("yhat_upper", $"yhat" + 1.96 * rmse)
        .select($"site", $"ts_utc", $"model", $"var", $"horizon_h",
                $"yhat", $"yhat_lower", $"yhat_upper", $"created_at")
    }
    val out = perVar.reduce(_ unionByName _).localCheckpoint(false)
    graft.schema.Validator
      .enforce(out, graft.schema.Schemas.martForecastChecks, "mart_forecast")
      .orderBy($"site", $"var", $"horizon_h")
  }

  // ---------------------------------------------------------------
  // q30 oracle (VERDICT r13 item 7) — the fit-and-score path replayed
  // bit-for-bit in DuckDB. Why this is hash-stable when "an iterative
  // solver's float trajectory" is not:
  //   1. every feature/label is 4dp-quantized with the FLOOR trick
  //      ([[quant]]) — pure double ops on bit-identical inputs, no
  //      ROUND(double, n) (engines' scaled-multiply rounds disagree
  //      near half-boundaries);
  //   2. the sufficient statistics are exact BIGINT sums of
  //      scaled-integer products — order-independent, so Spark's
  //      32-partition partial aggregate and DuckDB's serial scan land
  //      on the SAME integers; the ÷1e8 scale-back is one correctly-
  //      rounded double division in both engines;
  //   3. the 5×5 solve is pivotless Cholesky with every accumulation
  //      left-associated ([[solve]]) — no data-dependent branching —
  //      and the SQL below is GENERATED by the same index loops, so
  //      both engines execute the identical IEEE operation sequence;
  //   4. scoring reuses the quantized features and the same
  //      left-associated dot product.
  // sin/cos raw bits agree between java.lang.Math and DuckDB's libm
  // on the 24 hour arguments (verified; quantization would absorb a
  // final-ulp disagreement anyway, none of the 48 values sitting near
  // a floor boundary).
  // ---------------------------------------------------------------

  /** floor-trick 4dp quantization in DuckDB text — [[quant]]'s twin. */
  private def qSql(x: String): String =
    s"floor(($x) * 10000.0 + 0.5) / 10000.0"

  /** scaled-integer recovery in DuckDB text — [[scaled]]'s twin. */
  private def sSql(x: String): String =
    s"CAST(floor(($x) * 10000.0 + 0.5) AS BIGINT)"

  lazy val forecastMlSql: String = {
    val vs = Seq("pv", "wind")
    def aName(v: String, i: Int, j: Int): String = {
      val (lo, hi) = if (i <= j) (i, j) else (j, i)
      s"${v}_xx_${lo}_$hi"
    }
    // the scaled design vector as SQL terms over the train CTE
    def sx(v: String): Seq[String] =
      Seq("CAST(10000 AS BIGINT)", sSql(s"lag24_$v"), sSql(s"lag48_$v"),
        sSql("sin_h"), sSql("cos_h"))
    val statCols = vs.flatMap { v =>
      val x = sx(v); val sy = sSql(s"y_$v")
      val xtx = for (i <- 0 until Dims; j <- i until Dims)
        yield s"CAST(SUM(${x(i)} * ${x(j)}) AS DOUBLE) / 100000000.0 AS ${aName(v, i, j)}"
      val xty = (0 until Dims).map(i =>
        s"CAST(SUM(${x(i)} * $sy) AS DOUBLE) / 100000000.0 AS ${v}_xy_$i")
      xtx ++ xty :+ s"CAST(SUM($sy * $sy) AS DOUBLE) / 100000000.0 AS ${v}_yy"
    } :+ "COUNT(*) AS n"
    // the Cholesky chain, layer by layer — generated by the SAME
    // index loops as [[solve]], so the operation sequences match
    val layers = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val R = "1.0E-6" // Ridge, spelled so both engines parse 1e-6
    for (j <- 0 until Dims) {
      layers += vs.map { v =>
        val d = (0 until j).foldLeft(s"(${aName(v, j, j)} + $R)")(
          (acc, k) => s"($acc - ${v}_l${j}_$k * ${v}_l${j}_$k)")
        s"sqrt($d) AS ${v}_l${j}_$j"
      }
      val offDiag = for (v <- vs; i <- j + 1 until Dims) yield {
        val vexpr = (0 until j).foldLeft(aName(v, i, j))(
          (acc, k) => s"($acc - ${v}_l${i}_$k * ${v}_l${j}_$k)")
        s"$vexpr / ${v}_l${j}_$j AS ${v}_l${i}_$j"
      }
      if (offDiag.nonEmpty) layers += offDiag
    }
    for (i <- 0 until Dims)
      layers += vs.map { v =>
        val vexpr = (0 until i).foldLeft(s"${v}_xy_$i")(
          (acc, k) => s"($acc - ${v}_l${i}_$k * ${v}_fy$k)")
        s"$vexpr / ${v}_l${i}_$i AS ${v}_fy$i"
      }
    for (i <- Dims - 1 to 0 by -1)
      layers += vs.map { v =>
        val vexpr = (i + 1 until Dims).foldLeft(s"${v}_fy$i")(
          (acc, k) => s"($acc - ${v}_l${k}_$i * ${v}_beta$k)")
        s"$vexpr / ${v}_l${i}_$i AS ${v}_beta$i"
      }
    layers += vs.map { v =>
      val bAbT = for (i <- 0 until Dims; j <- 0 until Dims)
        yield s"(${v}_beta$i * ${aName(v, i, j)}) * ${v}_beta$j"
      val bAb = bAbT.tail.foldLeft(bAbT.head)((a, t) => s"($a + $t)")
      val btbT = (0 until Dims).map(i => s"(${v}_beta$i * ${v}_xy_$i)")
      val btb = btbT.tail.foldLeft(btbT.head)((a, t) => s"($a + $t)")
      s"sqrt(GREATEST(0.0, (((${v}_yy - (2 * $btb)) + $bAb) / n))) AS ${v}_rmse"
    }
    val solveCtes = layers.zipWithIndex.map { case (cols, idx) =>
      val prev = if (idx == 0) "stats" else s"ch$idx"
      s"ch${idx + 1} AS (SELECT *, ${cols.mkString(",\n    ")} FROM $prev)"
    }.mkString(",\n")
    val chLast = s"ch${layers.length}"
    def hodSin(ts: String): String =
      qSql(s"sin(CAST(EXTRACT(HOUR FROM $ts) AS DOUBLE) * (2 * pi() / 24))")
    def hodCos(ts: String): String =
      qSql(s"cos(CAST(EXTRACT(HOUR FROM $ts) AS DOUBLE) * (2 * pi() / 24))")
    def pred(v: String): String = {
      val x = Seq("1.0", s"lag24_$v", s"lag48_$v", "sin_h", "cos_h")
      val terms = x.zipWithIndex.map { case (c, i) => s"($c * ${v}_beta$i)" }
      terms.tail.foldLeft(terms.head)((a, t) => s"($a + $t)")
    }
    val predRows = vs.map { v =>
      s"""SELECT site, target_ts AS ts_utc, 'sarimax' AS model,
         |    '$v' AS var, h AS horizon_h,
         |    GREATEST(0.0, ${pred(v)}) AS yhat, ${v}_rmse AS rmse,
         |    created_at
         |  FROM scored""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    Weather.withSilver(
      s""", ${Weather.featuresCte},
         |hist AS (
         |  SELECT site, ts_utc, pv_est_mwh AS y_pv, wind_est_mwh AS y_wind,
         |    computed_at
         |  FROM features),
         |trainl AS (
         |  SELECT site, ts_utc, y_pv, y_wind,
         |    lag(y_pv, 24) OVER (PARTITION BY site ORDER BY ts_utc) AS rl24_pv,
         |    lag(y_pv, 48) OVER (PARTITION BY site ORDER BY ts_utc) AS rl48_pv,
         |    lag(y_wind, 24) OVER (PARTITION BY site ORDER BY ts_utc) AS rl24_wind,
         |    lag(y_wind, 48) OVER (PARTITION BY site ORDER BY ts_utc) AS rl48_wind
         |  FROM hist),
         |train AS (
         |  SELECT site, ts_utc,
         |    ${qSql("y_pv")} AS y_pv, ${qSql("y_wind")} AS y_wind,
         |    ${qSql("rl24_pv")} AS lag24_pv, ${qSql("rl48_pv")} AS lag48_pv,
         |    ${qSql("rl24_wind")} AS lag24_wind,
         |    ${qSql("rl48_wind")} AS lag48_wind,
         |    ${hodSin("ts_utc")} AS sin_h, ${hodCos("ts_utc")} AS cos_h
         |  FROM trainl
         |  WHERE rl24_pv IS NOT NULL AND rl48_pv IS NOT NULL
         |    AND rl24_wind IS NOT NULL AND rl48_wind IS NOT NULL),
         |stats AS (
         |  SELECT ${statCols.mkString(",\n    ")}
         |  FROM train),
         |$solveCtes,
         |last_hour AS (
         |  SELECT site, MAX(ts_utc) AS t_max, MAX(computed_at) AS created_at
         |  FROM hist GROUP BY site),
         |horizons AS (
         |  SELECT l.site, l.t_max, l.created_at, CAST(g.h AS INTEGER) AS h,
         |    l.t_max + CAST(g.h AS INTEGER) * INTERVAL '1 hour' AS target_ts,
         |    CASE WHEN g.h <= 24 THEN 24 ELSE 48 END AS lag_step
         |  FROM last_hour l, generate_series(1, 48) AS g(h)),
         |hsrc AS (
         |  SELECT *, t_max + (h - lag_step) * INTERVAL '1 hour' AS src24,
         |    t_max + ((h - lag_step) - 24) * INTERVAL '1 hour' AS src48
         |  FROM horizons),
         |feats0 AS (
         |  SELECT hs.site, hs.target_ts, hs.h, hs.created_at,
         |    COALESCE(f24.y_pv, 0.0) AS rl24_pv,
         |    COALESCE(f24.y_wind, 0.0) AS rl24_wind,
         |    COALESCE(f48.y_pv, 0.0) AS rl48_pv,
         |    COALESCE(f48.y_wind, 0.0) AS rl48_wind
         |  FROM hsrc hs
         |  LEFT JOIN hist f24 ON f24.site = hs.site AND f24.ts_utc = hs.src24
         |  LEFT JOIN hist f48 ON f48.site = hs.site AND f48.ts_utc = hs.src48),
         |feats AS (
         |  SELECT site, target_ts, h, created_at,
         |    ${qSql("rl24_pv")} AS lag24_pv, ${qSql("rl48_pv")} AS lag48_pv,
         |    ${qSql("rl24_wind")} AS lag24_wind,
         |    ${qSql("rl48_wind")} AS lag48_wind,
         |    ${hodSin("target_ts")} AS sin_h, ${hodCos("target_ts")} AS cos_h
         |  FROM feats0),
         |scored AS (SELECT f.*, c.* FROM feats f CROSS JOIN $chLast c),
         |preds AS (
         |  $predRows)
         |SELECT site, ts_utc, model, var, horizon_h, yhat,
         |  GREATEST(0.0, yhat - (1.96 * rmse)) AS yhat_lower,
         |  yhat + (1.96 * rmse) AS yhat_upper, created_at
         |FROM preds ORDER BY site, var, horizon_h""".stripMargin)
  }
}
