package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** ML / forecasting operators mirroring the reference's ml/ package,
  * re-expressed as distributed per-key fits.
  *
  * - [[linregTrend]]: per-symbol OLS price-vs-time trend via the
  *   codegen'd regr_slope/regr_intercept aggregates (SQL-oracled).
  * - [[linregAutoreg]]: the window-5 autoregressive next-price model
  *   of ml/train_linear_regression.py:36-57 +
  *   ml/batch_predict_linear_regression.py:33-40 — features are the 5
  *   preceding prices, label is prices[i+1], OLS with intercept solved
  *   in closed form (normal equations), fit per symbol.
  * - [[arimaForecast]]: ARIMA-style per-symbol forecast following
  *   ml/arima_forecasting.py:97-230 — differencing order d chosen by
  *   a stationarity heuristic, (p, q) selected by AIC grid search,
  *   AR fit by conditional OLS and MA terms via Hannan-Rissanen
  *   two-stage OLS (statsmodels' exact MLE optimizer is intentionally
  *   NOT reproduced — the order-selection/forecast surface is).
  *
  * Scale design: both custom fits run as ONE hash-partition by key +
  * per-partition streaming pass (the [[Recurrence]] pattern) — per-key
  * state is the price buffer only, and no driver-side loops exist.
  * min_observations = 50 matches arima_forecasting.py:45.
  */
object Forecast {

  /** Per-key OLS trend: slope/intercept of price vs days-since-first-
    * tick. The time axis is rescaled per key so slopes are O(1) and
    * survive rounding.
    */
  def linregTrend(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    Warehouse.validTicks(spark, dir)
      .withColumn("t_days",
        (col("ts").cast("double") - min(col("ts").cast("double")).over(byUser)) / 86400.0)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n"),
        round(regr_slope(col("value"), col("t_days")), 6).as("slope_per_day"),
        round(regr_intercept(col("value"), col("t_days")), 6).as("intercept"),
        round(regr_r2(col("value"), col("t_days")), 6).as("r2"))
  }

  def linregTrendSql: String =
    """SELECT user_id, count(*) AS n,
      |  round(regr_slope(value, t_days), 6) AS slope_per_day,
      |  round(regr_intercept(value, t_days), 6) AS intercept,
      |  round(regr_r2(value, t_days), 6) AS r2
      |FROM (
      |  SELECT user_id, value,
      |    (epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id)) / 86400.0 AS t_days
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ helpers

  /** Solve A·x = b (small dense system) by Gaussian elimination with
    * partial pivoting. Returns null-safe empty array on singularity.
    */
  private[graft] def solve(a: Array[Array[Double]], b: Array[Double]): Option[Array[Double]] = {
    val n = b.length
    val m = Array.tabulate(n)(i => a(i) :+ b(i))
    for (c <- 0 until n) {
      var piv = c
      for (r <- c + 1 until n) if (math.abs(m(r)(c)) > math.abs(m(piv)(c))) piv = r
      if (math.abs(m(piv)(c)) < 1e-12) return None
      val tmp = m(c); m(c) = m(piv); m(piv) = tmp
      for (r <- 0 until n if r != c) {
        val f = m(r)(c) / m(c)(c)
        for (k <- c to n) m(r)(k) -= f * m(c)(k)
      }
    }
    Some(Array.tabulate(n)(i => m(i)(n) / m(i)(i)))
  }

  /** OLS fit with intercept: X rows are feature vectors; returns
    * weights (bias first) or None if X'X is singular.
    */
  private[graft] def olsFit(xs: Array[Array[Double]], ys: Array[Double]): Option[Array[Double]] = {
    val k = xs.head.length + 1
    val xtx = Array.ofDim[Double](k, k)
    val xty = Array.ofDim[Double](k)
    var i = 0
    while (i < xs.length) {
      val row = new Array[Double](k)
      row(0) = 1.0
      System.arraycopy(xs(i), 0, row, 1, k - 1)
      var a = 0
      while (a < k) {
        xty(a) += row(a) * ys(i)
        var b = 0
        while (b < k) { xtx(a)(b) += row(a) * row(b); b += 1 }
        a += 1
      }
      i += 1
    }
    solve(xtx, xty)
  }

  private def predictRow(w: Array[Double], x: Array[Double]): Double = {
    var s = w(0); var i = 0
    while (i < x.length) { s += w(i + 1) * x(i); i += 1 }
    s
  }

  /** Streams (key, sorted price run) groups through `fn` with one pass
    * per partition — the distributed per-key fit harness.
    */
  private def perKey(spark: SparkSession, dir: String, schema: StructType)(
      fn: (Long, ArrayBuffer[(Long, java.sql.Timestamp, Double)]) => Iterator[Row]): DataFrame =
    perKeyTicks(Warehouse.validTicks(spark, dir), schema)(fn)

  /** DataFrame-input variant (ScaleProbe feeds replicated ticks). */
  private def perKeyTicks(ticks: DataFrame, schema: StructType)(
      fn: (Long, ArrayBuffer[(Long, java.sql.Timestamp, Double)]) => Iterator[Row]): DataFrame = {
    val spark = ticks.sparkSession
    // Explicit partition count: the fit stage is CPU-bound (per-key AIC
    // grids) over a few KB of rows per key, and AQE's bytes-based
    // coalescing would fold ~1500 key runs into a handful of tasks
    // (measured: ~5 tasks carrying 2.5 s of compute on a 32-core box).
    // Pinning the count to the session's shuffle parallelism keeps the
    // exchange byte-shape identical while stopping the coalesce; the
    // value tracks cluster sizing (conf), not a local constant.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    val in = ticks
      .select("user_id", "event_id", "ts", "value")
      .repartition(parts, col("user_id"))
      .sortWithinPartitions("user_id", "ts", "event_id")
    val rdd = in.rdd.mapPartitions { it =>
      new Iterator[Row] {
        private var out: Iterator[Row] = Iterator.empty
        private var curKey = 0L
        private var started = false
        private val buf = ArrayBuffer.empty[(Long, java.sql.Timestamp, Double)]
        private def flush(): Iterator[Row] = {
          // snapshot: fn's result may be lazy over the buffer, which is
          // about to be refilled with the next key's rows
          val r = if (started && buf.nonEmpty) fn(curKey, buf.clone()) else Iterator.empty
          buf.clear(); r
        }
        private def advance(): Unit = {
          while (!out.hasNext && it.hasNext) {
            val r = it.next()
            val u = r.getLong(0)
            if (!started) { curKey = u; started = true }
            if (u != curKey) { out = flush(); curKey = u }
            buf += ((r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
          }
          if (!out.hasNext && !it.hasNext) out = flush()
        }
        def hasNext: Boolean = { advance(); out.hasNext }
        def next(): Row = { advance(); out.next() }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  private val WindowSize = 5 // ML_WINDOW_SIZE default, shared/config.py:146

  private val autoregSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("predicted_price", DoubleType),
    StructField("n_train", LongType), StructField("train_mse", DoubleType)))

  /** Per-key autoregressive OLS: X_i = prices[i-5..i-1], y_i =
    * prices[i+1] (the reference's off-by-one label is reproduced
    * verbatim, train_linear_regression.py:39-41); fit on all samples,
    * then emit a prediction per window like batch_predict.
    */
  def linregAutoreg(spark: SparkSession, dir: String): DataFrame =
    linregAutoregBase(spark, dir)

  private val linregCheckSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("n_train", LongType),
    StructField("normal_eq_ok", BooleanType)))

  /** OPTIMALITY CHECK for [[linregAutoreg]] (round-11 partial-oracle
    * tier): the fitted coefficients themselves are not
    * SQL-expressible (a 6×6 normal-equation solve), but their
    * DEFINING property is checkable — at the least-squares optimum
    * the gradient Xᵀ(Xw − y) is zero, so each key's fit emits
    * ‖Xᵀr‖∞ ≤ 10⁻⁶·max(1, ‖Xᵀy‖∞) as a boolean the oracle matches
    * against TRUE. The oracle independently recomputes WHICH keys
    * must fit and each key's training-sample count (valid ticks − 6)
    * straight from the events table — so a lost key, a changed
    * window prep, or a broken solver all break the hash, not just a
    * spec run. Same per-key single-pass harness as the fit itself.
    */
  def linregCheck(spark: SparkSession, dir: String): DataFrame =
    perKey(spark, dir, linregCheckSchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      if (prices.length < WindowSize + 2) Iterator.empty
      else {
        val xs = ArrayBuffer.empty[Array[Double]]
        val ys = ArrayBuffer.empty[Double]
        var i = WindowSize
        while (i < prices.length - 1) {
          xs += prices.slice(i - WindowSize, i)
          ys += prices(i + 1)
          i += 1
        }
        val ok = olsFit(xs.toArray, ys.toArray) match {
          case None => false
          case Some(w) =>
            val k = WindowSize + 1
            val g = new Array[Double](k)
            val xty = new Array[Double](k)
            var j = 0
            while (j < xs.length) {
              val r = predictRow(w, xs(j)) - ys(j)
              g(0) += r; xty(0) += ys(j)
              var a = 1
              while (a < k) {
                g(a) += xs(j)(a - 1) * r
                xty(a) += xs(j)(a - 1) * ys(j)
                a += 1
              }
              j += 1
            }
            val scale = math.max(1.0, xty.map(math.abs).max)
            g.map(math.abs).max <= 1e-6 * scale
        }
        Iterator.single(Row(user, xs.length.toLong, ok))
      }
    }

  def linregCheckSql: String =
    s"""SELECT user_id, count(*)::BIGINT - ${WindowSize + 1} AS n_train,
       |  true AS normal_eq_ok
       |FROM events
       |WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
       |  AND user_id IS NOT NULL
       |GROUP BY user_id HAVING count(*) >= ${WindowSize + 2}
       |ORDER BY user_id""".stripMargin

  /** Unordered internal variant (no driver-output ORDER BY). */
  private[operators] def linregAutoregBase(spark: SparkSession, dir: String): DataFrame =
    perKey(spark, dir, autoregSchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      if (prices.length < WindowSize + 2) Iterator.empty
      else {
        val xs = ArrayBuffer.empty[Array[Double]]
        val ys = ArrayBuffer.empty[Double]
        var i = WindowSize
        while (i < prices.length - 1) {
          xs += prices.slice(i - WindowSize, i)
          ys += prices(i + 1)
          i += 1
        }
        olsFit(xs.toArray, ys.toArray) match {
          case None => Iterator.empty
          case Some(w) =>
            val mse = xs.indices.map { j =>
              val d = predictRow(w, xs(j)) - ys(j); d * d
            }.sum / xs.length
            (WindowSize until prices.length).iterator.map { j =>
              val x = prices.slice(j - WindowSize, j)
              val (eid, ts, _) = ticks(j)
              Row(user, eid, ts, predictRow(w, x), xs.length.toLong, mse)
            }
        }
      }
    }

  /** The `predictions` table surface (enhanced_schema.sql:186-203,
    * dashboard fetch_predictions app.py:145-175): one next-price row
    * per (symbol, model). ARIMA confidence is the reference's AIC
    * transform max(0, min(1, 1/(1+|aic|/100)))
    * (analytics_consumer.py:374-377); the linear-regression row uses
    * the fixed 0.8 of batch_predict_linear_regression.py:76.
    */
  def predictions(spark: SparkSession, dir: String): DataFrame =
    predictionsFrom(spark, dir, modelRegistry(spark, dir))

  /** [[predictions]] SERVED from an already-fitted model registry
    * (the reference serves from its ml_models cache rather than
    * refitting per request, arima_forecasting.py self.models): the
    * ARIMA leg is a narrow projection over registry rows — pass a
    * [[loadModelRegistry]] result to serve from disk.
    */
  def predictionsFrom(spark: SparkSession, dir: String,
      registry: DataFrame): DataFrame =
    predictionsServed(registry, linregRegistry(spark, dir))

  /** [[predictions]] with BOTH legs served from fitted registries —
    * the ARIMA leg from [[registryServeSurface]], the linreg leg from
    * [[linregServeSurface]] (the registry stores the last feature
    * window, so its served value is bit-identical to the latest
    * per-key [[linregAutoreg]] row the previous window-pick
    * computed — spec-asserted). Pass loaded registries to serve the
    * whole table from disk with zero fitting.
    */
  def predictionsServed(arimaRegistry: DataFrame,
      linregReg: DataFrame): DataFrame =
    registryServeSurface(arimaRegistry)
      .unionByName(linregServeSurface(linregReg))

  private val arimaSchema = StructType(
    Seq(
      StructField("user_id", LongType), StructField("n_obs", LongType),
      StructField("p", IntegerType), StructField("d", IntegerType),
      StructField("q", IntegerType), StructField("aic", DoubleType),
      StructField("last_price", DoubleType)) ++
      (1 to 5).map(h => StructField(s"forecast_$h", DoubleType)) ++
      (1 to 5).flatMap(h => Seq(
        StructField(s"ci_lower_$h", DoubleType),
        StructField(s"ci_upper_$h", DoubleType))))

  private val MinObservations = 50 // arima_forecasting.py:45

  private def diff(xs: Array[Double]): Array[Double] =
    Array.tabulate(xs.length - 1)(i => xs(i + 1) - xs(i))

  private def variance(xs: Array[Double]): Double = {
    val m = xs.sum / xs.length
    xs.map(x => (x - m) * (x - m)).sum / xs.length
  }

  /** OLS via normal equations with explicit (X'X)⁻¹ (Gauss-Jordan) —
    * needed for coefficient standard errors in the ADF test. Returns
    * (betas, inverse, rss). Sizes are tiny (m ≤ 6).
    */
  private def olsWithInverse(xs: Array[Array[Double]], ys: Array[Double])
      : Option[(Array[Double], Array[Array[Double]], Double)] = {
    val n = xs.length
    val m = xs(0).length
    val a = Array.ofDim[Double](m, 2 * m)
    var r = 0
    while (r < n) { // hot loop: unboxed moment accumulation
      val row = xs(r)
      var i = 0
      while (i < m) {
        val ri = row(i)
        var j = 0
        while (j < m) { a(i)(j) += ri * row(j); j += 1 }
        i += 1
      }
      r += 1
    }
    for (i <- 0 until m) a(i)(m + i) = 1.0
    for (col <- 0 until m) {
      var piv = col
      for (r <- col + 1 until m) if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
      if (math.abs(a(piv)(col)) < 1e-12) return None
      val t = a(col); a(col) = a(piv); a(piv) = t
      val d = a(col)(col)
      for (j <- 0 until 2 * m) a(col)(j) /= d
      for (r <- 0 until m if r != col) {
        val f = a(r)(col)
        if (f != 0.0) for (j <- 0 until 2 * m) a(r)(j) -= f * a(col)(j)
      }
    }
    val inv = Array.tabulate(m, m)((i, j) => a(i)(m + j))
    val xty = new Array[Double](m)
    r = 0
    while (r < n) {
      val row = xs(r); val y = ys(r)
      var i = 0
      while (i < m) { xty(i) += row(i) * y; i += 1 }
      r += 1
    }
    val beta = Array.tabulate(m)(i => (0 until m).map(j => inv(i)(j) * xty(j)).sum)
    var rss = 0.0
    r = 0
    while (r < n) {
      val row = xs(r)
      var pred = 0.0
      var j = 0
      while (j < m) { pred += beta(j) * row(j); j += 1 }
      val e = ys(r) - pred
      rss += e * e
      r += 1
    }
    Some((beta, inv, rss))
  }

  /** One ADF regression Δy_t = α + β·y_{t−1} + Σγ_j·Δy_{t−j} + ε,
    * evaluated on observations t ∈ [startLag, dy.length) so candidate
    * lags can share a COMMON sample (AIC values are only comparable
    * at equal n — statsmodels' autolag trims the same way). Returns
    * (aic, t-statistic of β̂).
    */
  private def adfRegression(y: Array[Double], k: Int, startLag: Int)
      : Option[(Double, Double)] = {
    val dy = diff(y)
    val n = dy.length - startLag
    val m = k + 2
    if (n < m + 8) return None
    val xs = Array.tabulate(n) { i =>
      val t = i + startLag
      Array(1.0, y(t)) ++ Array.tabulate(k)(j => dy(t - 1 - j))
    }
    val ys = Array.tabulate(n)(i => dy(i + startLag))
    olsWithInverse(xs, ys).flatMap { case (beta, inv, rss) =>
      val aic = n * math.log(math.max(rss / n, 1e-300)) + 2.0 * m
      val s2 = rss / (n - m)
      val seBeta = math.sqrt(math.max(s2 * inv(1)(1), 0.0))
      if (seBeta <= 0 || seBeta.isNaN) None else Some((aic, beta(1) / seBeta))
    }
  }

  /** Augmented Dickey-Fuller t-statistic with constant and `k` lagged
    * differences. More negative = more stationary.
    */
  private[graft] def adfStat(y: Array[Double], k: Int): Option[Double] =
    adfRegression(y, k, k).map(_._2)

  /** ADF stationarity verdict at the 5% level, lag chosen by AIC over
    * k ∈ [0, 4] on a common sample (the reference calls statsmodels
    * adfuller with autolag='AIC' and tests p-value < 0.05,
    * arima_forecasting.py:97-117; −2.86 is the 5% critical value of
    * the constant-only DF distribution for large n). A (near-)constant
    * series is trivially stationary — the regression would be singular
    * there, which must not read as a unit root.
    */
  private[graft] def isStationaryAdf(y: Array[Double]): Boolean = {
    if (variance(y) < 1e-12) return true
    val maxLag = 4
    val cands = (0 to maxLag).flatMap(k =>
      adfRegression(y, k, maxLag).map { case (aic, stat) => (aic, stat) })
    cands.nonEmpty && cands.minBy(_._1)._2 < -2.86
  }

  private val MaxP = 5 // AIC grid bounds p,q ≤ 5, arima_forecasting.py:97-123
  private val MaxQ = 5
  private val Steps = 5 // dashboard fetch_arima_forecasts(steps=5), app.py:177-196
  private val Z95 = 1.959963984540054 // two-sided 95% normal quantile

  /** One fitted ARMA: AIC, OLS weights (bias, φ_1..φ_p, θ_1..θ_q) on
    * the CENTERED scale, the series mean, and the conditional residual
    * variance rss/n driving the forecast intervals.
    */
  private case class ArmaCoef(aic: Double, w: Array[Double], mean: Double,
      sigma2: Double)

  /** Stage-1 Hannan-Rissanen long-AR residuals on the centered series.
    * The long order depends only on the GRID bounds, not on (p, q), so
    * this expensive pass runs ONCE per series and is shared by every
    * q > 0 cell of the AIC grid.
    */
  private def longArResiduals(zc: Array[Double], pLong: Int): Option[Array[Double]] = {
    if (zc.length <= pLong + 1) return None
    val nRows = zc.length - pLong
    val xs = new Array[Array[Double]](nRows)
    val ys = new Array[Double](nRows)
    var i = 0
    while (i < nRows) {
      val t = pLong + i
      val row = new Array[Double](pLong)
      var j = 0
      while (j < pLong) { row(j) = zc(t - 1 - j); j += 1 }
      xs(i) = row; ys(i) = zc(t)
      i += 1
    }
    olsFit(xs, ys).map { w =>
      val r = new Array[Double](zc.length)
      var k = 0
      while (k < nRows) {
        r(pLong + k) = ys(k) - predictRow(w, xs(k))
        k += 1
      }
      r
    }
  }

  private def sharedPLong(n: Int): Int =
    math.min(math.max(MaxP + MaxQ + 2, 4), n / 3)

  /** Design matrix of the conditional-OLS ARMA(p, q) regression: row
    * t carries the p AR lags of zc then the q MA lags of the stage-1
    * residuals, target zc(t), rows starting where every lag exists.
    * Shared by [[fitArma]] and [[arimaCheck]]'s gradient audit so the
    * audited design cannot drift from the fitted one.
    */
  private def armaDesign(zc: Array[Double], resid: Array[Double],
      start: Int, p: Int, q: Int): (Array[Array[Double]], Array[Double]) = {
    val nRows = zc.length - start
    val xs = new Array[Array[Double]](nRows)
    val ys = new Array[Double](nRows)
    var i = 0
    while (i < nRows) {
      val t = start + i
      val row = new Array[Double](p + q)
      var j = 0
      while (j < p) { row(j) = zc(t - 1 - j); j += 1 }
      while (j < p + q) { row(j) = resid(t - 1 - (j - p)); j += 1 }
      xs(i) = row; ys(i) = zc(t)
      i += 1
    }
    (xs, ys)
  }

  /** Fit ARMA(p, q) on the centered (differenced) series by
    * conditional OLS with shared stage-1 residuals.
    */
  private def fitArma(zc: Array[Double], mean: Double, resid: Array[Double],
      pLong: Int, p: Int, q: Int): Option[ArmaCoef] = {
    if (q > 0 && resid == null) return None
    val start = math.max(p, q) + (if (q > 0) pLong else 0)
    if (zc.length <= start + p + q + 2) return None
    if (p + q == 0) {
      val rss = zc.map(y => y * y).sum
      val n = zc.length
      return Some(ArmaCoef(n * math.log(math.max(rss / n, 1e-300)) + 2.0,
        Array(0.0), mean, rss / n))
    }
    val (xs, ys) = armaDesign(zc, resid, start, p, q)
    val nRows = xs.length
    olsFit(xs, ys).map { w =>
      var rss = 0.0
      var k2 = 0
      while (k2 < nRows) {
        val d = predictRow(w, xs(k2)) - ys(k2); rss += d * d
        k2 += 1
      }
      val n = nRows
      val k = p + q + 1
      ArmaCoef(n * math.log(math.max(rss / n, 1e-300)) + 2.0 * k, w, mean, rss / n)
    }
  }

  /** Multi-step recursion on the centered scale: future values are
    * their own forecasts, future shocks are 0 (the standard ARMA
    * forecast recursion).
    */
  private def armaForecasts(zc: Array[Double], resid: Array[Double],
      c: ArmaCoef, p: Int, q: Int, steps: Int): Array[Double] = {
    val n = zc.length
    val zhat = new Array[Double](steps)
    def zval(i: Int) = if (i < n) zc(i) else zhat(i - n)
    def rval(i: Int) = if (i >= n || resid == null) 0.0 else resid(i)
    for (h <- 0 until steps) {
      var s = c.w(0)
      var j = 1
      while (j <= p) { s += c.w(j) * zval(n + h - j); j += 1 }
      j = 1
      while (j <= q) { s += c.w(p + j) * rval(n + h - j); j += 1 }
      zhat(h) = s
    }
    zhat
  }

  /** ψ-weights of the fitted ARMA (its MA(∞) representation), then
    * integrated d times (cumulative sums): the h-step forecast-error
    * variance of an ARIMA(p,d,q) is σ²·Σ_{j<h} ψ*_j².
    */
  private def psiWeightsIntegrated(w: Array[Double], p: Int, q: Int, d: Int,
      steps: Int): Array[Double] = {
    val psi = new Array[Double](steps)
    psi(0) = 1.0
    for (j <- 1 until steps) {
      var s = if (j <= q) w(p + j) else 0.0
      var i = 1
      while (i <= math.min(j, p)) { s += w(i) * psi(j - i); i += 1 }
      psi(j) = s
    }
    var out = psi
    for (_ <- 0 until d) {
      val c = out.clone()
      for (j <- 1 until steps) c(j) += c(j - 1)
      out = c
    }
    out
  }

  /** Per-series ARIMA output surface (arima_forecasting.py:182-230):
    * point forecasts for each step plus the 95% interval.
    */
  private[graft] case class ArimaResult(p: Int, d: Int, q: Int, aic: Double,
      sigma2: Double, forecasts: Array[Double], lower: Array[Double],
      upper: Array[Double])

  /** Forecast `steps` ahead from a fitted ARMA on the d-differenced
    * series, integrating point forecasts back to the price level and
    * widening the 95% band by the integrated ψ-weights.
    */
  private def forecastFromFit(prices: Array[Double], d: Int, p: Int, q: Int,
      coef: ArmaCoef, zc: Array[Double], resid: Array[Double],
      steps: Int): ArimaResult = {
    val zhat = armaForecasts(zc, resid, coef, p, q, steps).map(_ + coef.mean)
    // integrate each differencing level back using its running last value
    val levels = ArrayBuffer(prices)
    while (levels.length <= d) levels += diff(levels.last)
    val lasts = Array.tabulate(d)(lvl => levels(lvl).last)
    val fLevel = new Array[Double](steps)
    for (h <- 0 until steps) {
      var acc = zhat(h)
      for (lvl <- (0 until d).reverse) { acc += lasts(lvl); lasts(lvl) = acc }
      fLevel(h) = acc
    }
    val psi = psiWeightsIntegrated(coef.w, p, q, d, steps)
    val lower = new Array[Double](steps)
    val upper = new Array[Double](steps)
    var varAcc = 0.0
    for (h <- 0 until steps) {
      varAcc += psi(h) * psi(h)
      val se = math.sqrt(math.max(coef.sigma2 * varAcc, 0.0))
      lower(h) = fLevel(h) - Z95 * se
      upper(h) = fLevel(h) + Z95 * se
    }
    ArimaResult(p, d, q, coef.aic, coef.sigma2, fLevel, lower, upper)
  }

  /** d by repeated stationarity test (difference until stationary at
    * the 5% level, max d=2, arima_forecasting.py:97-130), with the
    * variance heuristic as the short-series fallback.
    */
  private def chooseD(prices: Array[Double]): (Int, Array[Double]) = {
    var d = 0
    var series = prices
    def nonStationary(s: Array[Double]): Boolean =
      if (s.length >= 20) !isStationaryAdf(s)
      else {
        val ds = diff(s)
        ds.length > 10 && variance(ds) < variance(s) * 0.9
      }
    while (d < 2 && nonStationary(series)) { series = diff(series); d += 1 }
    (d, series)
  }

  /** The auto fit's shared prep: d by ADF, centering, stage-1
    * residuals — ONE definition consumed by both [[arimaFitSeries]]
    * and [[arimaCheck]]'s winner audit, so the audited series prep
    * cannot drift from the served one.
    */
  private final case class ArimaPrep(d: Int, mean: Double,
      zc: Array[Double], pLong: Int, resid: Array[Double])

  private def prepSeries(prices: Array[Double]): ArimaPrep = {
    val (d, series) = chooseD(prices)
    val mean = series.sum / series.length
    val zc = series.map(_ - mean)
    val pLong = sharedPLong(zc.length)
    ArimaPrep(d, mean, zc, pLong, longArResiduals(zc, pLong).orNull)
  }

  /** The AIC grid winner over the prepped series — likewise the ONE
    * definition of grid bounds and tie-break (aic, p, q) shared by
    * fit and audit (a bounds or tie-break change that touched only
    * one copy would silently audit a different cell than is served).
    */
  private def gridWinner(pr: ArimaPrep): Option[(Int, Int, ArmaCoef)] = {
    val fits = for {
      p <- 0 to MaxP; q <- 0 to MaxQ
      c <- fitArma(pr.zc, pr.mean, pr.resid, pr.pLong, p, q)
    } yield (p, q, c)
    if (fits.isEmpty) None
    else Some(fits.minBy { case (fp, fq, fc) => (fc.aic, fp, fq) })
  }

  /** Full auto fit: d by ADF, (p, q) by AIC over the reference grid
    * p,q ≤ 5, multi-step forecast + 95% interval.
    */
  private[graft] def arimaFitSeries(prices: Array[Double],
      steps: Int = Steps): Option[ArimaResult] = {
    if (prices.length < MinObservations) return None
    val pr = prepSeries(prices)
    gridWinner(pr).map { case (p, q, c) =>
      forecastFromFit(prices, pr.d, p, q, c, pr.zc, pr.resid, steps)
    }
  }

  /** Fixed-order fit (no stationarity test, no grid) — the walk-forward
    * backtest path, where the order was already selected on the
    * training prefix.
    */
  private[graft] def arimaFixedOrder(prices: Array[Double], p: Int, d: Int,
      q: Int, steps: Int = 1): Option[ArimaResult] = {
    var series = prices
    var i = 0
    while (i < d && series.length > 1) { series = diff(series); i += 1 }
    if (series.length < 10) return None
    val mean = series.sum / series.length
    val zc = series.map(_ - mean)
    val pLong = sharedPLong(zc.length)
    val resid = if (q > 0) longArResiduals(zc, pLong).orNull else null
    fitArma(zc, mean, resid, pLong, p, q)
      .map(c => forecastFromFit(prices, d, p, q, c, zc, resid, steps))
  }

  private val arimaCheckSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("n_obs", LongType),
    StructField("wn_f_d0", DoubleType), StructField("wn_f_d1", DoubleType),
    StructField("wn_f_d2", DoubleType),
    StructField("wn_band_ok", BooleanType),
    StructField("normal_eq_ok", BooleanType)))

  /** HALF-away-from-zero division of the exact rational a/b (b > 0) —
    * the cross-engine-deterministic rounding both [[arimaCheck]] and
    * its DuckDB oracle apply to the same integers, so the emitted
    * 6-dp doubles are bit-identical by construction (the q_best_of_n
    * scaled-integer lesson: a terminating rational mean WILL land on
    * a round-tie eventually; never round a float twice).
    */
  private[graft] def halfUpDiv(a: Long, b: Long): Long =
    if (a >= 0) (2 * a + b) / (2 * b) else -((2 * -a + b) / (2 * b))

  /** VALUE-LEVEL CHECK for [[arimaForecast]] ([[linregCheck]]'s
    * argument carried to the ARIMA pipeline — the round-13 close of
    * the last structurally-ungraded query): the AIC winner's fitted
    * coefficients are a solver output the oracle cannot recompute,
    * but (a) the shared difference → center → fit → forecast →
    * integrate → 95%-band pipeline IS SQL-recomputable on the grid's
    * white-noise cells, and (b) the winner's defining first-order
    * condition is TRUE-gradable. Per eligible symbol (the oracle
    * independently recomputes eligibility, count ≥ 50 valid ticks,
    * and n_obs from the raw events table):
    *
    *  - `wn_f_d{0,1,2}`: the one-step ARIMA(0, d, 0) level forecast
    *    for every differencing level d ≤ 2, as an EXACT scaled-integer
    *    closed form over the 2-dp tick cents (mean of the
    *    d-differenced series integrated back from the level lasts —
    *    for d ≤ 2 that telescopes to integer combinations of k₁, k₂,
    *    k_{n−1}, k_n and Σk, [[halfUpDiv]]-rounded at 6 dp). The
    *    oracle recomputes the same integers from the raw table, so a
    *    regression in the validation predicate, the (ts, event_id)
    *    series order, or the differencing/integration identities
    *    breaks a byte-exact column — no float round-tie possible.
    *  - `wn_band_ok`: the REAL [[arimaFixedOrder]] →
    *    [[forecastFromFit]] pipeline (the same armaForecasts /
    *    ψ-weight / level-integration code the AIC winner serves
    *    through) reproduces, for all three d, the directly-computed
    *    closed-form forecast AND the ± z·√var_pop 95% band to 1e-9
    *    relative. Oracle: TRUE literal.
    *  - `normal_eq_ok`: the actual grid winner's conditional-OLS
    *    gradient vanishes — ‖Xᵀr‖∞ ≤ 10⁻⁶·max(1, ‖Xᵀy‖∞) on the
    *    [[armaDesign]] the fit itself used (for a white-noise winner
    *    the fit is the centering, so the condition degenerates to
    *    |Σ zc| ≈ 0). Oracle: TRUE literal.
    *
    * Left ungraded after this gate: the winner's fitted φ/θ values —
    * the same epistemic status as [[linregAutoreg]]'s coefficients,
    * which are likewise optimality-gated rather than value-compared.
    * Scale shape: identical to [[arimaForecast]] (one key-partitioned
    * pass; per-key work bounded by the grid). Integer envelope:
    * [[halfUpDiv]] doubles `Σcents · 10⁴`, so the Long math is exact
    * while a symbol's cent-sum stays under ~4.6e14 — ≈8 billion
    * ticks per symbol at $56, three orders past any per-symbol
    * series (the oracle's DuckDB sum is HUGEINT, so an overflow
    * would break the hash loudly, not silently agree).
    */
  def arimaCheck(spark: SparkSession, dir: String): DataFrame =
    perKey(spark, dir, arimaCheckSchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      val n = prices.length
      if (n < MinObservations) Iterator.empty
      else {
        val ks = prices.map(p => math.round(p * 100)) // exact 2-dp cents
        val f0 = halfUpDiv(ks.sum * 10000L, n) / 1e6
        val f1 = (halfUpDiv((ks(n - 1) - ks(0)) * 10000L, n - 1) +
          ks(n - 1) * 10000L) / 1e6
        val f2 = (halfUpDiv(
          (ks(n - 1) - ks(n - 2) - ks(1) + ks(0)) * 10000L, n - 2) +
          (2 * ks(n - 1) - ks(n - 2)) * 10000L) / 1e6
        val bandOk = (0 to 2).forall { d =>
          var series = prices
          var i = 0
          while (i < d) { series = diff(series); i += 1 }
          val m = series.sum / series.length
          val v = series.map(x => (x - m) * (x - m)).sum / series.length
          val half = Z95 * math.sqrt(v)
          // level integration of the centered mean forecast, d <= 2
          val fExp = d match {
            case 0 => m
            case 1 => m + prices(n - 1)
            case _ => m + 2 * prices(n - 1) - prices(n - 2)
          }
          arimaFixedOrder(prices, 0, d, 0) match {
            case None => false
            case Some(r) =>
              def close(a: Double, b: Double) =
                math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
              close(r.forecasts(0), fExp) && close(r.lower(0), fExp - half) &&
                close(r.upper(0), fExp + half)
          }
        }
        Iterator.single(Row(user, n.toLong, f0, f1, f2, bandOk,
          winnerGradientOk(prices)))
      }
    }

  /** The AIC winner's first-order optimality condition (see
    * [[arimaCheck]]): re-derives the same d/mean/residual prep and
    * grid as [[arimaFitSeries]], then audits the winning cell's
    * gradient on the shared [[armaDesign]].
    */
  private def winnerGradientOk(prices: Array[Double]): Boolean = {
    val pr = prepSeries(prices)
    val zc = pr.zc
    gridWinner(pr) match {
      case None => false
      case Some((p, q, c)) =>
        if (p + q == 0) {
          math.abs(zc.sum) <= 1e-6 * math.max(1.0, zc.map(math.abs).max)
        } else {
          val start = math.max(p, q) + (if (q > 0) pr.pLong else 0)
          val (xs, ys) = armaDesign(zc, pr.resid, start, p, q)
          val k = p + q + 1
          val g = new Array[Double](k)
          val xty = new Array[Double](k)
          var j = 0
          while (j < xs.length) {
            val r = predictRow(c.w, xs(j)) - ys(j)
            g(0) += r; xty(0) += ys(j)
            var a = 1
            while (a < k) {
              g(a) += xs(j)(a - 1) * r
              xty(a) += xs(j)(a - 1) * ys(j)
              a += 1
            }
            j += 1
          }
          val scale = math.max(1.0, xty.map(math.abs).max)
          g.map(math.abs).max <= 1e-6 * scale
        }
    }
  }

  def arimaCheckSql: String =
    """WITH v AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS k,
      |    row_number() OVER w AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), agg AS (
      |  SELECT user_id, max(n) AS n, sum(k) AS sk,
      |    max(CASE WHEN rn = 1 THEN k END) AS k1,
      |    max(CASE WHEN rn = 2 THEN k END) AS k2,
      |    max(CASE WHEN rn = n - 1 THEN k END) AS kp,
      |    max(CASE WHEN rn = n THEN k END) AS kn
      |  FROM v GROUP BY user_id HAVING max(n) >= 50
      |), s AS (
      |  SELECT user_id, n, sk * 10000 AS a0,
      |    (kn - k1) * 10000 AS a1, (kn - kp - k2 + k1) * 10000 AS a2,
      |    kn * 10000 AS c1, (2 * kn - kp) * 10000 AS c2
      |  FROM agg
      |)
      |SELECT user_id, n::BIGINT AS n_obs,
      |  (CASE WHEN a0 >= 0 THEN (2 * a0 + n) // (2 * n)
      |        ELSE -((2 * -a0 + n) // (2 * n)) END)::DOUBLE / 1e6 AS wn_f_d0,
      |  ((CASE WHEN a1 >= 0 THEN (2 * a1 + n - 1) // (2 * (n - 1))
      |         ELSE -((2 * -a1 + n - 1) // (2 * (n - 1))) END)
      |    + c1)::DOUBLE / 1e6 AS wn_f_d1,
      |  ((CASE WHEN a2 >= 0 THEN (2 * a2 + n - 2) // (2 * (n - 2))
      |         ELSE -((2 * -a2 + n - 2) // (2 * (n - 2))) END)
      |    + c2)::DOUBLE / 1e6 AS wn_f_d2,
      |  true AS wn_band_ok, true AS normal_eq_ok
      |FROM s ORDER BY user_id""".stripMargin

  private def r4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** HOLT'S LINEAR-TREND exponential smoothing over the validated
    * daily closes — the classical local-level + local-trend
    * forecaster between [[linregTrend]]'s global line and the ARIMA
    * grid: l_t = α·y_t + (1−α)·(l+b), b_t = β·(l_t − l_{t−1}) +
    * (1−β)·b (α = 0.5, β = 0.3, fixed and documented — structure,
    * not tuning, is the operator), seeded l₂ = y₂, b₂ = y₂ − y₁;
    * the forecast column is the one-step-ahead l + b. Live from
    * session 2; session 1 carries NULL state.
    *
    * Scale shape: one symbol shuffle into sorted close arrays, a
    * single O(days) struct-state `aggregate` fold per symbol,
    * re-explode. The oracle replays the identical float ops via the
    * psar-style recursive CTE (two mutually-recursive state fields —
    * the DuckDB list_reduce lambda defect territory, so row
    * recursion by construction). Scaled display round on the three
    * emitted floats.
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    val stT = "STRUCT<l: DOUBLE, b: DOUBLE>"
    Warehouse.validDailyOhlc(spark, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("close_price").as("cls"))))
        .as("days"))
      .withColumn("states", expr(
        s"""CASE WHEN size(days) >= 2 THEN aggregate(
           |  slice(days, 3, size(days) - 2),
           |  array(named_struct(
           |    'l', element_at(days, 2).cls,
           |    'b', element_at(days, 2).cls - element_at(days, 1).cls)),
           |  (acc, d) -> concat(acc, array(named_struct(
           |    'l', 0.5D * d.cls + 0.5D *
           |      (element_at(acc, -1).l + element_at(acc, -1).b),
           |    'b', 0.3D * ((0.5D * d.cls + 0.5D *
           |      (element_at(acc, -1).l + element_at(acc, -1).b))
           |      - element_at(acc, -1).l) + 0.7D * element_at(acc, -1).b))))
           |ELSE CAST(array() AS ARRAY<$stT>) END""".stripMargin))
      .withColumn("states_f", expr(
        s"concat(array(CAST(NULL AS $stT)), states)"))
      .select(col("user_id"), expr("inline(arrays_zip(days, states_f))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("days.cls").as("close_price"),
        expr(sr.format("states_f.l")).as("level"),
        expr(sr.format("states_f.b")).as("trend"),
        expr(sr.format("(states_f.l + states_f.b)")).as("fcst_next"))
  }

  def holtForecastSql: String =
    s"""WITH RECURSIVE ohlc AS (
       |${Warehouse.validDailyOhlcSql}
       |), n AS (
       |  SELECT user_id, trade_date, close_price AS cls,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
       |  FROM ohlc
       |), st AS (
       |  SELECT b2.user_id, 2::BIGINT AS rn, b2.cls AS l,
       |    b2.cls - b1.cls AS b
       |  FROM n b1 JOIN n b2
       |    ON b1.user_id = b2.user_id AND b1.rn = 1 AND b2.rn = 2
       |  UNION ALL
       |  SELECT a.user_id, a.rn + 1,
       |    0.5 * y.cls + 0.5 * (a.l + a.b),
       |    0.3 * ((0.5 * y.cls + 0.5 * (a.l + a.b)) - a.l) + 0.7 * a.b
       |  FROM st a JOIN n y ON y.user_id = a.user_id AND y.rn = a.rn + 1
       |)
       |SELECT n.user_id, n.trade_date, n.cls AS close_price,
       |  round(st.l * 1000000.0, 0) / 1000000.0 AS level,
       |  round(st.b * 1000000.0, 0) / 1000000.0 AS trend,
       |  round((st.l + st.b) * 1000000.0, 0) / 1000000.0 AS fcst_next
       |FROM n LEFT JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |ORDER BY n.user_id, n.trade_date""".stripMargin

  /** HOLT-WINTERS additive triple exponential smoothing — the
    * seasonal completion of the smoothing ladder ([[holtForecast]]
    * adds trend to the level; this adds a period-5 trading-week
    * seasonal): α=0.5, β=0.3, γ=0.2 fixed and documented, season
    * indexed by SESSION position mod 5 (calendar weekday alignment is
    * gappy on a traded-days series; position is the standard
    * substitute). Textbook seeding over the first two periods —
    * l₅ = mean(y₁..y₅), b₅ = Σ(y₅₊ᵢ − yᵢ)/25 (peeks at sessions
    * 6-10, the classic init), sᵢ = yᵢ − l₅ — then the recursion
    *   l_t = α(y_t − s_{t−5}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(y_t − l_t) + (1−γ)s_{t−5}
    * from session 6. Output: level, trend, the just-updated seasonal,
    * and the one-step forecast l + b + s_{t−4}. NULL before session 5
    * and for symbols under 10 sessions (the b-seed floor).
    *
    * The seasonal state is carried as a ROTATING 5-tuple ordered by
    * next use (u1 = the seasonal the next session consumes; each step
    * shifts u2..u5 down and appends the fresh s_t) — no list indexing
    * in either engine, so the oracle stays a plain scalar-column
    * RECURSIVE CTE (the psar/holt shape; the DuckDB lambda evaluator
    * defect those queries documented never enters).
    *
    * Cross-engine exactness: every update is the identical float-op
    * sequence on both sides, consumed UNROUNDED; only the four
    * emitted columns take the scaled display round.
    *
    * Scale shape: one symbol-keyed shuffle into sorted day arrays,
    * one O(days) fold, re-explode — the [[holtForecast]] shape with
    * a 7-field state.
    */
  def holtWinters(spark: SparkSession, dir: String): DataFrame =
    holtWintersOfDaily(Warehouse.validDailyOhlc(spark, dir))

  private[graft] def holtWintersOfDaily(daily: DataFrame): DataFrame = {
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    val stT = "STRUCT<l: DOUBLE, b: DOUBLE, u1: DOUBLE, u2: DOUBLE, " +
      "u3: DOUBLE, u4: DOUBLE, u5: DOUBLE>"
    def y(i: Int) = s"element_at(days, $i).cls"
    val l5 = s"((((${y(1)} + ${y(2)}) + ${y(3)}) + ${y(4)}) + ${y(5)}) / 5.0D"
    val b5 = s"(((((${y(6)} - ${y(1)}) + (${y(7)} - ${y(2)})) + " +
      s"(${y(8)} - ${y(3)})) + (${y(9)} - ${y(4)})) + " +
      s"(${y(10)} - ${y(5)})) / 25.0D"
    val a = "element_at(acc, -1)"
    val lP = s"0.5D * (d.cls - $a.u1) + 0.5D * ($a.l + $a.b)"
    daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("close_price").as("cls"))))
        .as("days"))
      .withColumn("states", expr(
        s"""CASE WHEN size(days) >= 10 THEN aggregate(
           |  slice(days, 6, size(days) - 5),
           |  array(named_struct(
           |    'l', $l5, 'b', $b5,
           |    'u1', ${y(1)} - ($l5), 'u2', ${y(2)} - ($l5),
           |    'u3', ${y(3)} - ($l5), 'u4', ${y(4)} - ($l5),
           |    'u5', ${y(5)} - ($l5))),
           |  (acc, d) -> concat(acc, array(named_struct(
           |    'l', $lP,
           |    'b', 0.3D * (($lP) - $a.l) + 0.7D * $a.b,
           |    'u1', $a.u2, 'u2', $a.u3, 'u3', $a.u4, 'u4', $a.u5,
           |    'u5', 0.2D * (d.cls - ($lP)) + 0.8D * $a.u1))))
           |ELSE CAST(array() AS ARRAY<$stT>) END""".stripMargin))
      .withColumn("states_f", expr(
        s"""CASE WHEN size(days) >= 10
           |  THEN concat(array_repeat(CAST(NULL AS $stT), 4), states)
           |  ELSE array_repeat(CAST(NULL AS $stT), size(days)) END"""
          .stripMargin))
      .select(col("user_id"), expr("inline(arrays_zip(days, states_f))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("days.cls").as("close_price"),
        expr(sr.format("states_f.l")).as("level"),
        expr(sr.format("states_f.b")).as("trend"),
        expr(sr.format("states_f.u5")).as("season"),
        expr(sr.format("(states_f.l + states_f.b + states_f.u1)"))
          .as("fcst_next"))
  }

  def holtWintersSql: String = {
    def yc(i: Int) = s"max(CASE WHEN rn = $i THEN cls END)"
    val lP = "0.5 * (y.cls - a.u1) + 0.5 * (a.l + a.b)"
    s"""WITH RECURSIVE ohlc AS (
       |${Warehouse.validDailyOhlcSql}
       |), n AS (
       |  SELECT user_id, trade_date, close_price AS cls,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
       |  FROM ohlc
       |), g AS (
       |  SELECT user_id,
       |    ${yc(1)} AS y1, ${yc(2)} AS y2, ${yc(3)} AS y3,
       |    ${yc(4)} AS y4, ${yc(5)} AS y5, ${yc(6)} AS y6,
       |    ${yc(7)} AS y7, ${yc(8)} AS y8, ${yc(9)} AS y9,
       |    ${yc(10)} AS y10
       |  FROM n WHERE rn <= 10 GROUP BY user_id HAVING count(*) = 10
       |), s0 AS (
       |  SELECT user_id, y1, y2, y3, y4, y5,
       |    ((((y1 + y2) + y3) + y4) + y5) / 5.0 AS l5,
       |    (((((y6 - y1) + (y7 - y2)) + (y8 - y3)) + (y9 - y4))
       |      + (y10 - y5)) / 25.0 AS b5
       |  FROM g
       |), st AS (
       |  SELECT user_id, 5::BIGINT AS rn, l5 AS l, b5 AS b,
       |    y1 - l5 AS u1, y2 - l5 AS u2, y3 - l5 AS u3,
       |    y4 - l5 AS u4, y5 - l5 AS u5
       |  FROM s0
       |  UNION ALL
       |  SELECT a.user_id, a.rn + 1,
       |    $lP,
       |    0.3 * (($lP) - a.l) + 0.7 * a.b,
       |    a.u2, a.u3, a.u4, a.u5,
       |    0.2 * (y.cls - ($lP)) + 0.8 * a.u1
       |  FROM st a JOIN n y ON y.user_id = a.user_id AND y.rn = a.rn + 1
       |)
       |SELECT n.user_id, n.trade_date, n.cls AS close_price,
       |  round(st.l * 1000000.0, 0) / 1000000.0 AS level,
       |  round(st.b * 1000000.0, 0) / 1000000.0 AS trend,
       |  round(st.u5 * 1000000.0, 0) / 1000000.0 AS season,
       |  round((st.l + st.b + st.u1) * 1000000.0, 0) / 1000000.0
       |    AS fcst_next
       |FROM n LEFT JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |ORDER BY n.user_id, n.trade_date""".stripMargin
  }

  /** Per-key ARIMA-style forecast: d by ADF stationarity test, (p, q)
    * by AIC grid over p,q ≤ 5 (arima_forecasting.py:97-130), 5-step
    * forecasts integrated back to price level with 95% confidence
    * intervals from the residual variance and integrated ψ-weights
    * (the forecasts + conf_int surface of arima_forecasting.py:182-230
    * that the dashboard's fetch_arima_forecasts displays).
    */
  def arimaForecast(spark: SparkSession, dir: String): DataFrame =
    arimaForecastTicks(Warehouse.validTicks(spark, dir))

  private[graft] def arimaForecastTicks(ticksIn: DataFrame): DataFrame =
    perKeyTicks(ticksIn, arimaSchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      arimaFitSeries(prices) match {
        case None => Iterator.empty
        case Some(res) =>
          // Seq[Any] annotation is load-bearing: an unannotated mixed
          // Long/Int/Double Seq numerically WIDENS every element to
          // Double, silently corrupting the integer fields
          Iterator.single(Row.fromSeq(
            Seq[Any](user, prices.length.toLong, res.p, res.d, res.q,
              r4(res.aic), prices.last) ++
              (0 until Steps).map(h => r4(res.forecasts(h))) ++
              (0 until Steps).flatMap(h =>
                Seq(r4(res.lower(h)), r4(res.upper(h))))))
      }
    }

  // ------------------------------------------------ model registry

  /** A fitted, servable ARIMA model — the row the registry persists
    * (the reference's ml_models table, enhanced_schema.sql:159-182,
    * and the in-memory `self.models` cache of arima_forecasting.py):
    * order, AIC, coefficients, residual variance, and the TINY serve
    * state — the last max(p, q) centered values and stage-1 residuals
    * plus the last value of each differencing level — which is all
    * [[armaForecasts]]/[[forecastFromFit]] ever read of their inputs,
    * so serving from the registry is bit-identical to forecasting at
    * fit time (spec-asserted) without touching the tick history.
    */
  private[graft] case class ArimaModel(p: Int, d: Int, q: Int, aic: Double,
      mean: Double, sigma2: Double, w: Array[Double],
      zcTail: Array[Double], residTail: Array[Double],
      levelLasts: Array[Double], nObs: Long, lastPrice: Double)

  /** Full auto fit that KEEPS the model (order grid identical to
    * [[arimaFitSeries]] — same d, same AIC winner).
    */
  private[graft] def arimaFitModel(prices: Array[Double]): Option[ArimaModel] = {
    if (prices.length < MinObservations) return None
    val (d, series) = chooseD(prices)
    val mean = series.sum / series.length
    val zc = series.map(_ - mean)
    val pLong = sharedPLong(zc.length)
    val resid = longArResiduals(zc, pLong).orNull
    val fits = for {
      p <- 0 to MaxP; q <- 0 to MaxQ
      c <- fitArma(zc, mean, resid, pLong, p, q)
    } yield (p, q, c)
    if (fits.isEmpty) None
    else {
      val (p, q, c) = fits.minBy { case (fp, fq, fc) => (fc.aic, fp, fq) }
      // both tails at the COMMON length max(p, q): armaForecasts
      // indexes z and resid from one shared n, so equal lengths keep
      // the serve-time indices aligned with the fit-time ones
      val tl = math.max(p, q)
      val levels = ArrayBuffer(prices)
      while (levels.length <= d) levels += diff(levels.last)
      Some(ArimaModel(p, d, q, c.aic, c.mean, c.sigma2, c.w,
        zc.takeRight(tl),
        if (q > 0 && resid != null) resid.takeRight(tl) else Array.empty,
        Array.tabulate(d)(lvl => levels(lvl).last),
        prices.length.toLong, prices.last))
    }
  }

  /** Forecast from a REGISTRY model — no tick history: the stored
    * tails feed the ARMA recursion, the stored level lasts integrate
    * back to price, the ψ-band comes from the stored coefficients.
    * Arithmetic is the same code path as [[forecastFromFit]], so the
    * served numbers equal the fit-time numbers exactly.
    */
  private[graft] def serveModel(m: ArimaModel, steps: Int = Steps): ArimaResult = {
    val c = ArmaCoef(m.aic, m.w, m.mean, m.sigma2)
    val zhat = armaForecasts(m.zcTail,
      if (m.q > 0) m.residTail else null, c, m.p, m.q, steps).map(_ + m.mean)
    val lasts = m.levelLasts.clone()
    val fLevel = new Array[Double](steps)
    for (h <- 0 until steps) {
      var acc = zhat(h)
      for (lvl <- (0 until m.d).reverse) { acc += lasts(lvl); lasts(lvl) = acc }
      fLevel(h) = acc
    }
    val psi = psiWeightsIntegrated(m.w, m.p, m.q, m.d, steps)
    val lower = new Array[Double](steps)
    val upper = new Array[Double](steps)
    var varAcc = 0.0
    for (h <- 0 until steps) {
      varAcc += psi(h) * psi(h)
      val se = math.sqrt(math.max(m.sigma2 * varAcc, 0.0))
      lower(h) = fLevel(h) - Z95 * se
      upper(h) = fLevel(h) + Z95 * se
    }
    ArimaResult(m.p, m.d, m.q, m.aic, m.sigma2, fLevel, lower, upper)
  }

  private val registrySchema = StructType(Seq(
    StructField("user_id", LongType), StructField("n_obs", LongType),
    StructField("p", IntegerType), StructField("d", IntegerType),
    StructField("q", IntegerType), StructField("aic", DoubleType),
    StructField("mean", DoubleType), StructField("sigma2", DoubleType),
    StructField("w", ArrayType(DoubleType)),
    StructField("zc_tail", ArrayType(DoubleType)),
    StructField("resid_tail", ArrayType(DoubleType)),
    StructField("level_lasts", ArrayType(DoubleType)),
    StructField("last_price", DoubleType),
    StructField("trained_at", TimestampType)))

  /** FIT: one registry row per trainable symbol (full precision — the
    * registry is serve state, rounding happens at the output surface
    * like every other query). Same per-key sorted-run shape as the
    * forecast itself; `trained_at` is the last training tick's event
    * time, not wall clock, so rebuilds are deterministic.
    */
  def modelRegistry(spark: SparkSession, dir: String): DataFrame =
    modelRegistryTicks(Warehouse.validTicks(spark, dir))

  private[graft] def modelRegistryTicks(ticksIn: DataFrame): DataFrame =
    perKeyTicks(ticksIn, registrySchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      arimaFitModel(prices) match {
        case None => Iterator.empty
        case Some(m) => Iterator.single(Row.fromSeq(Seq[Any](
          user, m.nObs, m.p, m.d, m.q, m.aic, m.mean, m.sigma2,
          m.w.toSeq, m.zcTail.toSeq, m.residTail.toSeq, m.levelLasts.toSeq,
          m.lastPrice, ticks.last._2)))
      }
    }

  /** Persist / reload the fitted registry; loaded serve == fresh fit
    * (spec-asserted) — the same save/load contract every ANN index
    * has.
    */
  def saveModelRegistry(registry: DataFrame, path: String): Unit = {
    registry.write.mode("overwrite").parquet(path)
    IndexManifest.write(registry.sparkSession, path, "arima_registry", Seq("."))
  }

  def loadModelRegistry(spark: SparkSession, path: String): DataFrame = {
    IndexManifest.validate(spark, path, "arima_registry", Seq(".")): Unit
    val df = spark.read.parquet(path)
    require(df.columns.toSeq == registrySchema.fieldNames.toSeq,
      s"invalid model registry at $path: ${df.columns.mkString(",")}")
    df
  }

  /** REFRESH POLICY — which registered models are stale given the
    * current tick corpus. A symbol needs a (re)fit when:
    *  - it has no registry row (new symbol; trainability is decided
    *    by the fit itself, which rejects short histories — the same
    *    ≥ 50-point bar [[modelReadiness]] reports), or
    *  - at least `minNewObs` valid ticks arrived after its
    *    `trained_at` (the fit would see materially new data), or
    *  - its latest tick leads `trained_at` by more than `maxLagDays`
    *    (drift guard: even a trickle of new data eventually forces a
    *    refit).
    * Both signals come from the registry row alone plus one per-symbol
    * aggregate of the corpus (`n_obs` is the full fit-time count and
    * `trained_at` the last training tick's EVENT time, so the
    * decision is deterministic — no wall clock). One shuffle on
    * user_id; the registry side broadcasts (it is symbol-sized).
    */
  private[graft] def staleModels(registry: DataFrame, ticksIn: DataFrame,
      minNewObs: Long = 10, maxLagDays: Int = 7): DataFrame =
    ticksIn
      .groupBy("user_id")
      .agg(count(lit(1)).as("cur_obs"), max("ts").as("latest_ts"))
      .join(broadcast(registry.select(col("user_id"), col("n_obs"),
        col("trained_at"))), Seq("user_id"), "left")
      .filter(col("n_obs").isNull
        || (col("cur_obs") - col("n_obs")) >= minNewObs
        || col("latest_ts") > col("trained_at") + expr(s"INTERVAL $maxLagDays DAYS"))
      .select("user_id")

  /** Staleness-triggered SELECTIVE refit — the registry maintenance
    * loop (the reference refreshes its ml_models cache per symbol on
    * its own cadence, arima_forecasting.py self.models, rather than
    * refitting the world): symbols flagged by [[staleModels]] are
    * refit from their full tick history (a semi-join keeps the fit
    * scan to the stale slice); every other registry row is carried
    * VERBATIM — not refit, not rewritten — so a refresh with nothing
    * stale is a no-op and fit cost scales with what changed, not with
    * the symbol universe. A stale symbol whose refit yields no row
    * (history still below the trainable bar) keeps its previous model:
    * the serve path never loses a model to an in-flight refresh —
    * callers swap the returned registry in only when it is complete,
    * serving from the previous one meanwhile (same publish-then-swap
    * contract as [[graft.streaming.DocStream.hnswSegmentMaintainStream]]).
    */
  private[graft] def refreshModelRegistryTicks(registry: DataFrame,
      ticksIn: DataFrame, minNewObs: Long = 10,
      maxLagDays: Int = 7): DataFrame = {
    val stale = staleModels(registry, ticksIn, minNewObs, maxLagDays)
    val refit = modelRegistryTicks(
      ticksIn.join(broadcast(stale), Seq("user_id"), "left_semi"))
    mergeRegistries(registry, refit, registrySchema.fieldNames.toSeq)
  }

  /** Shared refresh MERGE (ARIMA and linreg registries): full-outer +
    * struct coalesce keeps ONE reference to the refit subplan (an
    * anti-join + union would evaluate the fits twice — the RDD-backed
    * fit plan gets no exchange reuse); refit wins where present, the
    * previous model is carried otherwise.
    */
  private def mergeRegistries(registry: DataFrame, refit: DataFrame,
      fieldNames: Seq[String]): DataFrame = {
    val rest = fieldNames.filterNot(_ == "user_id")
    def packed(df: DataFrame, as: String) =
      df.select(col("user_id"), struct(rest.map(col).toSeq: _*).as(as))
    packed(registry, "old").join(packed(refit, "new"),
        Seq("user_id"), "full_outer")
      .select(col("user_id"), coalesce(col("new"), col("old")).as("m"))
      .select(col("user_id") +: rest.map(f => col(s"m.$f").as(f)): _*)
  }

  /** SERVE: the arimaForecast output surface re-derived from registry
    * rows alone (a narrow per-row projection — no tick scan, no
    * refit: the operational read path once models are fitted).
    */
  def arimaForecastFromRegistry(registry: DataFrame): DataFrame = {
    val spark = registry.sparkSession
    val rdd = registry.rdd.map { r =>
      val m = ArimaModel(r.getAs[Int]("p"), r.getAs[Int]("d"),
        r.getAs[Int]("q"), r.getAs[Double]("aic"), r.getAs[Double]("mean"),
        r.getAs[Double]("sigma2"), r.getAs[Seq[Double]]("w").toArray,
        r.getAs[Seq[Double]]("zc_tail").toArray,
        r.getAs[Seq[Double]]("resid_tail").toArray,
        r.getAs[Seq[Double]]("level_lasts").toArray,
        r.getAs[Long]("n_obs"), r.getAs[Double]("last_price"))
      val res = serveModel(m)
      Row.fromSeq(Seq[Any](r.getAs[Long]("user_id"), m.nObs, res.p, res.d,
        res.q, r4(res.aic), m.lastPrice) ++
        (0 until Steps).map(h => r4(res.forecasts(h))) ++
        (0 until Steps).flatMap(h => Seq(r4(res.lower(h)), r4(res.upper(h)))))
    }
    spark.createDataFrame(rdd, arimaSchema)
  }

  /** One scoring row per registered model — next-price forecast plus
    * the reference's AIC→confidence transform
    * max(0, min(1, 1/(1+|aic|/100))) (analytics_consumer.py:374-377).
    * This is the BROADCASTABLE serve surface: registry-sized (one row
    * per symbol, never tick-sized), shared by the batch predictions
    * query and the streaming scoring leg
    * ([[graft.streaming.TickStream.forecastServeStream]]) so the two
    * cannot drift. Callers serving many batches should cache it.
    */
  def registryServeSurface(registry: DataFrame): DataFrame =
    arimaForecastFromRegistry(registry)
      .select(
        col("user_id"),
        col("forecast_1").as("predicted_price"),
        greatest(lit(0.0), least(lit(1.0),
          lit(1.0) / (lit(1.0) + abs(col("aic")) / 100.0))).as("confidence_score"),
        lit("ARIMA").as("model_type"))

  // ------------------------------------------- linreg model registry

  private val linregRegistrySchema = StructType(Seq(
    StructField("user_id", LongType), StructField("n_obs", LongType),
    StructField("n_train", LongType), StructField("train_mse", DoubleType),
    StructField("w", ArrayType(DoubleType)),
    StructField("last_window", ArrayType(DoubleType)),
    StructField("trained_at", TimestampType)))

  /** FIT: the linear-regression model registry — the persistence the
    * reference gives this model family (train_linear_regression.py:
    * 59-63 joblib-saves the fitted pipeline;
    * batch_predict_linear_regression.py serves from it) with the same
    * save/load == refit discipline as the ARIMA registry and the
    * quality classifier. One row per trainable symbol: the window-5
    * OLS coefficients `w` (intercept + 5 lag weights, the exact fit
    * [[linregAutoreg]] computes), the training-sample count and MSE,
    * and the LAST feature window — the five prices the latest
    * [[linregAutoreg]] row scores — so serving needs no tick scan.
    * `trained_at` is the last training tick's event time (not wall
    * clock): rebuilds are deterministic, and [[staleModels]] reads
    * `n_obs`/`trained_at` here exactly as it does off the ARIMA
    * registry (same column contract, same refresh policy).
    */
  def linregRegistry(spark: SparkSession, dir: String): DataFrame =
    linregRegistryTicks(Warehouse.validTicks(spark, dir))

  private[graft] def linregRegistryTicks(ticksIn: DataFrame): DataFrame =
    perKeyTicks(ticksIn, linregRegistrySchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      if (prices.length < WindowSize + 2) Iterator.empty
      else {
        val xs = ArrayBuffer.empty[Array[Double]]
        val ys = ArrayBuffer.empty[Double]
        var i = WindowSize
        while (i < prices.length - 1) {
          xs += prices.slice(i - WindowSize, i)
          ys += prices(i + 1)
          i += 1
        }
        olsFit(xs.toArray, ys.toArray) match {
          case None => Iterator.empty
          case Some(w) =>
            val mse = xs.indices.map { j =>
              val d = predictRow(w, xs(j)) - ys(j); d * d
            }.sum / xs.length
            // the window the LATEST autoreg prediction row scores
            // (j = n-1 → prices[n-6 .. n-2]) so registry serve is
            // bit-identical to the latest per-key prediction
            val lastWin = prices.slice(
              prices.length - WindowSize - 1, prices.length - 1)
            Iterator.single(Row.fromSeq(Seq[Any](
              user, prices.length.toLong, xs.length.toLong, mse,
              w.toSeq, lastWin.toSeq, ticks.last._2)))
        }
      }
    }

  /** Persist / reload the fitted linreg registry; loaded serve ==
    * fresh fit (spec-asserted, bit-identical doubles).
    */
  def saveLinregRegistry(registry: DataFrame, path: String): Unit = {
    registry.write.mode("overwrite").parquet(path)
    IndexManifest.write(registry.sparkSession, path, "linreg_registry", Seq("."))
  }

  def loadLinregRegistry(spark: SparkSession, path: String): DataFrame = {
    IndexManifest.validate(spark, path, "linreg_registry", Seq(".")): Unit
    val df = spark.read.parquet(path)
    require(df.columns.toSeq == linregRegistrySchema.fieldNames.toSeq,
      s"invalid linreg registry at $path: ${df.columns.mkString(",")}")
    df
  }

  /** [[refreshModelRegistryTicks]] for the linreg family — identical
    * policy ([[staleModels]] reads the shared `n_obs`/`trained_at`
    * contract) and identical single-reference merge; only the refit
    * leg differs.
    */
  private[graft] def refreshLinregRegistryTicks(registry: DataFrame,
      ticksIn: DataFrame, minNewObs: Long = 10,
      maxLagDays: Int = 7): DataFrame = {
    val stale = staleModels(registry, ticksIn, minNewObs, maxLagDays)
    val refit = linregRegistryTicks(
      ticksIn.join(broadcast(stale), Seq("user_id"), "left_semi"))
    mergeRegistries(registry, refit, linregRegistrySchema.fieldNames.toSeq)
  }

  /** The linreg scoring surface — one row per registered symbol with
    * the next-price prediction and the reference's fixed 0.8
    * confidence (batch_predict_linear_regression.py:76). A
    * plan-literal projection over registry rows (no tick scan, no
    * refit, codegen end to end): `aggregate` folds the lag products
    * onto the intercept in the SAME left-to-right association as the
    * fit-side `predictRow`, so served values are bit-identical to the
    * latest [[linregAutoreg]] row per symbol (spec-asserted).
    * Registry-sized, so the predictions union and any streaming
    * scoring leg can broadcast it.
    */
  /** The served next-price as a COLUMN over registry rows — shared by
    * [[linregServeSurface]] and [[linregRegistryQuery]] so the fold
    * (and its bit-identity contract with `predictRow`) has one
    * definition. Lag count derives from [[WindowSize]]: the fit, the
    * stored window, and this fold cannot disagree.
    */
  private def linregServedPrice: Column =
    expr(s"""aggregate(zip_with(slice(w, 2, $WindowSize), last_window,
            |  (a, b) -> a * b), w[0], (acc, x) -> acc + x)""".stripMargin)

  def linregServeSurface(registry: DataFrame): DataFrame =
    registry.select(
      col("user_id"),
      linregServedPrice.as("predicted_price"),
      lit(0.8).as("confidence_score"),
      lit("LinearRegression").as("model_type"))

  /** Linreg registry summary surface (no array columns — the driver
    * query): which symbols have models, their sample counts, fit
    * quality, the served next-price, freshness.
    */
  def linregRegistryQuery(spark: SparkSession, dir: String): DataFrame =
    // the served price is a pure projection of the registry row, so it
    // rides in the same select — a join with linregServeSurface would
    // reference the RDD-backed fit plan twice (no exchange reuse, the
    // mergeRegistries lesson) and run every OLS fit twice
    linregRegistry(spark, dir)
      .select(col("user_id"), col("n_obs"), col("n_train"),
        round(col("train_mse"), 4).as("train_mse"),
        round(linregServedPrice, 4).as("predicted_price"),
        col("trained_at"))

  /** Registry summary surface (no array columns — the driver query):
    * what models exist, their orders, fit quality, freshness.
    */
  def modelRegistryQuery(spark: SparkSession, dir: String): DataFrame =
    modelRegistry(spark, dir)
      .select(col("user_id"), col("n_obs"), col("p"), col("d"), col("q"),
        round(col("aic"), 4).as("aic"),
        round(col("sigma2"), 8).as("sigma2"),
        col("last_price"), col("trained_at"))

  private val BacktestN = 20

  private val accuracySchema = StructType(Seq(
    StructField("user_id", LongType), StructField("n_backtest", LongType),
    StructField("p", IntegerType), StructField("d", IntegerType),
    StructField("q", IntegerType), StructField("mae", DoubleType),
    StructField("mape", DoubleType), StructField("rmse", DoubleType)))

  /** Per-model forecast quality (get_forecast_accuracy,
    * arima_forecasting.py:232-249: MAE/MAPE/RMSE of recent forecasts
    * vs actuals) as a walk-forward backtest: the order is selected
    * ONCE on the training prefix, then coefficients are re-fit at each
    * step on all data seen so far and the 1-step forecast is scored
    * against the actual. The window adapts down to the per-key history
    * (min 5 scored steps) so short keys still report.
    */
  def forecastAccuracy(spark: SparkSession, dir: String): DataFrame =
    forecastAccuracyTicks(Warehouse.validTicks(spark, dir))

  private[graft] def forecastAccuracyTicks(ticksIn: DataFrame): DataFrame =
    perKeyTicks(ticksIn, accuracySchema) { (user, ticks) =>
      val prices = ticks.map(_._3).toArray
      val nBack = math.min(BacktestN, prices.length - MinObservations)
      if (nBack < 5) Iterator.empty
      else arimaFitSeries(prices.dropRight(nBack), steps = 1) match {
        case None => Iterator.empty
        case Some(sel) =>
          val pairs = ((prices.length - nBack) until prices.length).flatMap { i =>
            arimaFixedOrder(prices.take(i), sel.p, sel.d, sel.q)
              .map(r => (r.forecasts(0), prices(i)))
          }
          // individual refits can fail (singular prefix) — enforce the
          // min-5-SCORED-steps contract on what actually fit, not just
          // on the window size
          if (pairs.length < 5) Iterator.empty
          else {
            val errs = pairs.map { case (f, a) => f - a }
            val mae = errs.map(math.abs).sum / errs.length
            // validTicks guarantees actuals > 0, so MAPE is total
            val mape = pairs.map { case (f, a) => math.abs((f - a) / a) }
              .sum / pairs.length * 100.0
            val rmse = math.sqrt(errs.map(e => e * e).sum / errs.length)
            Iterator.single(Row(user, pairs.length.toLong, sel.p, sel.d, sel.q,
              r4(mae), r4(mape), r4(rmse)))
          }
      }
    }

  /** Per-symbol data-readiness / model-status surface: data-point
    * count and time span over the trailing 7 days (anchored at the
    * corpus max ts — the batch stand-in for the reference's NOW()),
    * plus the trainable verdict at the reference's ≥ 50-point
    * threshold. Mirrors check_arima_status.py:23-43 (the availability
    * sweep that decides which symbols get models) and the data_points
    * facet of get_model_status (arima_forecasting.py:326-338);
    * busiest symbols first like the reference's ORDER BY data_points.
    * Counts VALID ticks (the reference's table only ever holds
    * producer-validated rows, and every model op here trains on
    * validTicks — a raw count would call symbols trainable that
    * arimaForecast's min_observations then rejects). One shuffle on
    * the symbol key; the max-ts anchor broadcasts.
    */
  def modelReadiness(spark: SparkSession, dir: String,
      minPoints: Int = 50): DataFrame = {
    val ev = Warehouse.validTicks(spark, dir)
    val maxTs = ev.agg(max("ts").as("max_ts"))
    ev.crossJoin(broadcast(maxTs))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("data_points"),
        min("ts").as("earliest"), max("ts").as("latest"))
      .withColumn("trainable", col("data_points") >= minPoints)
  }

  def modelReadinessSql: String =
    """WITH valid AS (
      |  SELECT user_id, ts FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |)
      |SELECT user_id, count(*) AS data_points, min(ts) AS earliest,
      |  max(ts) AS latest, count(*) >= 50 AS trainable
      |FROM valid
      |WHERE ts >= (SELECT max(ts) FROM valid) - INTERVAL 7 DAY
      |GROUP BY user_id
      |ORDER BY data_points DESC, user_id""".stripMargin

  /** SERVE-MASS GATE over the prediction surface (round-11
    * partial-oracle tier): the fitted models aren't SQL-expressible,
    * but their ELIGIBILITY is — ARIMA fits every key with ≥
    * [[MinObservations]] valid ticks, linreg every key with ≥
    * WindowSize+2 — so the oracle recomputes both eligible-key
    * masses from raw events with the same validity predicate that
    * proves q_validate_ticks, and the gate asserts each serve leg
    * covers its mass exactly (a per-key fit that silently dies, or
    * a registry row that drops on the serve path, breaks the
    * hash). Plus two TRUE-literal sanity booleans: all served
    * prices finite, all confidence scores in [0, 1].
    *
    * The BACKTEST surface (q_forecast_accuracy) gets a coverage
    * floor instead of exact equality because its per-step refits
    * may legitimately fail on a singular prefix (the operator's
    * documented min-5-scored-steps contract): keys with ≥
    * MinObservations + 5 valid ticks are backtest-eligible (pure
    * SQL), and the accuracy surface must cover ≥ 80% of them
    * (measured 0.94-1.0 when the floor was set; q_forecast_gate
    * holds it, run by GateSpec; a broken walk-forward reads 0).
    */
  def forecastGate(spark: SparkSession, dir: String): DataFrame = {
    val counts = Warehouse.validTicks(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val elig = counts.agg(
      coalesce(sum(when(col("n") >= MinObservations, 1L).otherwise(0L)),
        lit(0L)).as("n_arima_eligible"),
      coalesce(sum(when(col("n") >= WindowSize + 2, 1L).otherwise(0L)),
        lit(0L)).as("n_linreg_eligible"),
      coalesce(sum(when(col("n") >= MinObservations + 5, 1L)
        .otherwise(0L)), lit(0L)).as("n_backtest_eligible"))
    val flags = predictions(spark, dir).agg(
      coalesce(sum(when(col("model_type") === "ARIMA", 1L)
        .otherwise(0L)), lit(0L)).as("na"),
      coalesce(sum(when(col("model_type") === "LinearRegression", 1L)
        .otherwise(0L)), lit(0L)).as("nl"),
      coalesce(expr("bool_and(predicted_price IS NOT NULL" +
        " AND NOT isnan(predicted_price))"), lit(true))
        .as("prices_finite_ok"),
      coalesce(expr("bool_and(confidence_score >= 0.0" +
        " AND confidence_score <= 1.0)"), lit(true))
        .as("confidence_bounded_ok"))
    val backtest = forecastAccuracy(spark, dir)
      .agg(count(lit(1)).as("nb"))
    elig.crossJoin(broadcast(flags)).crossJoin(broadcast(backtest))
      .select(col("n_arima_eligible"), col("n_linreg_eligible"),
        col("n_backtest_eligible"),
        (col("na") === col("n_arima_eligible")).as("arima_rows_ok"),
        (col("nl") === col("n_linreg_eligible")).as("linreg_rows_ok"),
        coalesce(col("nb").cast("double")
          / col("n_backtest_eligible").cast("double") >= 0.8, lit(true))
          .as("backtest_coverage_ok"),
        col("prices_finite_ok"), col("confidence_bounded_ok"))
  }

  def forecastGateSql: String =
    s"""WITH c AS (
      |  SELECT user_id, count(*)::BIGINT AS n FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |  GROUP BY user_id
      |)
      |SELECT
      |  coalesce(sum(CASE WHEN n >= $MinObservations THEN 1 ELSE 0 END), 0)::BIGINT
      |    AS n_arima_eligible,
      |  coalesce(sum(CASE WHEN n >= ${WindowSize + 2} THEN 1 ELSE 0 END), 0)::BIGINT
      |    AS n_linreg_eligible,
      |  coalesce(sum(CASE WHEN n >= ${MinObservations + 5} THEN 1 ELSE 0 END), 0)::BIGINT
      |    AS n_backtest_eligible,
      |  true AS arima_rows_ok, true AS linreg_rows_ok,
      |  true AS backtest_coverage_ok,
      |  true AS prices_finite_ok, true AS confidence_bounded_ok
      |FROM c""".stripMargin
}
