package graft

import graft.functions.Scalars
import graft.operators.Multimodal
import graft.sources.Tsv
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class UtilitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("utility-spec")

  override def afterAll(): Unit = spark.stop()

  test("ewma: matches the naive recurrence bitwise; layout-exact; maxLen fail-fast") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(97)
    val rows = for (g <- Seq("a", "b"); t <- 0 until 40) yield
      (g, t, rnd.nextInt(1000).toLong)
    val df = rows.toDF("g", "t", "v")
    val alpha = 0.25
    def naive(vs: Seq[Long]): Double =
      vs.tail.foldLeft(vs.head.toDouble)((l, x) => alpha * x + 0.75 * l)
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.ewma(d, Seq("g"), col("t"), col("v"), alpha)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
    val got = run(df)
    for (g <- Seq("a", "b")) {
      val vs = rows.filter(_._1 == g).sortBy(_._2).map(_._3)
      assert(got(g)._1 == 40L)
      assert(got(g)._2 == naive(vs), s"group $g") // bitwise
    }
    assert(run(df.repartition(11)) == got)
    // a single-row group's level is its value
    val one = Seq(("x", 1, 7L)).toDF("g", "t", "v")
    assert(run(one)("x") == ((1L, 7.0)))
    // maxLen guard fails fast instead of collecting an unbounded series
    val e = intercept[Exception] {
      TimeSeries.ewma(df, Seq("g"), col("t"), col("v"), alpha, maxLen = 10)
        .collect()
    }
    assert(e.getMessage.contains("maxLen") ||
      e.getCause != null && e.getCause.getMessage.contains("maxLen"))
  }

  test("acf: naive differential bitwise; period detection; edge cases") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(31)
    val rows = for (g <- Seq("a", "b"); t <- 0 until 30) yield
      (g, t, rnd.nextInt(500).toLong)
    val df = rows.toDF("g", "t", "v")
    // independent exact-integer model of the same scaled moments
    def naive(vs: Seq[Long], k: Int): (Long, Long) = {
      val n = vs.size.toLong; val s = vs.sum
      val d = vs.map(x => n * x - s)
      (d.dropRight(k).zip(d.drop(k)).map { case (a, b) => a * b }.sum,
        d.map(x => x * x).sum)
    }
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.acf(d, Seq("g"), col("t"), col("v"), maxLag = 5)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))).toMap
    val got = run(df)
    for (g <- Seq("a", "b"); k <- 1 to 5) {
      val vs = rows.filter(_._1 == g).sortBy(_._2).map(_._3)
      val (num, den) = naive(vs, k)
      assert(got((g, k.toLong)) ==
        ((30L, num, den, num.toDouble / den.toDouble)), s"$g lag $k")
    }
    assert(run(df.repartition(13)) == got) // bitwise layout invariance
    // a period-3 sawtooth: r_3 = (n−3)/n = 0.9 exactly (27 of 30
    // overlap terms, each a squared deviation), r_1 negative
    val saw = (0 until 30).map(t => ("s", t, (t % 3).toLong)).toDF("g", "t", "v")
    val sacf = run(saw)
    assert(sacf(("s", 3L))._4 == 16200.0 / 18000.0)
    assert(sacf(("s", 1L))._4 < 0.0)
    // constant series: zero variance -> null r, exact zero num/den
    val const = (0 until 8).map(t => ("c", t, 5L)).toDF("g", "t", "v")
    val cacf = run(const)
    assert(cacf(("c", 1L))._2 == 0L && cacf(("c", 1L))._3 == 0L &&
      cacf(("c", 1L))._4.isNaN)
    // n = 1 emits nothing (no overlapping pair, and no phantom
    // descending-sequence lags); short series cap lags at n - 1
    assert(run(Seq(("x", 0, 3L)).toDF("g", "t", "v")).isEmpty)
    val short = run(Seq(("y", 0, 1L), ("y", 1, 9L), ("y", 2, 4L))
      .toDF("g", "t", "v"))
    assert(short.keys.map(_._2).toSet == Set(1L, 2L))
    // maxLen guard fails fast
    val e = intercept[Exception] {
      TimeSeries.acf(df, Seq("g"), col("t"), col("v"), maxLag = 2,
        maxLen = 10).collect()
    }
    assert(e.getMessage.contains("maxLen") ||
      e.getCause != null && e.getCause.getMessage.contains("maxLen"))
  }

  test("strength: seasonal series reads F_S high, ramp reads F_T high; naive bitwise") {
    import spark.implicits._
    import graft.operators.TimeSeries
    import java.sql.Date
    def weeks(n: Int) = (0 until n).map(w =>
      Date.valueOf(java.time.LocalDate.of(2024, 1, 7).plusDays(7L * w)))
    // strong period-3 season + noise; strong ramp + noise; pure noise
    val rnd = new scala.util.Random(43)
    val rows =
      weeks(30).zipWithIndex.map { case (d, i) =>
        ("season", d, (100 + 40 * (i % 3) + rnd.nextInt(4)).toLong) } ++
      weeks(30).zipWithIndex.map { case (d, i) =>
        ("ramp", d, (100 + 10 * i + rnd.nextInt(4)).toLong) } ++
      weeks(30).zipWithIndex.map { case (d, _) =>
        ("noise", d, (100 + rnd.nextInt(60)).toLong) }
    val df = rows.toDF("g", "t", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.strength(d, Seq("g"), col("t"), col("v"), period = 3)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1),
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
            if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    val got = run(df)
    // the seasonal series is overwhelmingly seasonal, and season
    // dominates whatever trend the noisy MA wiggles into existence
    assert(got("season")._3 > 0.95 && got("season")._2 < got("season")._3)
    assert(got("ramp")._2 > 0.95)
    assert(got("noise")._3 < got("season")._3 &&
      got("noise")._2 < got("ramp")._2)
    // independent replay from the decompose columns, same fold order
    val dec2 = TimeSeries.decompose(df.filter(col("g") === "season"),
        Seq("g"), col("t"), col("v"), 3)
      .filter(col("remainder").isNotNull)
      .select(col("t"), col("remainder"),
        (col("value").cast("double") - col("trend")).as("sr"),
        (col("value").cast("double") - col("seasonal")).as("tr"))
      .collect().map(r => (r.getDate(0).getTime, r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    def varOf(xs: Seq[Double]): Double = {
      val n = xs.size.toDouble
      val s = xs.foldLeft(0.0)(_ + _)
      val s2 = xs.foldLeft(0.0)((a, x) => a + x * x)
      val m = s / n
      s2 / n - m * m
    }
    val fS = math.max(0.0, 1.0 - varOf(dec2.map(_._2)) / varOf(dec2.map(_._3)))
    val fT = math.max(0.0, 1.0 - varOf(dec2.map(_._2)) / varOf(dec2.map(_._4)))
    assert(got("season")._3 == fS && got("season")._2 == fT) // bitwise
    assert(run(df.repartition(7)) == got) // layout invariance
  }

  test("backtest: hand sMAPE values; the right method wins its regime; edges") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def run(rows: Seq[(String, Int, Double)], p: Int = 2, h: Int = 2) =
      TimeSeries.backtest(rows.toDF("g", "t", "v"), Seq("g"), col("t"),
          col("v"), period = p, horizon = h)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
    // constant series: every method forecasts it exactly -> all 0
    val const = run((0 until 10).map(t => ("c", t, 7.0)))
    assert(const.size == 5 && const.values.forall(_ == ((10L, 0.0))))
    // pure period-2 sawtooth: snaive nails it (smape 0), naive cannot
    val saw = (0 until 12).map(t => ("s", t, if (t % 2 == 0) 10.0 else 20.0))
    val sw = run(saw)
    assert(sw(("s", "snaive"))._2 == 0.0)
    assert(sw(("s", "naive"))._2 > 0.3)
    assert(sw(("s", "holt_winters"))._2 < sw(("s", "ewma"))._2)
    // pure linear ramp: holt nails it, flat methods lag
    val ramp = (0 until 12).map(t => ("r", t, 10.0 + 3.0 * t))
    val rw = run(ramp)
    assert(rw(("r", "holt"))._2 < 1e-12)
    assert(rw(("r", "naive"))._2 > rw(("r", "holt"))._2)
    // hand sMAPE: naive on a 4-point series, h=2, forecast = v2 = 5
    // actuals 10, 0 -> terms 2|5-10|/15 = 2/3 and 2|5-0|/5 = 2 -> 4/3
    val hand = run(Seq(("h", 0, 3.0), ("h", 1, 5.0), ("h", 2, 10.0),
      ("h", 3, 0.0)), p = 2, h = 2)
    assert(hand(("h", "naive"))._2 == (2.0 / 3.0 + 2.0) / 2.0)
    // training prefix shorter than the period emits nothing
    assert(run(Seq(("x", 0, 1.0), ("x", 1, 2.0), ("x", 2, 3.0)),
      p = 2, h = 2).isEmpty)
    // layout invariance is bitwise
    val a1 = run(saw ++ ramp)
    val a2 = TimeSeries.backtest(
        (saw ++ ramp).reverse.toDF("g", "t", "v").repartition(7),
        Seq("g"), col("t"), col("v"), 2, 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(a1 == a2)
  }

  test("rolling backtest: mean of per-origin single-origin runs bitwise; ranking stable; edges") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def runRolling(rows: Seq[(String, Int, Double)], k: Int, h: Int = 1) =
      TimeSeries.backtestRolling(rows.toDF("g", "t", "v"), Seq("g"),
          col("t"), col("v"), period = 2, horizon = h, origins = k)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val saw = (0 until 12).map(t => ("s", t, if (t % 2 == 0) 10.0 else 20.0))
    val ramp = (0 until 12).map(t => ("r", t, 10.0 + 3.0 * t))
    val noisy = Seq(3.0, 5.0, 10.0, 0.0, 7.0, 2.0, 9.0, 1.0)
      .zipWithIndex.map { case (v, t) => ("h", t, v) }
    val rolled = runRolling(saw ++ ramp ++ noisy, k = 3)

    // independent replay: origin j == a single-origin backtest on the
    // series truncated to its last n−j rows; the rolling smape must be
    // the ascending-j fixed-order mean of those, BITWISE
    def singleOrigin(rows: Seq[(String, Int, Double)], j: Int) =
      TimeSeries.backtest(
          rows.dropRight(j).toDF("g", "t", "v"), Seq("g"), col("t"),
          col("v"), period = 2, horizon = 1)
        .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    for (series <- Seq(saw, ramp, noisy)) {
      val g = series.head._1
      val per = (0 until 3).map(j => singleOrigin(series, j))
      for (m <- TimeSeries.BacktestMethods) {
        val mean = ((0.0 + per(0)(m)) + per(1)(m) + per(2)(m)) / 3.0
        assert(rolled((g, m))._3 == mean, s"$g/$m")
        assert(rolled((g, m))._2 == 3L)
      }
    }
    // regime winners survive multi-origin evaluation
    assert(rolled(("s", "snaive"))._3 == 0.0)
    assert(rolled(("r", "holt"))._3 < 1e-12)
    assert(rolled(("s", "naive"))._3 > rolled(("s", "snaive"))._3)
    assert(rolled(("r", "naive"))._3 > rolled(("r", "holt"))._3)
    // a group whose OLDEST origin lacks training rows emits nothing
    // (n=5, h=1, k=3 -> oldest trains on 2 rows: ok at exactly the
    // boundary; n=4 -> oldest trains on 1 row: excluded)
    assert(runRolling((0 until 5).map(t => ("b", t, 1.0 * t)), k = 3)
      .size == 5)
    assert(runRolling((0 until 4).map(t => ("b", t, 1.0 * t)), k = 3)
      .isEmpty)
    // k=1 degenerates to the single-origin backtest exactly
    val one = runRolling(noisy, k = 1)
    val base = singleOrigin(noisy, 0)
    for (m <- TimeSeries.BacktestMethods)
      assert(one(("h", m))._3 == (0.0 + base(m)) / 1.0, s"k1/$m")
    // layout invariance is bitwise
    val rolled2 = TimeSeries.backtestRolling(
        (saw ++ ramp ++ noisy).reverse.toDF("g", "t", "v").repartition(7),
        Seq("g"), col("t"), col("v"), 2, 1, 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rolled == rolled2)
  }

  test("holtWinters: naive recurrence bitwise; carries the season holt flattens; edges") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val p = 4
    def naive(vs: Seq[Double], h: Int): (Double, Double, Double) = {
      val (a, g, d) = (0.25, 0.125, 0.25)
      val lInit = vs.take(p).foldLeft(0.0)(_ + _) / p
      var l = lInit; var b = 0.0
      val s = scala.collection.mutable.ArrayBuffer(
        vs.take(p).map(_ - lInit): _*)
      for (t <- p until vs.size) {
        val pos = t % p
        val vt = vs(t)
        val lNew = a * (vt - s(pos)) + (1 - a) * (l + b)
        val bNew = g * (lNew - l) + (1 - g) * b
        s(pos) = d * (vt - lNew) + (1 - d) * s(pos)
        l = lNew; b = bNew
      }
      val posF = (vs.size + h - 1) % p
      (l, b, l + h * b + s(posF))
    }
    val rnd = new scala.util.Random(67)
    val rows = for (g <- Seq("a", "b"); t <- 0 until 24) yield
      (g, t, (50 + 10 * (t % p) + rnd.nextInt(5)).toDouble)
    val df = rows.toDF("g", "t", "v")
    def run(d: org.apache.spark.sql.DataFrame, h: Int = 2) =
      TimeSeries.holtWinters(d, Seq("g"), col("t"), col("v"), p,
          horizon = h)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    val got = run(df)
    for (g <- Seq("a", "b")) {
      val vs = rows.filter(_._1 == g).sortBy(_._2).map(_._3)
      val (l, b, f) = naive(vs, 2)
      assert(got(g) == ((24L, l, b, f)), s"group $g")
    }
    assert(run(df.repartition(11)) == got) // bitwise layout invariance
    // on a pure seasonal sawtooth the HW forecast lands on the next
    // seasonal value while holt's straight line misses it
    val saw = (0 until 24).map(t => ("s", t, (10 * (t % p)).toDouble))
    val hwF = run(saw.toDF("g", "t", "v"), h = 1)("s")._4
    val truth = 10.0 * (24 % p)
    val holtF = TimeSeries.holt(saw.toDF("g", "t", "v"), Seq("g"),
        col("t"), col("v"), alpha = 0.25, gamma = 0.125)
      .collect().head.getDouble(4)
    assert(math.abs(hwF - truth) < 3.0, s"hw $hwF vs $truth")
    assert(math.abs(hwF - truth) < math.abs(holtF - truth))
    // exactly one period: init state only (b = 0, level = period mean)
    val one = run((0 until p).map(t => ("o", t, (t + 1).toDouble))
      .toDF("g", "t", "v"), h = 1)
    assert(one("o")._1 == p.toLong && one("o")._2 == 2.5 && one("o")._3 == 0.0)
    // shorter than a period: nothing
    assert(run(Seq(("x", 0, 1.0), ("x", 1, 2.0)).toDF("g", "t", "v"))
      .isEmpty)
  }

  test("pacf: naive Durbin-Levinson differential bitwise; AR diagnostics; edge cases") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(53)
    val rows = for (g <- Seq("a", "b"); t <- 0 until 40) yield
      (g, t, rnd.nextInt(400).toLong)
    val df = rows.toDF("g", "t", "v")
    // independent replay: exact scaled-BIGINT acf ratios, then DL in
    // the same op order
    def naive(vs: Seq[Long], maxL: Int): Seq[Double] = {
      val n = vs.size.toLong; val s = vs.sum
      val d = vs.map(x => n * x - s)
      val den = d.map(x => x * x).sum
      val L = math.min(maxL.toLong, n - 1).toInt
      val rs = (1 to L).map(k => d.dropRight(k).zip(d.drop(k))
        .map { case (a, b) => a * b }.sum.toDouble / den.toDouble)
      var phi = Vector(rs(0)); var out = Vector(rs(0))
      for (k <- 2 to L) {
        val num = rs(k - 1) - (1 until k).foldLeft(0.0)((acc, j) =>
          acc + phi(j - 1) * rs(k - j - 1))
        val dk = 1.0 - (1 until k).foldLeft(0.0)((acc, j) =>
          acc + phi(j - 1) * rs(j - 1))
        val pk = num / dk
        phi = (1 until k).map(j => phi(j - 1) - pk * phi(k - j - 1))
          .toVector :+ pk
        out = out :+ pk
      }
      out
    }
    def run(d: org.apache.spark.sql.DataFrame, maxLag: Int = 6) =
      TimeSeries.pacf(d, Seq("g"), col("t"), col("v"), maxLag)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), if (r.isNullAt(3)) Double.NaN else r.getDouble(3))))
        .toMap
    val got = run(df)
    for (g <- Seq("a", "b")) {
      val vs = rows.filter(_._1 == g).sortBy(_._2).map(_._3)
      val want = naive(vs, 6)
      for (k <- 1 to 6)
        assert(got((g, k.toLong)) == ((40L, want(k - 1))), s"$g lag $k")
    }
    assert(run(df.repartition(9)) == got) // bitwise layout invariance
    // pacf(1) must equal acf r1 exactly (same ratio, same arithmetic)
    val r1 = TimeSeries.acf(df, Seq("g"), col("t"), col("v"), 1)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(got(("a", 1L))._2 == r1("a") && got(("b", 1L))._2 == r1("b"))
    // constant series (zero variance) emits nothing; n=1 emits nothing
    assert(run((0 until 6).map(t => ("c", t, 3L)).toDF("g", "t", "v"))
      .isEmpty)
    assert(run(Seq(("x", 0, 5L)).toDF("g", "t", "v")).isEmpty)
    // 2-point series: exactly one lag, equal to r1 (the filter-not-
    // sequence guard against descending sequence(2, 1))
    val two = run(Seq(("y", 0, 1L), ("y", 1, 4L)).toDF("g", "t", "v"))
    assert(two.keySet == Set(("y", 1L)))
  }

  test("holt: matches the naive level/trend recurrence bitwise; tracks a trend ewma lags") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(41)
    val rows = for (g <- Seq("a", "b"); t <- 0 until 40) yield
      (g, t, rnd.nextInt(1000).toLong)
    val df = rows.toDF("g", "t", "v")
    val (alpha, gamma, h) = (0.25, 0.125, 4)
    def naive(vs: Seq[Long]): (Double, Double) = {
      val v = vs.map(_.toDouble)
      val init = (v.head, if (v.size >= 2) v(1) - v.head else 0.0)
      v.drop(1).foldLeft(init) { case ((l, b), x) =>
        val lp = alpha * x + 0.75 * (l + b)
        (lp, gamma * (lp - l) + 0.875 * b)
      }
    }
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.holt(d, Seq("g"), col("t"), col("v"), alpha, gamma, h)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    val got = run(df)
    for (g <- Seq("a", "b")) {
      val vs = rows.filter(_._1 == g).sortBy(_._2).map(_._3)
      val (l, b) = naive(vs)
      assert(got(g) == ((40L, l, b, l + h * b)), s"group $g") // bitwise
    }
    assert(run(df.repartition(11)) == got, "layout-exact")
    // single-row group: level = value, zero trend
    val one = Seq(("x", 1, 7L)).toDF("g", "t", "v")
    assert(run(one)("x") == ((1L, 7.0, 0.0, 7.0)))
    // on a pure linear ramp Holt's h-step forecast is (near-)exact while
    // ewma lags by construction — the reason the operator exists
    val ramp = (0 until 30).map(t => ("r", t, (100 + 10 * t).toLong))
      .toDF("g", "t", "v")
    val (_, lvl, trd, fc) = run(ramp)("r")
    assert(math.abs(fc - (100 + 10 * 33)) < 1e-6, s"holt forecast $fc")
    assert(math.abs(trd - 10.0) < 1e-6, s"holt trend $trd")
    val ew = TimeSeries.ewma(ramp, Seq("g"), col("t"), col("v"), alpha)
      .collect().head.getDouble(2)
    assert(lvl - ew > 20.0, s"ewma should lag the ramp (ewma=$ew holt=$lvl)")
    // maxLen guard
    val e = intercept[Exception] {
      TimeSeries.holt(df, Seq("g"), col("t"), col("v"), alpha, gamma,
        h, maxLen = 10).collect()
    }
    assert(e.getMessage.contains("maxLen") ||
      e.getCause != null && e.getCause.getMessage.contains("maxLen"))
  }

  test("changepoints: single split matches brute-force SSE argmax on fuzzed series") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val minSeg = 2
    def cost(vs: Seq[Long], a: Int, b: Int): Double = {
      // the operator's exact expression: prefix BIGINTs, one float tail
      val p = vs.scanLeft(0L)(_ + _); val q = vs.scanLeft(0L)((s, x) => s + x * x)
      val d = (p(b) - p(a)).toDouble
      (q(b) - q(a)).toDouble - d * d / (b - a).toDouble
    }
    def bruteBestSplit(vs: Seq[Long]): Option[(Int, Double)] = {
      val n = vs.length
      // the operator's shape: first strict MIN of cost(a,k)+cost(k,b),
      // then one gain computation — replicated association and all
      val cands = (minSeg to n - minSeg).map(k =>
        k -> (cost(vs, 0, k) + cost(vs, k, n)))
      cands.foldLeft(Option.empty[(Int, Double)]) {
        case (acc, (k, s)) if acc.forall(s < _._2) => Some(k -> s)
        case (acc, _) => acc
      }.map { case (k, s) => k -> (cost(vs, 0, n) - s) }
        .filter(_._2 > 0.0)
    }
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 8) {
      val n = 6 + rnd.nextInt(30)
      // half the trials have a planted shift, half are pure noise
      val vs: Seq[Long] = if (trial % 2 == 0) {
        val cut = 2 + rnd.nextInt(n - 4)
        Seq.tabulate(n)(i => (if (i < cut) 50 else 200) + rnd.nextInt(10).toLong)
      } else Seq.fill(n)(100 + rnd.nextInt(8).toLong)
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v) }.toDF("g", "t", "v")
      val segs = TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"),
        maxChanges = 1).orderBy("seg").collect()
      bruteBestSplit(vs) match {
        case Some((k, _)) =>
          assert(segs.length == 2, s"trial $trial: expected a split")
          assert(segs(1).getAs[Int]("start_t") == k,
            s"trial $trial: split at ${segs(1).getAs[Int]("start_t")}, brute says $k")
          // segment SSEs replay the exact expression
          assert(segs(0).getAs[Double]("sse") == cost(vs, 0, k))
          assert(segs(1).getAs[Double]("sse") == cost(vs, k, vs.length))
        case None =>
          assert(segs.length == 1, s"trial $trial: split on no-gain series")
      }
    }
  }

  test("changepoints: recovers two planted level shifts; respects maxChanges and minSegment") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val vs = Seq.fill(6)(10L) ++ Seq.fill(6)(80L) ++ Seq.fill(6)(30L)
    val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v) }.toDF("g", "t", "v")
    val segs = TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"),
      maxChanges = 4).orderBy("seg").collect()
    // exact shifts at t=6 and t=12; clean plateaus leave zero further gain
    assert(segs.map(_.getAs[Int]("start_t")).toSeq == Seq(0, 6, 12))
    assert(segs.map(_.getAs[Double]("mean")).toSeq == Seq(10.0, 80.0, 30.0))
    assert(segs.forall(_.getAs[Double]("sse") == 0.0))
    // maxChanges=1 stops after the strongest shift
    val one = TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"),
      maxChanges = 1).collect()
    assert(one.length == 2)
    // a 3-row series cannot split with minSegment=2
    val tiny = Seq(("g", 0, 1L), ("g", 1, 100L), ("g", 2, 1L)).toDF("g", "t", "v")
    assert(TimeSeries.changepoints(tiny, Seq("g"), col("t"), col("v"), 2)
      .collect().length == 1)
    // layout invariance: same bounds from any partitioning
    val re = TimeSeries.changepoints(df.repartition(7), Seq("g"), col("t"),
      col("v"), 4).orderBy("seg").collect()
    assert(re.map(_.toSeq).toSeq == segs.map(_.toSeq).toSeq)
  }

  test("changepoints: maxLen fail-fast fires; minGain suppresses noise splits") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(5)
    val df = (0 until 50).map(i => ("g", i, 100 + rnd.nextInt(3).toLong))
      .toDF("g", "t", "v")
    val e = intercept[Exception] {
      TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"), 2,
        maxLen = 10).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("maxLen")), e.getMessage)
    // a high minGain keeps the pure-noise series whole
    val segs = TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"), 3,
      minGain = 1000.0).collect()
    assert(segs.length == 1)
    // a negative minGain could only ever admit the kernel's -1 sentinel
    val neg = intercept[IllegalArgumentException] {
      TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"), 2,
        minGain = Double.NegativeInfinity)
    }
    assert(neg.getMessage.contains("minGain"))
  }

  test("optimalChangepoints: exhaustive-DP differential; penalty sweep; beats greedy; layout-exact") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val minSeg = 2
    def cost(vs: Seq[Long], a: Int, b: Int): Double = {
      val p = vs.scanLeft(0L)(_ + _); val q = vs.scanLeft(0L)((s, x) => s + x * x)
      val d = (p(b) - p(a)).toDouble
      (q(b) - q(a)).toDouble - d * d / (b - a).toDouble
    }
    def objective(vs: Seq[Long], bounds: Seq[Int], pen: Double): Double =
      bounds.sliding(2).map { case Seq(a, b) => cost(vs, a, b) + pen }.sum
    // brute force: enumerate EVERY valid segmentation of a short series
    def bruteBest(vs: Seq[Long], pen: Double): Double = {
      val n = vs.length
      // boundary tails from `start`: every segment >= minSeg, last = n
      def go(start: Int): Seq[Seq[Int]] =
        if (start == n) Seq(Seq())
        else (start + minSeg to n).filter(e => e == n || n - e >= minSeg)
          .flatMap(e => go(e).map(e +: _))
      go(0).map(bs => objective(vs, 0 +: bs, pen)).min
    }
    def run(vs: Seq[Long], pen: Double): Seq[Int] = {
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v) }
        .toDF("g", "t", "v")
      TimeSeries.optimalChangepoints(df, Seq("g"), col("t"), col("v"), pen)
        .orderBy("seg").collect().map(_.getAs[Int]("start_t")).toSeq :+ vs.length
    }
    val rnd = new scala.util.Random(37)
    for (trial <- 0 until 6) {
      val n = 6 + rnd.nextInt(7) // small enough for full enumeration
      val vs = Seq.tabulate(n)(i =>
        (if (i < n / 2) 20 else 60) + rnd.nextInt(15).toLong)
      val pen = Seq(0.0, 50.0, 1e6)(trial % 3)
      val got = run(vs, pen)
      val gotObj = objective(vs, got, pen)
      val bestObj = bruteBest(vs, pen)
      assert(gotObj <= bestObj + 1e-9,
        s"trial $trial: DP objective $gotObj worse than brute $bestObj")
      // ...and never better than the true optimum (sanity)
      assert(gotObj >= bestObj - 1e-9)
    }
    // penalty sweep: 0 → maximal fragmentation (noisy values make every
    // split strictly reduce SSE; exact-tie plateaus would correctly stay
    // whole under the strict-< tie-break); huge → one segment
    val vs = Seq.fill(4)(10L) ++ Seq.fill(4)(90L) ++ Seq.fill(4)(40L)
    assert(run(vs, 1e9) == Seq(0, 12))
    val noisy = Seq.tabulate(12)(i => vs(i) + (i % 3).toLong)
    val shattered = run(noisy, 0.0)
    assert(shattered.size >= 6, s"penalty 0 should fragment: $shattered")
    // moderate penalty recovers exactly the two planted shifts
    assert(run(vs, 100.0) == Seq(0, 4, 8, 12))
    // optimal never loses to greedy at the same effective granularity
    for (_ <- 0 until 4) {
      val f = Seq.fill(20)(30L + rnd.nextInt(40))
      val pen = 200.0
      val df = f.zipWithIndex.map { case (v, i) => ("g", i, v) }
        .toDF("g", "t", "v")
      val greedy = TimeSeries.changepoints(df, Seq("g"), col("t"), col("v"),
          maxChanges = 3).orderBy("seg").collect()
        .map(_.getAs[Int]("start_t")).toSeq :+ f.length
      assert(objective(f, run(f, pen), pen) <=
        objective(f, greedy, pen) + 1e-9)
    }
    // layout invariance is exact
    val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v) }
      .toDF("g", "t", "v")
    val a1 = TimeSeries.optimalChangepoints(df, Seq("g"), col("t"),
      col("v"), 100.0).orderBy("seg").collect().map(_.toSeq).toSeq
    val a2 = TimeSeries.optimalChangepoints(df.repartition(7), Seq("g"),
      col("t"), col("v"), 100.0).orderBy("seg").collect().map(_.toSeq).toSeq
    assert(a1 == a2)
  }

  test("cusum: naive recurrence differential; planted drift alarms; stationary stays quiet") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def naive(vs: Seq[Long], slack: Long, h: Long): (Long, Long, Option[Int]) = {
      val ref = {
        val sorted = vs.sorted.map(_.toDouble)
        val n = sorted.size
        val q = if (n % 2 == 1) sorted(n / 2)
          else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
        math.floor(q).toLong
      }
      var s = 0L; var na = 0L; var first: Option[Int] = None
      vs.zipWithIndex.foreach { case (v, i) =>
        s = math.max(0L, s + v - (ref + slack))
        if (s > h) { na += 1; if (first.isEmpty) first = Some(i) }
      }
      (s, na, first)
    }
    def run(vs: Seq[Long], slack: Long, h: Long) = {
      val df = vs.zipWithIndex.map { case (v, i) =>
        ("g", java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 3)
          .plusWeeks(i)), v) }.toDF("g", "t", "v")
      val r = TimeSeries.cusum(df, Seq("g"), col("t"), col("v"), slack, h)
        .collect()(0)
      val epoch0 = java.time.LocalDate.of(2021, 1, 3).toEpochDay
      (r.getLong(3), r.getLong(4),
        Option(r.getDate(5)).map(d => (d.toLocalDate.toEpochDay - epoch0) / 7))
    }
    // planted drift: stationary around 100, then a sustained +10 shift
    val drift = Seq.fill(10)(100L) ++ Seq.fill(8)(110L)
    val got = run(drift, slack = 2L, h = 20L)
    val want = naive(drift, 2L, 20L)
    assert((got._1, got._2) == ((want._1, want._2)), s"$got vs $want")
    assert(got._2 > 0, "a sustained shift must alarm")
    // stationary noise never alarms at the same threshold
    val rnd = new scala.util.Random(23)
    val flat = Seq.fill(30)(100L + rnd.nextInt(5))
    assert(run(flat, 2L, 20L)._2 == 0L)
    // fuzzed differential (values AND alarm index)
    for (_ <- 0 until 5) {
      val vs = Seq.fill(20 + rnd.nextInt(20))(50L + rnd.nextInt(30))
      val g = run(vs, 1L, 15L); val w = naive(vs, 1L, 15L)
      assert(g._1 == w._1 && g._2 == w._2, s"$g vs $w on $vs")
      assert(g._3.map(_.toInt) == w._3.map(identity), s"first alarm $g vs $w")
    }
    // layout invariance is exact (integers end to end)
    val df = drift.zipWithIndex.map { case (v, i) =>
      ("g", java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 3)
        .plusWeeks(i)), v) }.toDF("g", "t", "v")
    val a1 = TimeSeries.cusum(df, Seq("g"), col("t"), col("v"), 2L, 20L)
      .collect()(0).toSeq
    val a2 = TimeSeries.cusum(df.repartition(7), Seq("g"), col("t"),
      col("v"), 2L, 20L).collect()(0).toSeq
    assert(a1 == a2)
  }

  test("anomalies: a planted spike is flagged, its well-behaved peers are not") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val season = Seq(3L, -1L, -2L)
    // seasonal series with small deterministic noise (a noise-free
    // series has MAD = 0, where ANY deviation legitimately flags), long
    // enough that the one gross spike at t = 13 cannot contaminate the
    // median/MAD thresholds
    val rows = (0 until 30).map(t =>
      ("a", t, 50L + season(t % 3) + (t * 7 % 5) - 2 +
        (if (t == 13) 100L else 0L)))
    val df = rows.toDF("g", "t", "v")
    val out = TimeSeries.anomalies(df, Seq("g"), col("t"), col("v"),
        period = 3, k = 6.0)
      .collect().map(r => r.getInt(1) ->
        ((Option(r.get(8)).map(_.asInstanceOf[Double]),
          if (r.isNullAt(9)) None else Some(r.getBoolean(9))))).toMap
    assert(out(13)._2.contains(true), s"spike not flagged: ${out(13)}")
    // flags may extend to the spike's MA window (its trend is polluted
    // there — correct detection), but nowhere else
    val flagged = out.collect { case (t, (_, Some(true))) => t }.toSet
    assert(flagged.contains(13) && flagged.subsetOf(Set(12, 13, 14)),
      s"false positives outside the spike window: $flagged")
    // edge rows have null remainder, hence null flag
    assert(out(0)._2.isEmpty && out(29)._2.isEmpty)
  }

  test("decompose: exact recovery of a planted trend+season; edges null; layout-exact") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // v_t = (10 + 2t) + s_{t mod 3}, s = (3, -1, -2): the 3-row centered
    // MA removes the season exactly on interior rows, so trend, seasonal,
    // and remainder are recovered EXACTLY (integer arithmetic end to end)
    val season = Seq(3L, -1L, -2L)
    val rows = for (g <- Seq("a", "b"); t <- 0 until 12) yield
      (g, t, 10L + 2L * t + season(t % 3) + (if (g == "b") 100L else 0L))
    val df = rows.toDF("g", "t", "v")
    val out = TimeSeries.decompose(df, Seq("g"), col("t"), col("v"), 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    for (g <- Seq("a", "b"); t <- 0 until 12) {
      val (tr, se, re) = out((g, t))
      if (t == 0 || t == 11) assert(tr.isEmpty && re.isEmpty,
        s"edge row ($g,$t) must have null trend/remainder")
      else {
        val base = if (g == "b") 110.0 else 10.0
        assert(tr.contains(base + 2.0 * t), s"trend ($g,$t) = $tr")
        assert(re.contains(0.0), s"remainder ($g,$t) = $re")
      }
      // seasonal is defined for every position with a full-window peer
      assert(se.contains(season(t % 3).toDouble), s"seasonal ($g,$t) = $se")
    }
    // bitwise layout invariance (exact ints + fixed-order folds)
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.decompose(d, Seq("g"), col("t"), col("v"), 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.toSeq.drop(3)))
        .toSet
    assert(run(df.repartition(7)) == run(df.coalesce(1)))
    // a non-zero-sum season is centered: seasonal sums to ~0 per cycle
    val rows2 = (0 until 15).map(t => ("c", t, 20L + season(t % 3) + 5L))
    val out2 = TimeSeries.decompose(rows2.toDF("g", "t", "v"), Seq("g"),
        col("t"), col("v"), 3)
      .select("seasonal").distinct().collect().map(_.getDouble(0))
    assert(math.abs(out2.sum) < 1e-12, s"seasonal not centered: ${out2.toList}")
  }

  test("associationRules: hand-computed support/confidence/lift; dedup; guards") {
    import spark.implicits._
    import graft.operators.Assoc
    // baskets: 1:{a,b,c} 2:{a,b} 3:{a} — with a duplicate (1, a) row
    // that must not inflate counts
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (3L, "a")).toDF("bk", "it")
    val out = Assoc.associationRules(df, col("bk"), col("it"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    assert(out.size == 6) // 3 co-occurring pairs x 2 directions
    // a->b: n_a=3, n_b=2, n_ab=2, N=3
    assert(out(("a", "b")) ==
      ((3L, 2L, 2L, 3L, 2.0 / 3.0, 2.0 / 3.0, 2.0 * 3.0 / (3.0 * 2.0))))
    // b->a is certain: confidence 1, same lift
    assert(out(("b", "a"))._6 == 1.0 && out(("b", "a"))._7 == 1.0)
    // c only co-occurs inside basket 1
    assert(out(("c", "a")) == ((1L, 3L, 1L, 3L, 1.0 / 3.0, 1.0, 1.0)))
    assert(out(("c", "b"))._7 == 1.5, "c,b together more than chance")
    // minPairCount prunes
    assert(Assoc.associationRules(df, col("bk"), col("it"),
      minPairCount = 2).count() == 2)
    // hub-basket fail-fast
    val hub = (0 until 50).map(i => (1L, s"i$i")).toDF("bk", "it")
    val e = intercept[Exception] {
      Assoc.associationRules(hub, col("bk"), col("it"),
        maxBasketItems = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxBasketItems")), s"got: $e")
    // candidates stay an equi-join on the basket key
    val plan = Assoc.associationRules(df, col("bk"), col("it"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "association join must not plan a cartesian product")
  }

  test("raw-variants TSV round-trip: '-' sentinels become typed nulls (S6)") {
    import spark.implicits._
    val raw = VariantCalling_fixtureEvents()
    val path = "/tmp/graft_test_raw_tsv"
    sinks.Sinks.writeCsv(raw, path, sep = "\t")
    val back = Tsv.readRawVariants(spark, path)
    val sub = back.filter(col("Code") === "F2L").head()
    assert(sub.getAs[Any]("AA_End(MSA)") == null) // "-" → real null
    assert(sub.getAs[Int]("AA_Start(Ref)") == 2) // int-typed
    val del = back.filter(col("Code") === "V3_F4del").head()
    assert(del.getAs[Int]("AA_End(Ref)") == 4)
    assert(back.count() == raw.count())
  }

  private def VariantCalling_fixtureEvents() = {
    import spark.implicits._
    val aligned = Seq(
      graft.operators.AlignedSeq("Uniq1", 5, "MLVFLVLLPL-VSS"),
      graft.operators.AlignedSeq("Uniq2", 3, "MF--LVLLPL-VSS")).toDS()
    graft.operators.VariantCalling.toRawTsvShape(
      graft.operators.VariantCalling.callAll(aligned, "MFVFLVLLPL-VSS"))
  }

  test("clusters.tsv scan uses the fixed 6-column schema (S5)") {
    val path = "/tmp/graft_test_clusters.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "H\t0\t42\t*\t+\thCoV|EPI_1\nC\t1\t7\t99.1\t-\thCoV|EPI_2\n")
    val df = Tsv.readClusters(spark, path)
    assert(df.schema.fieldNames.toSeq == Tsv.clustersSchema.fieldNames.toSeq)
    val r = df.orderBy("cluster_num").collect()
    assert(r(0).getAs[Int]("cluster_size") == 42)
    assert(r(1).getAs[String]("input_id") == "hCoV|EPI_2")
  }

  test("scalar helpers: drange, charCount, regionQuery, orderOfMagnitude, date labels") {
    import spark.implicits._
    val d = spark.range(1).select(Scalars.drange(0.0, 1.0, 0.25).as("r"))
      .head().getSeq[Double](0)
    assert(d == Seq(0.0, 0.25, 0.5, 0.75, 1.0))

    val cc = Seq(("MXXM")).toDF("s")
      .select(Scalars.charCount(col("s"), "X")).head().getInt(0)
    assert(cc == 2)

    val rq = Seq(("Spike", 501), ("Spike", 10), ("NSP5", 501))
      .toDF("protein", "pos")
      .filter(Scalars.regionQuery(col("protein"), col("pos"), "Spike", Seq(484, 501)))
      .count()
    assert(rq == 1)

    val oom = Seq(9.0, 10.0, 99.0, 1234.0).toDF("v")
      .select(Scalars.orderOfMagnitude(col("v"))).collect().map(_.getLong(0))
    assert(oom.toSeq == Seq(0L, 1L, 1L, 3L)) // Spark floor() yields LONG

    val lbl = Seq(("2021-01-01", true), ("2021-02-03", false))
      .toDF("d", "first").withColumn("d", to_date(col("d")))
      .select(Scalars.graphDateLabel(col("d"), col("first"))).collect().map(_.getString(0))
    assert(lbl.toSeq == Seq("01/01/2021", "02/03"))
  }

  test("C9 dates_for_graph variants: range/start-only, month style, year modes, override") {
    import spark.implicits._
    // three Sunday weeks straddling a year boundary — the reference's
    // year="first" mode must stamp the year on row 0 and on the week whose
    // END date lands in the new year
    val weeks = Seq(("2020-12-20", "2020-12-26"), ("2020-12-27", "2021-01-02"),
        ("2021-01-03", "2021-01-09"))
      .toDF("ws", "we")
      .withColumn("ws", to_date(col("ws"))).withColumn("we", to_date(col("we")))
    def labels(dateRange: Boolean = true, numericMonth: Boolean = true,
        year: Option[String] = None, fmt: Option[String] = None) =
      Scalars.graphDateLabels(weeks, "ws", "we", dateRange, numericMonth, year, fmt)
        .orderBy("ws").select("label").collect().map(_.getString(0)).toSeq
    assert(labels() == Seq("12/20-12/26", "12/27-01/02", "01/03-01/09"))
    assert(labels(dateRange = false) == Seq("12/20", "12/27", "01/03"))
    assert(labels(numericMonth = false) ==
      Seq("Dec 20-Dec 26", "Dec 27-Jan 02", "Jan 03-Jan 09"))
    assert(labels(year = Some("all")) ==
      Seq("12/20/20-12/26/20", "12/27/20-01/02/21", "01/03/21-01/09/21"))
    assert(labels(year = Some("first")) ==
      Seq("2020: 12/20-12/26", "2021: 12/27-01/02", "01/03-01/09"))
    assert(labels(dateRange = false, year = Some("first")) ==
      Seq("2020: 12/20", "2021: 12/27", "01/03"))
    assert(labels(fmt = Some("yyyy.MM.dd"), dateRange = false) ==
      Seq("2020.12.20", "2020.12.27", "2021.01.03"))
  }

  test("retentionCohorts: hand-built triangle, dedup within week, exact shares") {
    import spark.implicits._
    import graft.operators.TimeSeries
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // Sundays: 2024-01-07, -14, -21. u1,u2,u3 start week 1 (u3 twice in
    // week 1 — must dedup); u1,u2 return week 2; u1 returns week 3.
    // u4 starts week 2 and returns week 3.
    val rows = Seq(
      ("u1", "2024-01-07"), ("u2", "2024-01-09"), ("u3", "2024-01-10"),
      ("u3", "2024-01-12"), ("u1", "2024-01-15"), ("u2", "2024-01-20"),
      ("u1", "2024-01-23"), ("u4", "2024-01-16"), ("u4", "2024-01-24"))
      .map { case (u, dt) => (u, d(dt)) }
    val out = TimeSeries.retentionCohorts(rows.toDF("u", "dt"),
        col("u"), col("dt"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("2024-01-07", 0L)) == ((3L, 3L, 1.0)))
    assert(out(("2024-01-07", 1L)) == ((2L, 3L, 2.0 / 3.0)))
    assert(out(("2024-01-07", 2L)) == ((1L, 3L, 1.0 / 3.0)))
    assert(out(("2024-01-14", 0L)) == ((1L, 1L, 1.0)))
    assert(out(("2024-01-14", 1L)) == ((1L, 1L, 1.0)))
    assert(out.size == 5)
    // null users/dates drop; layout invariance is bitwise (exact counts
    // + one division)
    val withNull = (rows.map { case (u, dt) => (Option(u), Option(dt)) } :+
      ((None: Option[String], Option(d("2024-01-08"))))).toDF("u", "dt")
    val a1 = TimeSeries.retentionCohorts(withNull, col("u"), col("dt"))
      .collect().map(_.toSeq).toSet
    val a2 = TimeSeries.retentionCohorts(
        rows.reverse.toDF("u", "dt").repartition(7), col("u"), col("dt"))
      .collect().map(_.toSeq).toSet
    assert(a1 == a2)
  }

  test("ShuffleTimer counts a stage's shuffle bytes as soon as its action returns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    // a slow listener ahead of the timer's on the same bus queue: the
    // action returns before the timer hears of the exchange's stage, so
    // only a drain of the bus gets its bytes into this stage's line
    val slow = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Thread.sleep(1000)
    }
    spark.sparkContext.addSparkListener(slow)
    val out = new java.io.ByteArrayOutputStream()
    try Console.withOut(out) {
      new ShuffleTimer(spark).timedShuffled("md5_repartition") {
        spark.range(200000).select(md5(col("id").cast("string")).as("h"))
          .repartition(4).queryExecution.toRdd.count()
      }
    } finally spark.sparkContext.removeSparkListener(slow)
    val line = out.toString.trim
    assert(line.startsWith("""{"stage":"md5_repartition","rows":200000,"""), line)
    val mb = """"shuffle_mb":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(mb > 0.0, line)
  }

  test("multimodal describe + resizeMeta keep payload opaque (metadata only)") {
    import spark.implicits._
    val items = Multimodal.fromDocuments(spark,
      Seq((1L, "hello world", "en"), (2L, "tiny", "de"))
        .toDF("doc_id", "text", "lang"))
    val desc = Multimodal.describe(items.toDF())
    val r = desc.filter(col("media_id") === 1).head()
    assert(r.getAs[Int]("n_bytes") == 11)
    assert(r.getAs[String]("content_sha").length == 64)
    val resized = Multimodal.resizeMeta(desc, maxDim = 64)
      .select("out_width", "out_height").collect()
    assert(resized.forall(r => r.getInt(0) <= 64 && r.getInt(1) <= 64))
  }
}
