package layerbench

import org.apache.commons.math3.distribution.FDistribution
import org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression

/** Output checks against computations made apart from the program: the
  * generator's truth ([[Market]]) and plain-Scala / commons-math3
  * statistics. Every check returns the list of its failures (empty when
  * the output is correct); the self-test feeds each one a changed output
  * and requires a failure.
  */
object Checks {
  final case class PanelRow(symbol: String, hour: Int, c: Double, ret: Option[Double],
                            trend: Option[Double])
  final case class Corr(symbol: String, x: String, y: String, r: Double)
  final case class Causal(symbol: String, predictor: String, lag: Int, p: Double)
  final case class Fc(symbol: String, step: Int, value: Double)

  def close(a: Double, b: Double, rel: Double): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** Plain returns of a price sequence, as the panel defines them. */
  def returns(prices: Seq[Double]): Seq[Double] =
    prices.sliding(2).collect { case Seq(a, b) if a != 0 => (b - a) / a }.toSeq

  def stddevSamp(xs: Seq[Double]): Double = {
    val mean = xs.sum / xs.size
    math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (xs.size - 1))
  }

  def pearson(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val syy = ys.map(y => (y - my) * (y - my)).sum
    sxy / math.sqrt(sxx * syy)
  }

  /** The panel holds exactly the valid (symbol, hour) documents of the
    * window ending at `last`, with their prices and plain returns. */
  def panel(m: Market, last: Int, rows: Seq[PanelRow]): Seq[String] = {
    val truth = m.panel(last)
    val bySym = rows.groupBy(_.symbol)
    val errs = Seq.newBuilder[String]
    if (rows.size != truth.map(_._2.size).sum)
      errs += s"panel rows ${rows.size} != ${truth.map(_._2.size).sum}"
    if (rows.nonEmpty && rows.map(_.hour).max != last)
      errs += s"panel newest hour ${rows.map(_.hour).max} != landed hour $last"
    truth.foreach { case (sym, seq) =>
      val got = bySym.getOrElse(sym, Nil).sortBy(_.hour)
      if (got.map(r => (r.hour, r.c)) != seq) errs += s"panel $sym: hours/prices differ from the generated truth"
      else {
        val rets = returns(seq.map(_._2))
        val gotRets = got.drop(1).map(_.ret.getOrElse(Double.NaN))
        if (!rets.zip(gotRets).forall { case (a, b) => close(a, b, 1e-12) })
          errs += s"panel $sym: ret_1h differs from the plain return"
      }
    }
    errs.result()
  }

  /** Correlation matrices: symmetric, |r| ≤ 1, and corr(c, trend_score) of
    * the first symbol equals a plain Pearson over the panel. */
  def correlation(rows: Seq[PanelRow], corr: Seq[Corr]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val idx = corr.map(c => (c.symbol, c.x, c.y) -> c.r).toMap
    corr.foreach { c =>
      val t = idx.get((c.symbol, c.y, c.x))
      if (!t.exists(v => v == c.r || (v.isNaN && c.r.isNaN)))
        errs += s"corr ${c.symbol} ${c.x}/${c.y} not symmetric"
      if (!c.r.isNaN && math.abs(c.r) > 1 + 1e-12) errs += s"corr ${c.symbol} ${c.x}/${c.y} = ${c.r} out of [-1, 1]"
    }
    val sym = rows.map(_.symbol).min
    val pts = rows.filter(r => r.symbol == sym && r.trend.isDefined)
    val want = pearson(pts.map(_.c), pts.map(_.trend.get))
    idx.get((sym, "c", "trend_score")) match {
      case Some(r) if math.abs(r - want) <= 1e-4 =>
      case other => errs += s"corr $sym c/trend_score = $other, plain Pearson $want"
    }
    errs.result()
  }

  /** p-value of trend_score → c at lag 2 for the first symbol, from
    * commons-math3 OLS and its F distribution, rounded as the program
    * rounds (5 dp). */
  def grangerTruth(rows: Seq[PanelRow], lag: Int): (String, Double) = {
    val sym = rows.map(_.symbol).min
    val seq = rows.filter(r => r.symbol == sym && r.trend.isDefined).sortBy(_.hour)
    val y = seq.map(_.c).toArray
    val x = seq.map(_.trend.get).toArray
    val idx = lag until y.length
    def design(withX: Boolean) = idx.map { t =>
      ((1 to lag).map(i => y(t - i)) ++ (if (withX) (1 to lag).map(i => x(t - i)) else Nil)).toArray
    }.toArray
    def rss(withX: Boolean) = {
      val ols = new OLSMultipleLinearRegression()
      ols.newSampleData(idx.map(y(_)).toArray, design(withX))
      ols.calculateResidualSumOfSquares()
    }
    val n = idx.size
    val d2 = n - 2 * lag - 1
    val f = ((rss(false) - rss(true)) / lag) / (rss(true) / d2)
    val p = 1 - new FDistribution(lag.toDouble, d2.toDouble).cumulativeProbability(f)
    sym -> BigDecimal(p).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def granger(rows: Seq[PanelRow], causal: Seq[Causal]): Seq[String] = {
    val (sym, want) = grangerTruth(rows, 2)
    causal.find(c => c.symbol == sym && c.predictor == "trend_score" && c.lag == 2) match {
      case Some(c) if math.abs(c.p - want) <= 1.5e-5 => Nil
      case other => Seq(s"granger $sym trend_score lag 2: $other, commons-math3 p = $want")
    }
  }

  /** Forecasts: `horizon` finite rows per symbol, inside the training
    * range widened by that range on both sides. */
  def forecasts(rows: Seq[PanelRow], fc: Seq[Fc], horizon: Int): Seq[String] = {
    val bySym = fc.groupBy(_.symbol)
    rows.groupBy(_.symbol).toSeq.sortBy(_._1).flatMap { case (sym, rs) =>
      val (lo, hi) = (rs.map(_.c).min, rs.map(_.c).max)
      val got = bySym.getOrElse(sym, Nil)
      if (got.size != horizon || got.map(_.step).sorted != (1 to horizon))
        Seq(s"forecast $sym: ${got.size} rows, want steps 1..$horizon")
      else got.filterNot(f => !f.value.isNaN && !f.value.isInfinite &&
          f.value >= lo - (hi - lo) && f.value <= hi + (hi - lo))
        .take(1).map(f => s"forecast $sym step ${f.step} = ${f.value} outside [$lo, $hi] ± range")
    }
  }

  // ── dashboard pages ──

  /** Served-panel truth per symbol: (hour, price) of the valid documents. */
  private def truthBySym(m: Market, last: Int) = m.panel(last).toMap

  def newest(last: Int, newestHour: Int, rows: Long, m: Market): Seq[String] = {
    val want = m.panel(last).map(_._2.size).sum
    (if (newestHour != last) Seq(s"served panel newest hour $newestHour != landed hour $last") else Nil) ++
      (if (rows != want) Seq(s"served panel rows $rows != $want") else Nil)
  }

  /** Overview: last price and % change per symbol. */
  def lastChange(m: Market, last: Int, got: Seq[(String, Double, Option[Double])]): Seq[String] = {
    val truth = truthBySym(m, last)
    val errs = Seq.newBuilder[String]
    if (got.map(_._1).sorted != truth.keys.toSeq.sorted) errs += "overview: symbol set differs"
    got.foreach { case (sym, lastP, pct) =>
      val seq = truth.getOrElse(sym, Nil).map(_._2)
      val want = if (seq.size < 2) None else Some((seq.last - seq.init.last) / seq.init.last * 100)
      if (seq.lastOption.forall(_ != lastP)) errs += s"overview $sym last price $lastP != ${seq.lastOption}"
      if (pct.isDefined != want.isDefined || pct.zip(want).exists { case (a, b) => !close(a, b, 1e-9) })
        errs += s"overview $sym pct_change $pct != $want"
    }
    errs.result()
  }

  /** Overview: latest Yahoo volume per symbol, descending. A panel hour
    * carries its day's volume when that day's hour-0 quote is valid. */
  def latestVolumes(m: Market, last: Int, got: Seq[(String, Double)]): Seq[String] = {
    val truth = truthBySym(m, last)
    val want = m.symbols.zipWithIndex.flatMap { case (sym, s) =>
      truth(sym).map(_._1).reverse.find(h => m.valid(s, h / 24 * 24))
        .map(h => sym -> (1e6 + (h / 24) * 1000 + s))
    }.toMap
    val errs = Seq.newBuilder[String]
    if (got.map(_._1).toSet != want.keySet) errs += "volumes: symbol set differs"
    got.foreach { case (sym, v) => if (!want.get(sym).contains(v)) errs += s"volumes $sym $v != ${want.get(sym)}" }
    if (got.map(_._2) != got.map(_._2).sorted.reverse) errs += "volumes not in descending order"
    errs.result()
  }

  /** Stock page: the histogram's densities × bin width sum to 1 over the
    * symbol's plain returns, and its counts cover every return. */
  def histogram(m: Market, last: Int, sym: String, got: Seq[(Long, Double)]): Seq[String] = {
    val rets = returns(truthBySym(m, last)(sym).map(_._2))
    val width = (rets.max - rets.min) / 60
    val mass = got.map(_._2).sum * width
    (if (got.map(_._1).sum != rets.size) Seq(s"histogram $sym counts ${got.map(_._1).sum} != ${rets.size}") else Nil) ++
      (if (math.abs(mass - 1) > 1e-9) Seq(s"histogram $sym density mass $mass != 1") else Nil)
  }

  /** Stock page: volatility = stddev_samp of the plain returns. */
  def volatility(m: Market, last: Int, got: Seq[(String, Double, String)]): Seq[String] = {
    val truth = truthBySym(m, last)
    val errs = Seq.newBuilder[String]
    if (got.size != truth.size) errs += s"volatility rows ${got.size} != ${truth.size}"
    got.foreach { case (sym, v, label) =>
      val want = stddevSamp(returns(truth(sym).map(_._2)))
      if (!close(v, want, 1e-12)) errs += s"volatility $sym $v != plain stddev_samp $want"
      if (label != (if (v < 0.02) "Stable" else "Volatile")) errs += s"stability $sym label $label"
    }
    errs.result()
  }

  /** Macro page: one previous-day value, one of the generated observations. */
  def prevDayMacro(observed: Set[Double], ind: String, got: Seq[Double]): Seq[String] =
    if (got.size == 1 && observed.contains(got.head)) Nil
    else Seq(s"macro $ind: $got is not one generated observation")

  /** Causality page: per predictor the minimum p-value, significance
    * −log10(p) (p = 0 read as 1e-10), top 10 by significance then name —
    * recomputed from the artifact's rows. NaN orders above every number,
    * as in Spark. */
  def causalitySummary(artifact: Seq[(String, Double)], got: Seq[(String, Double, Double)]): Seq[String] = {
    def nanMin(xs: Seq[Double]) = { val f = xs.filterNot(_.isNaN); if (f.isEmpty) Double.NaN else f.min }
    val sig = artifact.groupBy(_._1).toSeq.map { case (pred, ps) =>
      val p = nanMin(ps.map(_._2))
      (pred, p, -math.log10(if (p == 0) 1e-10 else p))
    }
    val ord = Ordering.by[(String, Double, Double), (Double, String)](t =>
      (if (t._3.isNaN) Double.NegativeInfinity else -t._3, t._1))
    val want = sig.sorted(ord).take(10)
    def same(a: Double, b: Double) = (a.isNaN && b.isNaN) || close(a, b, 1e-12)
    if (got.size == want.size && got.zip(want).forall { case (g, w) =>
      g._1 == w._1 && same(g._2, w._2) && same(g._3, w._3) }) Nil
    else Seq(s"causality summary $got != $want")
  }
}
