package layerbench

import graft.analytics.Granger
import graft.pipeline.{Analysis, Serve}
import layerbench.Checks._
import layerbench.Main.{Args, Metric, Result}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two workloads over the hourly DAG.
  *
  * `hourly_refresh` is the reference's own shape: a few symbols, a month of
  * hourly documents; each timed tick lands the next hour, runs ingest →
  * preprocess → integrate to a new panel version, swaps the served panel,
  * then runs `Analysis.run` on it with artifact sinks. `dashboard` serves a
  * universe 50× larger through `Serve.cachedFor` to one closed-loop client;
  * every `RefreshEvery`-th operation lands a new hour and swaps the panel.
  */
object Refresh {
  val Window = 720
  val HourlyExtra = 2          // generated tickers beside the reference's four
  val DashboardExtra = 296     // 300 symbols: 50× the hourly universe
  val RefreshEvery = 8         // dashboard: one refresh per 8 operations
  val Horizon = 24

  private def hourOf(ts: java.sql.Timestamp): Int = ((ts.getTime - Market.T0) / 3600000L).toInt

  def panelRows(df: DataFrame): Seq[PanelRow] =
    df.select("symbol", "hour", "c", "ret_1h", "trend_score").collect().toSeq.map { r =>
      PanelRow(r.getString(0), hourOf(r.getTimestamp(1)), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), Option(r.get(4)).map(_.asInstanceOf[Double]))
    }

  private def p50(xs: Seq[Double]): Double = Tracer.median(xs)

  // ───────────────────────────── hourly_refresh ──

  def hourly(spark: SparkSession, args: Args, tr: Tracer): Result = {
    val m = new Market(args.seed, Market.universe(args.seed, HourlyExtra), Window, 48)
    val dir = s"${args.dir}/hourly"
    val out = s"$dir/analysis"
    val p = new Pipeline(spark, m, dir, tr)
    var served: DataFrame = null
    val fills = Seq.newBuilder[Double]
    /** Land hour `h` through to a served panel; its directory. */
    def refresh(h: Int): String = {
      val path = p.refresh(h, h + 1)
      val t = System.nanoTime()
      served = tr.span("serve") { serve(spark, p, path) }
      fills += (System.nanoTime() - t) / 1e6
      path
    }
    def analyse(): Analysis.Report = tr.span("analysis") {
      Analysis.run(served.select(AnalysisCols.map(col): _*), maxLag = 3, nLags = 12,
        horizon = Horizon, maxIter = 1, outDir = Some(out))
    }
    p.writeSources()
    var last = Window - 1
    var panel = ""
    val errors = Seq.newBuilder[String]
    /** Land the next hour through to the served panel, then analyse it:
      * (panel seconds, analysis seconds, whole tick by the region's clock). */
    def tick(): (Double, Double, Double) = {
      last += 1
      val h = last
      val ((next, pS, aS, report), secs) = tr.region {
        val t0 = System.nanoTime()
        val next = refresh(h)
        val t1 = System.nanoTime()
        val report = analyse()
        (next, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, report)
      }
      if (panel.nonEmpty) p.drop(panel)
      panel = next
      report.errors.foreach { case (s, stage, e) => errors += s"analysis $s/$stage: $e" }
      errors ++= newestServed(served, last, m)
      System.err.println(f"[hourly] tick $h: panel $pS%.2f s, analysis $aS%.2f s")
      (pS, aS, secs)
    }
    // set-up lands the first month and runs one untimed tick, so that the
    // timed ticks measure the steady hourly refresh of a running service
    // rather than class loading, JIT and code generation
    p.land(0, Window)
    tick()
    val setup = Main.sinceStart()
    if (args.selftest) return selftestHourly(spark, m, last, panel, out)
    tr.startMeasuring()

    val panelS, analysisS = Seq.newBuilder[Double]
    var (ticks, elapsed) = (0, 0.0)
    val gc0 = Main.gcMs()
    while ((elapsed < args.seconds || ticks == 0) && last + 1 < m.hours) {
      Main.settle()
      val (pS, aS, secs) = tick()
      panelS += pS; analysisS += aS
      elapsed += secs; ticks += 1
    }
    val gc = Main.gcMs() - gc0
    // checks on the last tick's outputs (outside every timed region)
    errors ++= checkOut(m, last, hourlyOut(spark, panel, out))

    val metrics =
      if (!args.trace) Seq(
        Metric("setup_s", setup, "s"),
        Metric("update_s", p50(panelS.result()), "s"),
        Metric("query_s", p50(analysisS.result()), "s"))
      else {
        tr.drain()
        Main.layerMetrics(tr, ticks, Map(
          "preprocess.kept_ratio" -> p.keptRatio(),
          "serve.cache_mb" -> cacheMb(spark),
          "serve.cache_fill_ms" -> p50(fills.result()),
          "granger.tests" -> spark.read.parquet(s"$out/causality").count().toDouble,
          "forecast.fits" -> m.symbols.size.toDouble,
          "jvm.gc_ms" -> gc / ticks))
      }
    Result(ticks, 0, errors.result(), metrics)
  }

  /** The panel columns the hourly analysis reads: the target and one
    * predictor from each source (quote, Yahoo, Trends, FRED). */
  val AnalysisCols: Seq[String] = Seq("symbol", "hour", "c", "o", "Volume", "trend_score", "UNRATE")

  private val Key = "layerbench-panel"

  /** Swap the served panel: drop the old cache entry, cache the new
    * version and fill it. The panel is current once it serves from memory. */
  def serve(spark: SparkSession, p: Pipeline, path: String): DataFrame = {
    Serve.uncache(spark, Key)
    val s = Serve.cachedFor(spark, Key, p.panel(path))
    s.count()
    s
  }

  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** The served panel's newest hour is the hour just landed. */
  def newestServed(served: DataFrame, last: Int, m: Market): Seq[String] = {
    val r = served.agg(max(col("hour")), count(lit(1))).head()
    Checks.newest(last, hourOf(r.getTimestamp(0)), r.getLong(1), m)
  }

  case class HourlyOut(rows: Seq[PanelRow], corr: Seq[Corr], causal: Seq[Causal], fc: Seq[Fc])

  def hourlyOut(spark: SparkSession, panel: String, out: String): HourlyOut = {
    val rows = panelRows(spark.read.parquet(panel))
    val corr = spark.read.parquet(s"$out/correlation").collect().toSeq.map(r =>
      Corr(r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    val causal = spark.read.parquet(s"$out/causality").select("symbol", "predictor", "lag", "p_value")
      .collect().toSeq.map(r => Causal(r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    val fc = spark.read.parquet(s"$out/forecasts").select("symbol", "step", "forecast_c")
      .collect().toSeq.map(r => Fc(r.getString(0), r.getInt(1), r.getDouble(2)))
    HourlyOut(rows, corr, causal, fc)
  }

  def checkOut(m: Market, last: Int, o: HourlyOut): Seq[String] =
    Checks.panel(m, last, o.rows) ++ Checks.correlation(o.rows, o.corr) ++
      Checks.granger(o.rows, o.causal) ++ Checks.forecasts(o.rows, o.fc, Horizon)

  /** Each check must reject its output with one value changed. */
  private def selftestHourly(spark: SparkSession, m: Market, last: Int, panel: String,
                             out: String): Result = {
    val o = hourlyOut(spark, panel, out)
    val base = checkOut(m, last, o)
    val i = o.rows.indexWhere(_.symbol == o.rows.map(_.symbol).min)
    val sym = o.rows(i).symbol
    val ci = o.corr.indexWhere(c => c.symbol == sym && c.x == "c" && c.y == "trend_score")
    val gi = o.causal.indexWhere(c => c.symbol == sym && c.predictor == "trend_score" && c.lag == 2)
    val cases = Seq(
      "panel price" -> o.copy(rows = o.rows.updated(i, o.rows(i).copy(c = o.rows(i).c + 0.01))),
      "correlation" -> o.copy(corr = o.corr.updated(ci, o.corr(ci).copy(r = o.corr(ci).r + 1e-3))),
      "granger p" -> o.copy(causal = o.causal.updated(gi, o.causal(gi).copy(p = o.causal(gi).p + 1e-4))),
      "forecast" -> o.copy(fc = o.fc.updated(0, o.fc(0).copy(value = Double.NaN))))
    selftestResult(base, cases.map { case (n, c) => n -> checkOut(m, last, c) })
  }

  def selftestResult(base: Seq[String], mutated: Seq[(String, Seq[String])]): Result = {
    val missed = mutated.collect { case (n, errs) if errs.isEmpty => s"self-test: changed $n passed the check" }
    val lines = mutated.map { case (n, errs) => s"$n -> ${errs.headOption.getOrElse("ACCEPTED")}" }
    lines.foreach(l => System.err.println(s"[selftest] $l"))
    Result(1 + mutated.size, 0, base.map("unchanged output rejected: " + _) ++ missed,
      Seq(Metric("selftest_cases", mutated.size.toDouble, "count")))
  }

  // ───────────────────────────── dashboard ──

  def dashboard(spark: SparkSession, args: Args, tr: Tracer): Result = {
    val m = new Market(args.seed, Market.universe(args.seed, DashboardExtra), Window, 200)
    val dir = s"${args.dir}/dashboard"
    val p = new Pipeline(spark, m, dir, tr)
    val artifact = s"$dir/artifacts/causality"
    val rnd = new scala.util.Random(args.seed)
    p.writeSources()
    var last = Window - 1
    var panelDir = p.refresh(0, Window)
    var served = serve(spark, p, panelDir)
    // the analysis artifact the causality page reads: a Granger sweep over
    // the reference's tickers, written once at set-up
    Granger.sweep(served.filter(col("symbol").isin(Market.Reference: _*)), "symbol", "hour", "c",
        Seq("trend_score", "UNRATE", "CPIAUCSL", "GDP", "Volume", "o", "dp"), maxLag = 3)
      .write.mode("overwrite").parquet(artifact)
    val observed = fredObservations(spark, dir)
    val artifactRows = spark.read.parquet(artifact).select("predictor", "p_value").collect()
      .toSeq.map(r => (r.getString(0), r.getDouble(1)))

    val errors = Seq.newBuilder[String]
    /** Render one page inside the caller's timed region; the returned
      * check runs after the region closes. */
    def page(kind: String): () => Seq[String] = kind match {
      case "overview" =>
        val lc = tr.span("serve") { Serve.lastChange(served).collect() }
        val lv = tr.span("serve") { Serve.latestVolumes(served).collect() }
        () => Checks.lastChange(m, last, lc.toSeq.map(r => (r.getAs[String]("symbol"),
          r.getAs[Double]("last_price"), Option(r.getAs[Any]("pct_change")).map(_.asInstanceOf[Double])))) ++
          Checks.latestVolumes(m, last, lv.toSeq.map(r => (r.getAs[String]("symbol"), r.getAs[Double]("Volume"))))
      case "stock" =>
        val sym = m.symbols(rnd.nextInt(m.symbols.size))
        val h = tr.span("serve") { Serve.returnsHistogram(served, sym).collect() }
        val v = tr.span("serve") { Serve.volatilityStability(served).collect() }
        () => Checks.histogram(m, last, sym, h.toSeq.map(r => (r.getAs[Long]("n"), r.getAs[Double]("density")))) ++
          Checks.volatility(m, last, v.toSeq.map(r =>
            (r.getAs[String]("symbol"), r.getAs[Double]("volatility"), r.getAs[String]("stability"))))
      case "macro" =>
        val got = graft.schemas.Schemas.Indicators.map(ind =>
          ind -> tr.span("serve") { Serve.prevDayMacro(served, ind).collect() })
        () => got.flatMap { case (ind, rows) =>
          Checks.prevDayMacro(observed(ind), ind, rows.toSeq.map(_.getAs[Double](s"prev_$ind")))
        }
      case "causality" =>
        val got = tr.span("serve") { Serve.causalitySummary(spark.read.parquet(artifact)).collect() }
        () => Checks.causalitySummary(artifactRows, got.toSeq.map(r =>
          (r.getAs[String]("predictor"), r.getAs[Double]("p_value"), r.getAs[Double]("significance"))))
    }
    val mix = Seq("overview" -> 0.3, "stock" -> 0.3, "macro" -> 0.2, "causality" -> 0.2)
    def pick(): String = {
      val u = rnd.nextDouble()
      mix.scanLeft(("", 0.0)) { case ((_, acc), (k, w)) => (k, acc + w) }.tail
        .find(_._2 > u).map(_._1).getOrElse(mix.last._1)
    }
    /** Land the next hour and swap the served panel: (seconds, fill ms). */
    def refresh(): (Double, Double) = {
      last += 1
      val old = panelDir
      val (fillMs, secs) = tr.region {
        panelDir = p.refresh(last, last + 1)
        tr.span("serve") {
          val t = System.nanoTime()
          served = serve(spark, p, panelDir)
          (System.nanoTime() - t) / 1e6
        }
      }
      p.drop(old)
      errors ++= newestServed(served, last, m)
      (secs, fillMs)
    }

    // warm-up: every page kind once and one refresh
    mix.foreach { case (k, _) => errors ++= page(k)() }
    refresh()
    val setup = Main.sinceStart()
    if (args.selftest) return selftestDashboard(m, last, served, observed, artifactRows)
    tr.startMeasuring()

    val pageS, refreshS, fills = Seq.newBuilder[Double]
    var (pages, refreshes, elapsed) = (0, 0, 0.0)
    val gc0 = Main.gcMs()
    while ((elapsed < args.seconds || refreshes == 0) && last + 1 < m.hours) {
      for (i <- 0 until RefreshEvery) {
        if (i == RefreshEvery - 1) {
          val (s, f) = refresh()
          refreshS += s; fills += f; elapsed += s; refreshes += 1
        } else {
          val (check, s) = tr.region(page(pick()))
          pageS += s; elapsed += s; pages += 1
          errors ++= check()
        }
      }
    }
    val gc = Main.gcMs() - gc0
    val metrics =
      if (!args.trace) Seq(
        Metric("setup_s", setup, "s"),
        Metric("update_s", p50(refreshS.result()), "s"),
        Metric("query_s", p50(pageS.result()), "s"))
      else {
        tr.drain()
        Main.layerMetrics(tr, refreshes, Map(
          "preprocess.kept_ratio" -> p.keptRatio(),
          "serve.cache_fill_ms" -> p50(fills.result()),
          "serve.cache_mb" -> cacheMb(spark),
          "jvm.gc_ms" -> gc / refreshes))
      }
    Result(pages + refreshes, 0, errors.result(), metrics)
  }

  /** Each page check must reject its output with one value changed. */
  private def selftestDashboard(m: Market, last: Int, served: DataFrame,
                                observed: Map[String, Set[Double]], artifactRows: Seq[(String, Double)]): Result = {
    val lc = Serve.lastChange(served).collect().toSeq.map(r => (r.getAs[String]("symbol"),
      r.getAs[Double]("last_price"), Option(r.getAs[Any]("pct_change")).map(_.asInstanceOf[Double])))
    val lv = Serve.latestVolumes(served).collect().toSeq.map(r => (r.getAs[String]("symbol"), r.getAs[Double]("Volume")))
    val sym = m.symbols.head
    val h = Serve.returnsHistogram(served, sym).collect().toSeq.map(r => (r.getAs[Long]("n"), r.getAs[Double]("density")))
    val v = Serve.volatilityStability(served).collect().toSeq.map(r =>
      (r.getAs[String]("symbol"), r.getAs[Double]("volatility"), r.getAs[String]("stability")))
    val mac = Serve.prevDayMacro(served, "GDP").collect().toSeq.map(_.getAs[Double]("prev_GDP"))
    val cs = Serve.causalitySummary(served.sparkSession.createDataFrame(artifactRows.map { case (a, b) => (a, b) })
      .toDF("predictor", "p_value")).collect().toSeq.map(r =>
      (r.getAs[String]("predictor"), r.getAs[Double]("p_value"), r.getAs[Double]("significance")))
    val r = served.agg(max(col("hour")), count(lit(1))).head()
    val (nh, nr) = (hourOf(r.getTimestamp(0)), r.getLong(1))
    def bump[A](xs: Seq[A])(f: A => A): Seq[A] = xs.updated(0, f(xs.head))
    val base = Checks.lastChange(m, last, lc) ++ Checks.latestVolumes(m, last, lv) ++
      Checks.histogram(m, last, sym, h) ++ Checks.volatility(m, last, v) ++
      Checks.prevDayMacro(observed("GDP"), "GDP", mac) ++ Checks.causalitySummary(artifactRows, cs) ++
      Checks.newest(last, nh, nr, m)
    selftestResult(base, Seq(
      "last price" -> Checks.lastChange(m, last, bump(lc)(t => t.copy(_2 = t._2 + 0.01))),
      "volume" -> Checks.latestVolumes(m, last, bump(lv)(t => t.copy(_2 = t._2 + 1))),
      "histogram density" -> Checks.histogram(m, last, sym, bump(h)(t => t.copy(_2 = t._2 * 1.01))),
      "volatility" -> Checks.volatility(m, last, bump(v)(t => t.copy(_2 = t._2 * (1 + 1e-9)))),
      "macro" -> Checks.prevDayMacro(observed("GDP"), "GDP", mac.map(_ + 1e-6)),
      "causality p" -> Checks.causalitySummary(artifactRows, bump(cs)(t => t.copy(_2 = t._2 + 1e-6))),
      "newest hour" -> Checks.newest(last, nh - 1, nr, m)))
  }

  /** Every generated observation value per FRED indicator. */
  private def fredObservations(spark: SparkSession, dir: String): Map[String, Set[Double]] =
    spark.read.parquet(s"$dir/fred").collect().toSeq
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)).toSet }
}
