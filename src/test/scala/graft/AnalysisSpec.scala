package graft

import graft.pipeline.{Analysis, Integrate, Preprocess}
import org.apache.spark.sql.functions._

/** §3.2 entry point over the seed-42 fixtures: correlation + causality +
  * forecast artifacts, with log-and-continue error capture. */
class AnalysisSpec extends SparkSpec {
  private val cutoff = java.sql.Timestamp.valueOf("2025-08-01 12:00:00")

  private lazy val integrated = Integrate.integrate(
    Preprocess.clean(Fixtures.quotes(spark)), Fixtures.yahoo(spark),
    Fixtures.fred(spark), Fixtures.trends(spark), cutoff).cache()

  test("run produces per-symbol correlation, causality, and forecasts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_analysis").toString
    val report = Analysis.run(integrated, maxLag = 2, nLags = 6, horizon = 8,
      maxIter = 5, outDir = Some(dir))

    // correlation: square matrix per symbol, diagonal exactly 1
    val nNumeric = (Seq("c") ++ Analysis.predictorCols(integrated, "c")).distinct.size
    assert(report.correlation.filter(col("symbol") === "AAPL").count() == nNumeric.toLong * nNumeric)
    // diagonal is 1.0, except zero-variance columns (constant d/dp/Dividends/
    // Stock Splits in the fixtures) where pandas df.corr() also yields NaN
    assert(report.correlation.filter(col("col_x") === col("col_y") &&
      !(col("corr") === 1.0 || isnan(col("corr")))).count() == 0)
    assert(report.correlation.filter(col("col_x") === col("col_y") && col("corr") === 1.0)
      .count() > 0)

    // causality: 4 symbols × predictors × 2 lags, p in [0,1] (or NaN for
    // degenerate predictors)
    val nPred = Analysis.predictorCols(integrated, "c").size
    assert(report.causality.count() == 4L * nPred * 2)
    // finite p in [0,1]; degenerate (constant) predictors yield NaN, which
    // Spark orders above all values — exclude explicitly
    assert(report.causality.filter(!isnan(col("p_value")) &&
      (col("p_value") < 0 || col("p_value") > 1)).count() == 0)
    assert(report.causality.filter(!isnan(col("p_value"))).count() > 0)

    // forecasts: horizon rows per symbol, artifacts + parquet sinks written
    assert(report.forecasts.groupBy("symbol").count()
      .filter(col("count") =!= 8).count() == 0)
    assert(new java.io.File(s"$dir/models/AAPL").exists())
    assert(spark.read.parquet(s"$dir/correlation").count() == report.correlation.count())
    assert(report.errors.isEmpty, report.errors.mkString("; "))
  }

  test("parallel forecast fan-out ≡ sequential, and overlaps the fits") {
    def fc(par: Int): (Map[(String, Int), (Double, Double)], Long) = {
      val t0 = System.nanoTime()
      val r = Analysis.run(integrated, maxLag = 2, nLags = 6, horizon = 6,
        maxIter = 10, forecastParallelism = par)
      val rows = r.forecasts.collect().map { row =>
        (row.getString(3), row.getInt(0)) ->
          (row.getDouble(1), row.getDouble(2))
      }.toMap
      assert(r.errors.isEmpty, r.errors.mkString("; "))
      (rows, (System.nanoTime() - t0) / 1000000)
    }
    val (seq, seqMs) = fc(par = 1)
    val (par, parMs) = fc(par = 4)
    // bit-identical per-symbol forecasts and RMSEs: fixed seeds, merge in
    // symbol order — completion order cannot leak into the result
    assert(par == seq)
    assert(par.keySet.map(_._1) == Set("AAPL", "MSFT", "TSLA", "AMZN"))
    // overlap claim (kept loose against sandbox contention): 4 concurrent
    // fits must not cost what 4 serial fits cost
    assert(parMs < seqMs * 1.05,
      s"parallel $parMs ms vs sequential $seqMs ms — fits did not overlap")
  }

  test("an empty panel yields an empty report, not a crash") {
    val empty = integrated.filter(col("symbol") === "NOPE")
    val report = Analysis.run(empty, maxLag = 2, nLags = 4, horizon = 2, maxIter = 2)
    assert(report.correlation.count() == 0)
    assert(report.causality.count() == 0)
    assert(report.forecasts.count() == 0)
  }

  test("run keeps a panel the caller cached, and releases one it cached " +
       "itself") {
    import org.apache.spark.storage.StorageLevel
    val mine = integrated.filter(col("symbol") === "NOPE").cache()
    Analysis.run(mine, maxLag = 2, nLags = 4, horizon = 2, maxIter = 2)
    assert(mine.storageLevel != StorageLevel.NONE,
      "the caller's cache must outlive run")
    mine.unpersist(blocking = true)
    val plain = integrated.filter(col("symbol") === "NONE")
    Analysis.run(plain, maxLag = 2, nLags = 4, horizon = 2, maxIter = 2)
    assert(plain.storageLevel == StorageLevel.NONE,
      "run releases what it persisted")
  }

  test("serve: previous-day macro lookup returns one row with a value") {
    val pm = graft.pipeline.Serve.prevDayMacro(integrated, "UNRATE").collect()
    assert(pm.length == 1 && !pm(0).isNullAt(pm(0).fieldIndex("prev_UNRATE")))
  }

  test("log-and-continue: a degenerate symbol doesn't sink the run") {
    import spark.implicits._
    // one symbol with too few rows for 6 lags → its forecast fails; others survive
    val tiny = integrated.filter(col("symbol") =!= "AAPL")
      .unionByName(integrated.filter(col("symbol") === "AAPL").limit(3))
    val report = Analysis.run(tiny, maxLag = 2, nLags = 6, horizon = 4, maxIter = 3)
    assert(report.errors.exists { case (sym, stage, _) => sym == "AAPL" && stage == "forecast" })
    assert(report.forecasts.select("symbol").distinct().count() == 3)
  }
}
