package graft.pipeline

import graft.analytics.{Correlation, Forecast, Granger}
import graft.ops.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage 3 — the analytics entry point (reference: run_analysis,
  * analysis_part/main.py:129-173): per symbol, a correlation matrix, a
  * Granger sweep over every numeric predictor, and a lag-feature forecast
  * with model artifact. Failures are captured per (symbol, stage) and
  * reported, not thrown — the reference's log-and-continue contract
  * (analysis_part/main.py:70-77,171-173).
  *
  * Distribution shape: correlation and Granger are fully distributed
  * aggregations over the whole panel (one pass each — the reference's
  * per-company Python loop exists only for the GBT fits, whose training data
  * per symbol is small by construction; those fan out over a bounded driver
  * pool so the Spark scheduler interleaves the fits' jobs).
  */
object Analysis {

  final case class Report(correlation: DataFrame, causality: DataFrame,
                          forecasts: DataFrame, errors: Seq[(String, String, String)])

  /** Numeric predictor columns for the Granger sweep (reference drops ids,
    * targets, and yahoo OHLC duplicates, analysis_part/main.py:52,87). */
  def predictorCols(integrated: DataFrame, target: String): Seq[String] =
    Relational.numericCols(integrated)
      .filterNot(Seq(target, "t", "ret_1h", "ret_1h_next").contains)

  def run(integrated: DataFrame, target: String = "c",
          maxLag: Int = 5, nLags: Int = 24, horizon: Int = 168,
          maxIter: Int = 300, outDir: Option[String] = None,
          forecastParallelism: Int = 8): Report = {
    val spark = integrated.sparkSession
    import spark.implicits._
    Relational.requireColumns(integrated, Seq("symbol", "hour", target)) // P11
    val errors = Seq.newBuilder[(String, String, String)]
    // every stage reads the panel: persist once and release at the end —
    // unless the caller already cached it, whose cache must outlive run
    import org.apache.spark.storage.StorageLevel
    val owned = integrated.storageLevel == StorageLevel.NONE
    if (owned) integrated.persist(StorageLevel.MEMORY_AND_DISK)
    try runStages(integrated, target, maxLag, nLags, horizon, maxIter, outDir,
      forecastParallelism, errors)
    finally if (owned) integrated.unpersist(blocking = false)
  }

  private def runStages(integrated: DataFrame, target: String, maxLag: Int,
                        nLags: Int, horizon: Int, maxIter: Int,
                        outDir: Option[String], forecastParallelism: Int,
                        errors: scala.collection.mutable.Builder[(String, String, String), Seq[(String, String, String)]]): Report = {
    val spark = integrated.sparkSession
    import spark.implicits._

    // A8/C6 — per-symbol correlation matrices: ONE grouped Gram pass for
    // all symbols (no per-symbol re-execution of the input plan)
    val numeric = (target +: predictorCols(integrated, target)).distinct
    val symbols = Relational.distinctKey(integrated, "symbol")
      .collect().map(_.getString(0)).sorted.toSeq
    val quant = Correlation.autoQuant(integrated, numeric)
    val correlation = Correlation.matrixByGroup(integrated, "symbol", numeric, quant)

    // C1 — Granger sweep (distributed Gram moments, all symbols at once)
    val causality =
      try Granger.sweep(integrated, "symbol", "hour", target,
        predictorCols(integrated, target), maxLag)
      catch {
        case e: Exception =>
          errors += (("*", "granger", e.getMessage))
          Seq.empty[(String, String, Int, Double, Double, Long)]
            .toDF("symbol", "predictor", "lag", "p_value", "f_stat", "n_obs")
      }

    // C2-C4 — per-symbol GBT forecasts (small per-symbol frames), fanned
    // out over a BOUNDED driver pool: each fit is an independent chain of
    // Spark jobs, so concurrent submission lets the scheduler interleave
    // their stages across executors — at 10⁴ series the sequential driver
    // loop, not the cluster, was the pipeline's one serial stage. Results
    // are merged in `symbols` order and each fit carries its own fixed
    // seed, so the output is IDENTICAL to the sequential path (AnalysisSpec
    // pins it) regardless of completion order.
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(forecastParallelism, math.max(symbols.size, 1))))
    val outcomes = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = symbols.map { sym =>
        Future {
          try {
            val series = integrated.filter(col("symbol") === sym)
              .select(col("hour"), col(target))
            val r = Forecast.forecastSymbol(series, "hour", target, nLags, horizon, maxIter)
            outDir.foreach(dir => Forecast.save(r.model, s"$dir/models/$sym"))
            Right(r.forecast.withColumn("symbol", lit(sym)))
          } catch {
            case e: Exception => Left((sym, "forecast", e.getMessage)) // log-and-continue
          }
        }
      }
      Await.result(Future.sequence(futs), scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    outcomes.foreach { case Left(err) => errors += err; case Right(_) => }
    val forecasts = outcomes.collect { case Right(f) => f }
      .reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[(Int, Double, Double, String)]
        .toDF("step", s"forecast_$target", "rmse", "symbol"))

    outDir.foreach { dir =>
      correlation.write.mode("overwrite").parquet(s"$dir/correlation")
      causality.write.mode("overwrite").parquet(s"$dir/causality")
      forecasts.write.mode("overwrite").parquet(s"$dir/forecasts")
    }
    Report(correlation, causality, forecasts, errors.result())
  }
}
