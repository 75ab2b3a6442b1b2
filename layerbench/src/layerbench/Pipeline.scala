package layerbench

import graft.ingest.Ingest
import graft.pipeline.{Integrate, Preprocess}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's hourly DAG over one [[Market]], stage by stage, each
  * stage materialized the way the reference stores it: ingest appends the
  * landed documents, preprocess rewrites the cleaned collection, integrate
  * writes a new per-symbol partitioned panel version. Each stage is one
  * span of its layer.
  */
final class Pipeline(spark: SparkSession, m: Market, dir: String, tr: Tracer) {
  private val docs = s"$dir/docs"
  private val clean = s"$dir/clean"
  private var version = 0

  /** Write the static dimension sources (Yahoo, FRED, Trends). */
  def writeSources(): Unit = {
    m.yahoo(spark).write.mode("overwrite").parquet(s"$dir/yahoo")
    m.fred(spark).write.mode("overwrite").parquet(s"$dir/fred")
    m.trends(spark).write.mode("overwrite").parquet(s"$dir/trends")
  }

  /** Land the raw quote documents of hours [from, until). */
  def land(from: Int, until: Int): Unit = tr.span("ingest") {
    Ingest.landQuotes(m.rawQuotes(spark, from, until))
      .write.mode("append").parquet(docs)
  }

  def preprocess(): Unit = tr.span("preprocess") {
    Preprocess.writeIfNonEmpty(Preprocess.clean(spark.read.parquet(docs)), clean)
  }

  /** Integrate the window ending at hour `last` into a new panel version;
    * returns its directory. */
  def integrate(last: Int): String = tr.span("integrate") {
    version += 1
    val out = f"$dir/panel_$version%05d"
    Integrate.writePartitioned(
      Integrate.integrate(spark.read.parquet(clean), spark.read.parquet(s"$dir/yahoo"),
        spark.read.parquet(s"$dir/fred"), spark.read.parquet(s"$dir/trends"),
        m.hourTs(last - m.window + 1)), out)
    out
  }

  /** Land hours [from, until) and run the DAG through to a new panel. */
  def refresh(from: Int, until: Int): String = {
    land(from, until)
    preprocess()
    integrate(until - 1)
  }

  def panel(path: String): DataFrame = spark.read.parquet(path)

  /** rows out / rows in of the last preprocess (traced runs only). */
  def keptRatio(): Double =
    spark.read.parquet(clean).count().toDouble / spark.read.parquet(docs).count()

  def drop(path: String): Unit = Main.deleteTree(new java.io.File(path))
}
