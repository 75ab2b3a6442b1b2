package layerbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A seeded market in the shape of the reference's sources: per symbol one
  * raw-JSON quote document per hour (with exact duplicates, null prices
  * and malformed bodies injected), daily Yahoo rows, long-form FRED
  * indicators and a six-hourly Google-Trends map.
  *
  * The generator keeps the truth: which (symbol, hour) documents carry a
  * parseable, non-null price, and that price. The checks compare the
  * program's outputs against it.
  */
final class Market(val seed: Long, val symbols: Seq[String], val window: Int, val future: Int) {
  import Market._

  val hours: Int = window + future
  private val rnd = new scala.util.Random(seed)

  /** Price per (symbol, hour), a multiplicative random walk at 4 dp. */
  val price: Array[Array[Double]] = symbols.toArray.map { _ =>
    var p = 20.0 + rnd.nextDouble() * 480.0
    Array.fill(hours) {
      p = p * math.exp(rnd.nextGaussian() * 0.004 + 0.00005)
      BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Per (symbol, hour) document kind: 0 good, 1 null price, 2 malformed;
    * and whether the document is delivered twice. */
  val kind: Array[Array[Int]] = symbols.toArray.map { _ =>
    Array.fill(hours) {
      val u = rnd.nextDouble()
      if (u < 0.03) 1 else if (u < 0.05) 2 else 0
    }
  }
  val duplicated: Array[Array[Boolean]] =
    symbols.toArray.map(_ => Array.fill(hours)(rnd.nextDouble() < 0.02))

  def valid(s: Int, h: Int): Boolean = kind(s)(h) == 0

  private def body(s: Int, h: Int): String = {
    val p = price(s)(h)
    val pc = if (h == 0) p else price(s)(h - 1)
    val c = if (kind(s)(h) == 1) "null" else p.toString
    val json = s"""{"c":$c,"h":${p + 0.5},"l":${p - 0.5},"o":${pc + 0.1},"pc":$pc,""" +
      s""""d":${BigDecimal(p - pc).setScale(4, BigDecimal.RoundingMode.HALF_UP)},"dp":0.1,"t":${epochS(h)}}"""
    if (kind(s)(h) == 2) json.take(json.length / 2) else json
  }

  /** Raw quote documents for hours [from, until): (symbol, body, timestamp). */
  def rawQuotes(spark: SparkSession, from: Int, until: Int): DataFrame = {
    val rows = for {
      h <- from until until; s <- symbols.indices
      r = Row(symbols(s), body(s, h), ts(h, 7))
      d <- if (duplicated(s)(h)) Seq(r, r) else Seq(r)
    } yield d
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), RawSchema)
  }

  /** Yahoo daily rows at hour 0 of each day, flat (as preprocess leaves them). */
  def yahoo(spark: SparkSession): DataFrame = {
    val rows = for (s <- symbols.indices; day <- 0 until (hours + 23) / 24) yield {
      val p = price(s)(day * 24)
      Row(symbols(s), p, p + 2, p - 2, p + 0.5, 1e6 + day * 1000 + s, 0.0, 0.0, ts(day * 24, 1))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), YahooSchema)
  }

  /** FRED long form: GDP every 72 h, CPIAUCSL every 24 h, UNRATE every 12 h. */
  def fred(spark: SparkSession): DataFrame = {
    val r = new scala.util.Random(seed + 1)
    val rows = for {
      (ind, every, base) <- Seq(("GDP", 72, 27000.0), ("CPIAUCSL", 24, 310.0), ("UNRATE", 12, 3.9))
      h <- 0 until hours if h % every == 0
    } yield Row(ind, base * (1 + r.nextGaussian() * 0.001), ts(h, 3))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FredSchema)
  }

  /** Google-Trends wide map every 6 h: one "<SYM> stock" keyword per
    * symbol plus one keyword that maps to no symbol of the universe. */
  def trends(spark: SparkSession): DataFrame = {
    val r = new scala.util.Random(seed + 2)
    val rows = for (h <- 0 until hours if h % 6 == 0) yield {
      val m = symbols.map(s => s"$s stock" -> (20L + r.nextInt(80))).toMap +
        ("market crash" -> r.nextInt(50).toLong)
      Row(m, false, ts(h, 5))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), TrendsSchema)
  }

  /** Panel truth for the window ending at `last` (inclusive): per symbol
    * the (hour, price) sequence with a valid document. */
  def panel(last: Int): Seq[(String, Seq[(Int, Double)])] =
    symbols.indices.map { s =>
      symbols(s) -> (last - window + 1 to last).filter(valid(s, _)).map(h => (h, price(s)(h)))
    }

  def ts(hour: Int, minute: Int): Timestamp = new Timestamp(T0 + hour * 3600000L + minute * 60000L)
  def hourTs(hour: Int): Timestamp = new Timestamp(T0 + hour * 3600000L)
  private def epochS(h: Int): Long = (T0 + h * 3600000L) / 1000 + 420
}

object Market {
  val T0: Long = Timestamp.valueOf("2025-08-01 00:00:00").getTime
  val Reference: Seq[String] = Seq("AAPL", "MSFT", "AMZN", "TSLA")

  /** The reference tickers plus `extra` distinct letter-only tickers that
    * the trend-keyword mapping cannot confuse with them. */
  def universe(seed: Long, extra: Int): Seq[String] = {
    val r = new scala.util.Random(seed ^ 0x5eed)
    val out = mutable.LinkedHashSet[String]()
    while (out.size < extra) {
      val s = Seq.fill(3 + r.nextInt(3))(('A' + r.nextInt(26)).toChar).mkString
      if (!Reference.exists(x => s.contains(x) || x.contains(s))) out += s
    }
    Reference ++ out.toSeq
  }

  val RawSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("body", StringType),
    StructField("timestamp", TimestampType)))
  val YahooSchema: StructType = StructType(Seq("symbol").map(StructField(_, StringType)) ++
    Seq("Open", "High", "Low", "Close", "Volume", "Dividends", "Stock Splits")
      .map(StructField(_, DoubleType)) :+ StructField("timestamp", TimestampType))
  val FredSchema: StructType = StructType(Seq(
    StructField("indicator", StringType), StructField("value", DoubleType),
    StructField("timestamp", TimestampType)))
  val TrendsSchema: StructType = StructType(Seq(
    StructField("scores", MapType(StringType, LongType)),
    StructField("is_partial", BooleanType), StructField("timestamp", TimestampType)))
}
