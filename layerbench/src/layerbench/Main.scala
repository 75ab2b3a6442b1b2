package layerbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>
  *        [--selftest]
  *
  * Prints, as its last line, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
  * traced) and, under `outputs`, what the launcher still has to check.
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String)
  final case class Result(attempted: Int, failed: Int, errors: Seq[String],
                          metrics: Seq[Metric], outputs: Map[String, String] = Map.empty)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        dir: String, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("dir"), a.contains("--selftest"))
  }

  /** Seconds since this JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def session(dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Before a timed round: collect the heap and wait (up to 5 s) until the
    * JIT compilers have been idle for half a second, so that a round does
    * not share the cores with compilations left over from the one before. */
  def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5_000_000_000L
    var (last, quiet) = (jit.getTotalCompilationTime, 0)
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    new java.io.File(args.dir).mkdirs()
    val spark = session(args.dir)
    val tracer = new Tracer(args.trace)
    tracer.install(spark)
    val result =
      try args.workload match {
        case "hourly_refresh" => Refresh.hourly(spark, args, tracer)
        case "dashboard" => Refresh.dashboard(spark, args, tracer)
        case "catalog" => Catalog.run(spark, args, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    println(json(result))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(r: Result): String = {
    val ms = r.metrics.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    val outs = r.outputs.map { case (k, v) => s"${str(k)}: ${str(v)}" }
    s"""{"correct": ${r.errors.isEmpty}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}, "errors": [${r.errors.take(20).map(str).mkString(", ")}], """ +
      s""""outputs": {${outs.mkString(", ")}}}"""
  }

  /** The per-layer metrics of a traced run, with their units. */
  def layerMetrics(tr: Tracer, rounds: Int, extra: Map[String, Double]): Seq[Metric] = {
    val m = tr.metrics(rounds) ++ extra
    def unit(k: String): String =
      if (k.endsWith("_ms") || k.endsWith(".ms")) "ms"
      else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("jobs") || k.endsWith("tests") || k.endsWith("fits")) "count"
      else "ratio"
    Tracer.perLayerNames(Catalog.Queries).map(k => Metric(k, m.getOrElse(k, 0.0), unit(k)))
  }
}
