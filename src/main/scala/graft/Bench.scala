package graft
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Methodology: fixed session config (shuffle partitions = cores, AQE on,
  * UTC), one untimed warmup of the IO/codegen/shuffle paths, then two full
  * *interleaved* passes over the query set with the minimum reported per
  * query. Interleaving (pass 1 over all queries, then pass 2) means a
  * minutes-long burst of external contention pollutes at most one of the two
  * samples of any query, so min-of-2 recovers the true cost; back-to-back
  * repeats would let one burst poison both. Timed region = full plan build +
  * execution (`count()` action), including the parquet scan.
  *
  * Self-diagnosis fields beyond the driver contract:
  *   - `errors`: query -> exception class+message for any failed run. A
  *     failing query is NEVER silently reported as a fast time.
  *   - `spread`: query -> max/min ratio across passes, only for queries
  *     where the two interleaved passes disagreed by more than 3x. Such
  *     queries get a THIRD run in the same process and report min-of-3 —
  *     a contention burst that poisoned one pass (e.g. round 2's phantom
  *     10-16x regressions, round 7's q13 at 20.9x) then has two clean
  *     samples to recover from instead of one. A clean run shows `{}`.
  *   - `shuffle_mb`: query -> shuffle bytes written (MB, 2dp) read from the
  *     executed plan's metric accumulators on pass 2 — the measured
  *     counterpart of PLANS.md's structural claims. `spill_mb` likewise
  *     (a nonzero value means partitions outgrew executor memory).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: a full catalog run emits ~600 WARN lines (benign
    // WindowExec / CacheManager chatter) that bloat the captured stdout
    // the driver parses the contract line out of — log level changes
    // nothing about the timed work
    spark.sparkContext.setLogLevel("ERROR")
    locally {
      import org.apache.spark.sql.functions._
      spark.range(1000).select(sum(col("id").cast("decimal(18,6)"))).count()
      spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val shuffleMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spillMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    def once(name: String, metrics: Boolean = false): Double = {
      val t0 = System.nanoTime()
      // count() internally derives a new Dataset whose plan is the one that
      // actually executes — keep THAT frame so its metric accumulators are
      // readable afterwards
      val df = try {
        val counted = SparkEntry.queries(name)(spark, sfDir).groupBy().count()
        counted.collect()
        Some(counted)
      } catch {
        case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").take(200)).replaceAll("[\"\\\\\n\r\t]", " ")
          None
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (metrics) df.foreach { d =>
        def mb(b: Long) = math.round(b / 1048576.0 * 100) / 100.0
        try {
          val sh = mb(graft.tools.PlanMetrics.shuffleBytes(d))
          val sp = mb(graft.tools.PlanMetrics.spillBytes(d))
          if (sh > 0) shuffleMb(name) = sh
          if (sp > 0) spillMb(name) = sp
        } catch { case _: Throwable => () } // metrics are best-effort extras
      }
      elapsed
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val pass1 = names.map(n => n -> once(n)).toMap
    val pass2 = names.map(n => n -> once(n, metrics = true)).toMap
    // contention triage: any query whose two interleaved samples disagree
    // >3x gets one more run; min-of-3 is what lands in `queries`
    val flagged = names.filter { n =>
      val lo = math.min(pass1(n), pass2(n))
      lo > 0 && math.max(pass1(n), pass2(n)) / lo > 3.0
    }
    val pass3 = flagged.map(n => n -> once(n)).toMap
    def samples(n: String): Seq[Double] =
      Seq(pass1(n), pass2(n)) ++ pass3.get(n)
    val results: ListMap[String, Double] =
      ListMap(names.map(n => n -> samples(n).min): _*)
    val spread: ListMap[String, Double] = ListMap(names.flatMap { n =>
      val (lo, hi) = (samples(n).min, samples(n).max)
      val r = if (lo > 0) hi / lo else 1.0
      if (r > 3.0) Some(n -> math.round(r * 100) / 100.0) else None
    }: _*)
    def numMap(m: ListMap[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val shJson = numMap(ListMap(shuffleMb.toSeq: _*))
    val spJson = numMap(ListMap(spillMb.toSeq: _*))
    // bench_out.json carries EVERYTHING at full precision (per-query
    // seconds, spread, shuffle/spill MB) — the truncation-proof artifact
    // (round 3 lost the per-query seconds to a tail capture; round 15's
    // ~25 KB stdout line failed the driver's parser outright and blanked
    // the whole round-over-round comparison)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","errors":$errJson,"spread":${numMap(spread)},"shuffle_mb":$shJson,"spill_mb":$spJson,"queries":${numMap(results)},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { // stdout carries the contract line; the failure goes to stderr
      case e: Throwable =>
        System.err.println(s"bench_out.json not written: $e")
    }
    // the stdout CONTRACT line stays one line with the full `queries` map,
    // but slimmed to survive any plausible capture buffer: seconds at 4 dp
    // (0.1 ms — far below run noise; full precision lives in
    // bench_out.json) and no shuffle/spill side-maps (~11 KB vs r15's
    // 25 KB, the line the driver failed to parse)
    def r4(v: Double): Double = math.round(v * 10000) / 10000.0
    val slim = ListMap(results.toSeq.map { case (k, v) => k -> r4(v) }: _*)
    println(s"""{"metric":"total","value":$total,"unit":"sec","errors":$errJson,"spread":${numMap(spread)},"queries":${numMap(slim)},"sf":"$sfDir","detail":"bench_out.json"}""")
    // …and a compact summary as the LAST stdout line: tail capture keeps
    // the end, so even a 2000-char tail carries the totals plus the ten
    // slowest queries (the full map stays above and in bench_out.json)
    val top10 = ListMap(results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => k -> math.round(v * 100) / 100.0 }: _*)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"slowest":${numMap(top10)},"sf":"$sfDir","detail":"bench_out.json"}""")
    spark.stop()
  }
}
