package layerbench

import graft.SparkEntry
import layerbench.Main.{Args, Metric, Result}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `catalog` workload: two slow families of `SparkEntry.queries` over
  * seeded tables shaped like the sf0.1 test tables (see [[generate]]).
  *
  *  - fixpoint: an iterative graph operator (connected components of the
  *    co-purchase graph, star contraction to a fixpoint);
  *  - lifecycle: a stored-index maintenance campaign (delete by term: the
  *    lexical index's tombstones, search and compaction).
  *
  * Set-up writes the tables and runs [[WarmPasses]] warm-up passes, each
  * query once a pass: the first call builds the shared index fixture of the
  * lifecycle query; both warm the JIT and code generation. The timed part
  * then runs whole passes
  * for `--seconds` (at least one) and reports per family the sum
  * of the queries' median times. Every pass's outputs are written; the
  * launcher compares them with the DuckDB oracles of `SparkEntry.oracleSql`.
  */
object Catalog {
  val Fixpoint: Seq[String] = Seq("q309_connected_components")
  val Lifecycle: Seq[String] = Seq("q345_delete_by_term")
  val Queries: Seq[String] = Fixpoint ++ Lifecycle
  /** Untimed passes in set-up. The first builds the index fixture and is
    * 2-3 times slower than the next; the second still runs 10-20 % slower
    * than later ones while the JIT catches up. */
  val WarmPasses = 2

  def run(spark: SparkSession, args: Args, tr: Tracer): Result = {
    val data = s"${args.dir}/data"
    generate(spark, args.seed, data)
    val out = s"${args.dir}/outputs"
    val outputs = Map("data" -> data, "outputs" -> out)
    def once(q: String, pass: Int): Double = {
      val layer = if (Fixpoint.contains(q)) "fixpoint" else "lifecycle"
      val secs = tr.region {
        tr.span(layer, q) {
          SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/$q/p$pass")
        }
      }._2
      System.err.println(f"[catalog] pass $pass $q: $secs%.2f s")
      secs
    }
    for (pass <- 0 until WarmPasses) Queries.foreach(once(_, pass))
    val setup = Main.sinceStart()
    if (args.selftest)
      return Result(1, 0, Nil, Seq(Metric("setup_s", setup, "s")), outputs)
    tr.startMeasuring()

    val times = Queries.map(_ -> Seq.newBuilder[Double]).toMap
    var (passes, elapsed) = (0, 0.0)
    val gc0 = Main.gcMs()
    while (elapsed < args.seconds || passes == 0) {
      passes += 1
      Main.settle()
      Queries.foreach { q =>
        val secs = once(q, WarmPasses + passes - 1)
        times(q) += secs
        elapsed += secs
      }
    }
    val gc = Main.gcMs() - gc0
    def family(qs: Seq[String]): Double = qs.map(q => Tracer.median(times(q).result())).sum
    val metrics =
      if (!args.trace) Seq(
        Metric("setup_s", setup, "s"),
        Metric("update_s", family(Lifecycle), "s"),
        Metric("query_s", family(Fixpoint), "s"))
      else {
        tr.drain()
        Main.layerMetrics(tr, passes, Map("jvm.gc_ms" -> gc / passes))
      }
    Result(passes * Queries.size, 0, Nil, metrics, outputs)
  }

  /** Table sizes. The sf0.1 lineitem has 147 236 orders over 20 000 parts,
    * whose co-purchase graph (part pairs sharing ≥ 2 orders) has 3 853
    * edges: mean degree 0.385, mostly small trees, 6 triangles. With P
    * parts and O orders that graph has about (O·k)²/P² edges (k = part
    * pairs per order), so scaling O with P^1.5 keeps its mean degree, and
    * with it the component sizes and the connected-components rounds. */
  val Parts = 2000
  val Orders: Int = math.round(147236 * math.pow(Parts / 20000.0, 1.5)).toInt
  val Suppliers = 100           // 1 000 per 20 000 parts, as in sf0.1
  val Documents = 500           // the sf0.01 documents table (sf0.1 has 5 000 of the same make-up)

  /** Orders by lines per order (1 to 17) in the sf0.1 lineitem. */
  val LinesPerOrder: Seq[Int] = Seq(11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407,
    1959, 818, 292, 93, 29, 10, 1, 2, 1)

  /** The tables the queries read, lineitem and documents, with the columns,
    * types and distributions of the sf0.1 test tables: lines per order as
    * there, part and supplier keys uniform, documents of 10 to 99 words
    * drawn uniformly from the test corpus's vocabulary. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val r = new scala.util.Random(seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    val cumulative = LinesPerOrder.scanLeft(0)(_ + _).tail
    def lineCount(): Int = {
      val x = r.nextInt(cumulative.last)
      1 + cumulative.indexWhere(_ > x)
    }
    val start = java.time.LocalDateTime.of(1995, 1, 2, 0, 0)

    val lines = (0 until Orders).flatMap { ok =>
      (1 to lineCount()).map { ln =>
        val pk = r.nextInt(Parts)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(ok.toLong, pk.toLong, r.nextInt(Suppliers).toLong, ln, qty,
          math.round(qty * (900 + pk % 200) * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)), start.plusDays(r.nextInt(2498)))
      }
    }
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType), lines)
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until Documents).map { i =>
        val text = Seq.fill(10 + r.nextInt(90))(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")
        val lang = if (r.nextDouble() < 0.4) "en" else Seq("de", "fr", "es", "zh")(r.nextInt(4))
        Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      })
  }

  /** The test documents' vocabulary: query-engine words plus stopwords. */
  val Vocabulary: IndexedSeq[String] = IndexedSeq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort",
    "window", "data", "column", "join", "small", "customer", "query", "order", "group", "filter",
    "stream", "vector", "big")
}
