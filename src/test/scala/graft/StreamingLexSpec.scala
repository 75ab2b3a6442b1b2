package graft

import graft.text.{LexIndex, Retrieval}
import graft.streaming.StreamingLex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming lexical-index maintenance: the drained increments + base must
  * score BM25 exactly like a from-scratch run over everything ingested
  * (the sufficient statistics are union-distributive), restatement must
  * not duplicate rows, compaction must not change a score, and the probe
  * scan must carry a bucket partition filter. */
class StreamingLexSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val terms = Seq("join", "hash", "filter", "stream")

  test("drained stream index ≡ from-scratch BM25; restatement idempotent; " +
       "compaction changes nothing; probe scan is bucket-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_slex").toString
    val in = s"$dir/in"; val idx = s"$dir/index"; val chk = s"$dir/chk"

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 3 === 0)
    val batchA = docs.filter(col("doc_id") % 3 === 1)
    val batchB = docs.filter(col("doc_id") % 3 === 2)
    LexIndex.writeIndex(base, "doc_id", "text", idx)

    batchA.write.parquet(in)
    StreamingLex.lexSink(spark.readStream.schema(schema).parquet(in),
      "doc_id", "text", idx, chk).start().awaitTermination()
    batchB.write.mode("append").parquet(in)
    StreamingLex.lexSink(spark.readStream.schema(schema).parquet(in),
      "doc_id", "text", idx, chk).start().awaitTermination()

    def bmSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scratch = bmSet(Retrieval.bm25(docs, "doc_id", "text", terms))
    assert(scratch.nonEmpty)
    val viaIndex = bmSet(LexIndex.bm25Indexed(spark, idx, terms))
    assert(viaIndex == scratch,
      "maintained index must score exactly like from-scratch BM25")

    // the probed postings scan prunes untouched term buckets
    val nBuckets = spark.read.parquet(
        graft.streaming.Compaction.view(spark, s"$idx/postings").path("meta"))
      .select("n_buckets").head().getInt(0)
    val plan = LexIndex.readPostings(spark, idx)
      .filter(col("bucket").isInCollection(Seq(0, 1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan)
    assert(nBuckets == 64)

    // restating batch 0 (same content, same directories) must not
    // duplicate a row or move a score
    LexIndex.appendBatch(batchA, "doc_id", "text", idx, batchId = 0L)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) == scratch,
      "restated increment must restate, not duplicate")
    assert(LexIndex.readDocLens(spark, idx).count() == docs.count())

    // compaction folds both increment trees; scores identical, trees gone
    val (pFolded, dFolded) = LexIndex.compactIndex(spark, idx)
    assert(pFolded == 2 && dFolded == 2, s"folded ($pFolded, $dFolded)")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.streaming.Compaction
      .incrementCount(spark, s"$idx/postings") == 0)
    assert(graft.streaming.Compaction
      .incrementCount(spark, s"$idx/doclens") == 0)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) == scratch,
      "compaction must not change a score")
    assert(LexIndex.compactIndex(spark, idx) == ((0, 0)))
  }

  test("appendBatch lands a batch in fewer jobs than the old isEmpty " +
       "shape (no pre-pass recomputing the postings aggregation)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft_lexjob").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    LexIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", s"$dir/idx")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    def count(run: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0); run
        Thread.sleep(500) // let trailing job-start events drain
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val newJobs = count {
      LexIndex.appendBatch(batch, "doc_id", "text", s"$dir/idx", 9L)
    }
    // the retired shape, faithfully: meta read, an isEmpty pre-pass
    // materializing the postings aggregation, then the conditional write
    // recomputing all of it, then the doclens landing
    val oldJobs = count {
      val nBuckets = spark.read.parquet(
          graft.streaming.Compaction.view(spark, s"$dir/idx/postings")
            .path("meta"))
        .select("n_buckets").head().getInt(0)
      val post = LexIndex.postings(batch, "doc_id", "text")
        .withColumn("bucket", pmod(graft.text.TextOps.h64(col("term")),
          lit(nBuckets.toLong)).cast("int"))
      if (!post.isEmpty)
        post.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$dir/old_style_increment")
      LexIndex.docLengths(batch, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/old_style_doclens")
    }
    assert(newJobs < oldJobs,
      s"one-job landing started $newJobs jobs vs old shape's $oldJobs")
    assert(LexIndex.readDocLens(spark, s"$dir/idx").count() == docs.count())
  }

  test("statsDrift: same-distribution increments read ~zero OOV; a " +
       "novel-vocabulary batch is flagged in both fractions and avgdl") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lexdr").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    LexIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", s"$dir/calm")
    LexIndex.appendBatch(docs.filter(col("doc_id") % 2 === 1), "doc_id",
      "text", s"$dir/calm", 0L)
    val calm = LexIndex.statsDrift(spark, s"$dir/calm").head()
    val calmOcc = calm.getDouble(calm.fieldIndex("oov_occ_frac"))
    assert(calmOcc < 0.05, s"same-distribution OOV mass was $calmOcc")

    // shifted: the increment is entirely new jargon the base never saw
    LexIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", s"$dir/hot")
    val jargon = (0 until 50)
      .map(i => (100000L + i, s"zxq$i qxz${i % 7} jjj$i zxq${i % 3}"))
      .toDF("doc_id", "text")
    LexIndex.appendBatch(jargon, "doc_id", "text", s"$dir/hot", 0L)
    val hot = LexIndex.statsDrift(spark, s"$dir/hot").head()
    assert(hot.getDouble(hot.fieldIndex("oov_term_frac")) === 1.0)
    assert(hot.getDouble(hot.fieldIndex("oov_occ_frac")) === 1.0)
    assert(hot.getLong(hot.fieldIndex("n_docs_inc")) === 50L)
    assert(hot.getDouble(hot.fieldIndex("avgdl_inc")) === 4.0)
    assert(hot.getDouble(hot.fieldIndex("oov_occ_frac")) > calmOcc)

    // no increments at all → NULL fractions (nothing to compare)
    LexIndex.writeIndex(docs, "doc_id", "text", s"$dir/empty")
    val none = LexIndex.statsDrift(spark, s"$dir/empty").head()
    assert(none.isNullAt(none.fieldIndex("oov_term_frac")))
    assert(none.isNullAt(none.fieldIndex("oov_occ_frac")))
  }

  test("bm25IndexedFiltered: tenant scores ≡ from-scratch BM25 over the " +
       "tenant's docs alone; excluded docs neither score nor dilute idf") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lexflt")
      .toString + "/idx"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    LexIndex.writeIndex(docs, "doc_id", "text", dir)
    def s(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("doc_id", "n_terms", "bm25").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tenant = col("doc_id") % 3 === 0
    val filtered = LexIndex.bm25IndexedFiltered(spark, dir, terms, tenant)
    assert(filtered.filter(col("doc_id") % 3 =!= 0).isEmpty,
      "excluded docs must never score")
    assert(s(filtered) === s(Retrieval.bm25(docs.filter(tenant),
        "doc_id", "text", terms)),
      "tenant scores must equal a from-scratch BM25 over the tenant corpus")
    // the unfiltered call is untouched by the new arm
    assert(s(LexIndex.bm25Indexed(spark, dir, terms)) ===
      s(Retrieval.bm25(docs, "doc_id", "text", terms)))
  }

  test("drift-triggered rebuild: calm → no-op; breach → both roots fold " +
       "at the re-derived width, scores ≡ from-scratch over live docs, " +
       "terminality survives") {
    import graft.streaming.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_lexreb")
      .toString + "/idx"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    def scores(d: String): Set[(Long, Double)] =
      LexIndex.bm25Indexed(spark, d, terms).select("doc_id", "bm25")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // seed at a deliberately tiny width — the aged-layout starting state
    LexIndex.writeIndex(docs.filter(col("doc_id") % 5 =!= 4), "doc_id",
      "text", dir, nBuckets = 4)
    // no increments: nothing streamed in — never a rebuild
    assert(!LexIndex.rebuildIfDrifted(spark, dir, maxGrowthFrac = 0.0))
    LexIndex.appendBatch(docs.filter(col("doc_id") % 5 === 4), "doc_id",
      "text", dir, 0L)
    val before = scores(dir)
    // calm: generous thresholds on both axes leave the index untouched
    assert(!LexIndex.rebuildIfDrifted(spark, dir, maxOovOccFrac = 1.0,
      maxGrowthFrac = 100.0))
    assert(Compaction.incrementCount(spark, s"$dir/postings") == 1)
    assert(scores(dir) === before)
    // a takedown BEFORE the rebuild: the new bases must exclude the victim
    val victim = docs.orderBy("doc_id").limit(1)
      .select("doc_id").head().getLong(0)
    LexIndex.deleteBatch(docs.filter(col("doc_id") === victim)
      .select("doc_id"), dir, 1L)
    // breach: 25% growth over the base → fold + fresh layout
    assert(LexIndex.rebuildIfDrifted(spark, dir, maxGrowthFrac = 0.0))
    assert(Compaction.incrementCount(spark, s"$dir/postings") == 0 &&
      Compaction.incrementCount(spark, s"$dir/doclens") == 0,
      "the rebuild must subsume every increment in both roots")
    // meta flipped WITH the postings: the resolved width is the
    // deriveBuckets one, the seed width is retired, and the postings
    // base's bucket column matches the new modulus
    val width = LexIndex.deriveBuckets(
      LexIndex.readPostings(spark, dir).count())
    assert(width != 4)
    val metaDir = Compaction.view(spark, s"$dir/postings").path("meta")
    assert(spark.read.parquet(metaDir).head().getInt(0) == width)
    assert(LexIndex.readPostings(spark, dir)
      .filter(col("bucket") >= width).isEmpty)
    // scores ≡ a from-scratch index over the live docs (union-
    // distributive statistics: the fold must not move a value)
    val scratch = s"$dir-scratch"
    LexIndex.writeIndex(docs.filter(col("doc_id") =!= victim), "doc_id",
      "text", scratch, nBuckets = width)
    assert(scores(dir) === scores(scratch))
    // terminality under the new layout: re-ingesting the deleted doc is
    // suppressed — scores unchanged
    LexIndex.appendBatch(docs.filter(col("doc_id") === victim), "doc_id",
      "text", dir, 2L)
    assert(scores(dir) === scores(scratch))
    // OOV arm: a novel-vocabulary increment breaches the content knob
    val hot = s"$dir-hot"
    import spark.implicits._
    LexIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", hot)
    LexIndex.appendBatch((0 until 20)
      .map(i => (200000L + i, s"zxq$i qxz${i % 7}")).toDF("doc_id", "text"),
      "doc_id", "text", hot, 0L)
    assert(LexIndex.rebuildIfDrifted(spark, hot, maxOovOccFrac = 0.5))
    assert(Compaction.incrementCount(spark, s"$hot/postings") == 0)
  }
}
