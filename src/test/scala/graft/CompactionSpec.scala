package graft

import graft.streaming.{Compaction, StreamingSketch}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The maintained-artifact protocol under crashes and replays: every
  * write publishes a pointer-committed generation, so a crash at any
  * point leaves the ORIGINAL or the NEW content readable (never neither,
  * never a mix), a batch replayed after its increment was folded must not
  * double-count (sink guard + read-time watermark prune + fold-time stale
  * drop), and the compaction triggers must be no-ops below threshold. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One count-min counter (j = 0, bucket = 0) holding `c` — a depth-1,
    * width-1 sketch of `c` keys, so totals read back exactly. */
  private def counter(c: Long) = spark.range(c).toDF("k")

  /** Seed a sketch root through the family's own builder. */
  private def seedSketch(root: String, c: Long): Unit =
    StreamingSketch.writeBaseSketch(counter(c), "k", root, depth = 1,
      width = 1)

  /** Land one increment exactly as the sketch sink does. */
  private def landCounter(root: String, batch: Long, c: Long): Unit =
    graft.ops.Stats.countMinSketch(counter(c), "k", depth = 1, width = 1)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/increments/batch=$batch")

  private def readTotal(root: String): Long =
    StreamingSketch.readMergedSketch(spark, root)
      .agg(sum("c")).head().getLong(0)

  private def listing(d: String): Set[String] =
    if (!fs.exists(new Path(d))) Set.empty
    else fs.listStatus(new Path(d)).map(_.getPath.getName).toSet

  test("foldIncrements: watermark makes replay-after-fold single-count " +
       "(reader prunes, next fold drops), and the trigger gates on count") {
    val sk = tmp("graft_cmp_wm")
    seedSketch(sk, 10)
    landCounter(sk, 0, 1)
    landCounter(sk, 1, 2)
    assert(readTotal(sk) == 13)

    // trigger below threshold: untouched
    assert(StreamingSketch.compactSketchIfNeeded(spark, sk, 5) == 0)
    assert(fs.exists(new Path(s"$sk/increments/batch=0")))
    assert(readTotal(sk) == 13)

    // trigger above threshold: folds, stamps the watermark. The folded
    // increments are RETAINED (grace): the seed generation is still an
    // in-grace snapshot with watermark -1, and a reader holding it needs
    // them — readers of the new generation prune them by partition column
    assert(StreamingSketch.compactSketchIfNeeded(spark, sk, 1) == 2)
    assert(fs.exists(new Path(s"$sk/increments/batch=0")),
      "folded increments stay on disk while an in-grace snapshot needs them")
    assert(readTotal(sk) == 13)
    assert(Compaction.foldedWatermark(spark, sk) == 1)
    assert(Compaction.isFolded(spark, sk, 1) &&
      !Compaction.isFolded(spark, sk, 2))
    // ... and the trigger no longer counts them (no fold-loop)
    assert(Compaction.incrementCount(spark, sk) == 0)

    // a replayed batch re-lands its folded increment: the reader must
    // prune it (no double count) and the next fold must not refold it
    landCounter(sk, 1, 2)
    assert(readTotal(sk) == 13,
      "read-time watermark prune must ignore a replayed folded increment")
    assert(StreamingSketch.compactSketch(spark, sk) == 0,
      "a stale increment must be dropped or retained-pruned, not refolded")
    assert(readTotal(sk) == 13)

    // later batches keep flowing: ids above the watermark fold normally;
    // committing the third generation pushes the seed out of grace, so
    // the first fold's increments (batch ids <= the oldest surviving
    // generation's watermark) are reaped now
    landCounter(sk, 2, 5)
    assert(readTotal(sk) == 18)
    assert(StreamingSketch.compactSketch(spark, sk) == 1)
    assert(readTotal(sk) == 18)
    assert(Compaction.foldedWatermark(spark, sk) == 2)
    assert(!fs.exists(new Path(s"$sk/increments/batch=0")) &&
      !fs.exists(new Path(s"$sk/increments/batch=1")),
      "increments below every in-grace watermark are reaped")
    assert(fs.exists(new Path(s"$sk/increments/batch=2")),
      "the just-folded increment survives its own grace round")
    assert(!fs.exists(new Path(s"$sk/base_v1")),
      "the seed generation is reaped once two later generations supersede it")
  }

  test("a fresh build publishes generation 1 through the pointer and " +
       "leaves no literal data directory") {
    import graft.text.LexIndex
    val idx = s"${tmp("graft_cmp_fresh")}/idx"
    LexIndex.writeIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", idx, nBuckets = 4)
    assert(listing(idx) == Set("postings", "doclens"))
    assert(listing(s"$idx/postings") ==
      Set("_pointer", "base_v1", "meta_v1"))
    assert(listing(s"$idx/doclens") == Set("_pointer", "base_v1"))
    assert(listing(s"$idx/postings/_pointer") == Set("p000000000001"))
  }

  test("a torn, uncommitted next generation is never read; the next op " +
       "discards it and produces the right total") {
    val sk = tmp("graft_cmp_torn")
    seedSketch(sk, 10)
    landCounter(sk, 0, 4)
    // a fold crashed mid-write of generation 2, before its pointer
    // commit: a plausible-looking payload plus a torn part file
    graft.ops.Stats.countMinSketch(counter(99), "k", depth = 1, width = 1)
      .write.parquet(s"$sk/base_v2")
    fs.create(new Path(s"$sk/base_v2/part-torn.parquet"), true).close()
    assert(readTotal(sk) == 14, "an uncommitted generation is never read")
    assert(StreamingSketch.compactSketch(spark, sk) == 1)
    assert(readTotal(sk) == 14,
      "the fold rewrites generation 2 from the intact base + increment")
    assert(!fs.exists(new Path(s"$sk/base_v2/part-torn.parquet")))
  }

  test("a multi-name publish that crashed after writing some payload " +
       "directories still reads all-old") {
    import graft.text.{LexIndex, Retrieval}
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta"))
      .toDF("doc_id", "text")
    val idx = s"${tmp("graft_cmp_multi")}/idx"
    LexIndex.writeIndex(docs, "doc_id", "text", idx, nBuckets = 4)
    def scores() = LexIndex.bm25Indexed(spark, idx, Seq("beta")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val truth = scores()
    assert(truth == Retrieval.bm25(docs, "doc_id", "text", Seq("beta"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    // the postings base of generation 2 is written under a different
    // bucket width; the crash hits before its meta and the commit
    intercept[IllegalStateException] {
      Compaction.publish(spark, s"$idx/postings", Seq("base", "meta")) {
        out =>
          LexIndex.postings(docs, "doc_id", "text")
            .withColumn("bucket", lit(7))
            .write.partitionBy("bucket").parquet(out("base"))
          throw new IllegalStateException("crash before the commit")
      }
    }
    assert(fs.exists(new Path(s"$idx/postings/base_v2")))
    assert(scores() == truth, "the old base + old meta pair is still live")
    // the next op reuses generation 2's slot and reads right
    LexIndex.rebuildIndex(spark, idx)
    assert(scores() == truth)
    assert(Compaction.view(spark, s"$idx/postings").dir("meta")
      .contains(s"$idx/postings/meta_v2"))
  }

  test("a crash after the commit but before GC is reaped by the next op") {
    val sk = tmp("graft_cmp_postcommit")
    seedSketch(sk, 10)
    landCounter(sk, 0, 1)
    landCounter(sk, 1, 2)
    // with the wall-clock floor on, GC reaps nothing — the disk state of
    // a writer that died right after each commit
    spark.conf.set("spark.graft.gcGraceMinutes", "30")
    try {
      assert(StreamingSketch.compactSketch(spark, sk) == 2)
      landCounter(sk, 2, 5)
      assert(StreamingSketch.compactSketch(spark, sk) == 1)
    } finally spark.conf.set("spark.graft.gcGraceMinutes", "0")
    assert(listing(sk) == Set("_pointer", "base_v1", "base_v2", "base_v3",
      "increments"))
    assert(listing(s"$sk/increments") ==
      Set("batch=0", "batch=1", "batch=2"))
    // the next op — a fold with nothing to fold — runs the skipped GC
    assert(StreamingSketch.compactSketch(spark, sk) == 0)
    assert(listing(sk) == Set("_pointer", "base_v2", "base_v3",
      "increments"))
    assert(listing(s"$sk/_pointer").size == 2)
    assert(listing(s"$sk/increments") == Set("batch=2"))
    assert(readTotal(sk) == 18)
  }

  test("sink-side replay guards: appendBatch / appendSignatureIndex drop " +
       "a batch at or below the folded watermark") {
    import graft.text.{Dedup, LexIndex}
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu"),
      (3L, "nu xi omicron pi rho sigma")).toDF("doc_id", "text")

    // lexical index: fold batch 0, then replay it — nothing may re-land
    val lex = tmp("graft_cmp_lex")
    LexIndex.writeIndex(docs.filter(col("doc_id") === 1), "doc_id", "text",
      s"$lex/idx", nBuckets = 4)
    LexIndex.appendBatch(docs.filter(col("doc_id") === 2), "doc_id", "text",
      s"$lex/idx", 0L)
    val (pf, df) = LexIndex.compactIndex(spark, s"$lex/idx")
    assert(pf == 1 && df == 1)
    val before = (listing(s"$lex/idx/postings/increments"),
      listing(s"$lex/idx/doclens/increments"))
    LexIndex.appendBatch(docs.filter(col("doc_id") === 2), "doc_id", "text",
      s"$lex/idx", 0L)
    assert((listing(s"$lex/idx/postings/increments"),
      listing(s"$lex/idx/doclens/increments")) == before,
      "a replayed folded batch must not re-land its increments")
    assert(LexIndex.readDocLens(spark, s"$lex/idx").count() == 2)

    // signature index: same contract on the bands layout
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val ded = tmp("graft_cmp_ded")
    Dedup.writeSignatureIndex(sig.filter(col("doc_id") === 1), "doc_id",
      s"$ded/idx", nBuckets = 4)
    val bandCount = (p: String) =>
      Dedup.readSignatureIndex(spark, p).bands.count()
    Dedup.appendSignatureIndex(sig.filter(col("doc_id") === 2), "doc_id",
      s"$ded/idx", 0L)
    val n = bandCount(s"$ded/idx")
    assert(Dedup.compactSignatureIndex(spark, s"$ded/idx") == 1)
    assert(bandCount(s"$ded/idx") == n)
    val beforeBands = fs.listStatus(new Path(s"$ded/idx/increments"))
      .map(_.getPath.getName).toSet
    Dedup.appendSignatureIndex(sig.filter(col("doc_id") === 2), "doc_id",
      s"$ded/idx", 0L)
    assert(fs.listStatus(new Path(s"$ded/idx/increments"))
      .map(_.getPath.getName).toSet == beforeBands,
      "a replayed folded batch must not re-land its band rows")
    assert(bandCount(s"$ded/idx") == n)
    // the trigger: no-op below, folds above
    Dedup.appendSignatureIndex(sig.filter(col("doc_id") === 3), "doc_id",
      s"$ded/idx", 1L)
    assert(Dedup.compactSignatureIndexIfNeeded(spark, s"$ded/idx", 5) == 0)
    assert(fs.exists(new Path(s"$ded/idx/increments")))
    assert(Dedup.compactSignatureIndexIfNeeded(spark, s"$ded/idx", 0) == 1)
    assert(bandCount(s"$ded/idx") > n)
  }

  test("LexIndex compaction rejects a doc_id ingested in two batches") {
    import graft.text.LexIndex
    val lex = tmp("graft_cmp_dup")
    val d1 = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    LexIndex.writeIndex(d1, "doc_id", "text", s"$lex/idx", nBuckets = 4)
    // the SAME doc re-ingested under a NEW batch id (re-crawl) — split tf
    // fragments and doubled doclens rows would silently skew BM25
    LexIndex.appendBatch(d1, "doc_id", "text", s"$lex/idx", 0L)
    val e = intercept[IllegalArgumentException] {
      LexIndex.compactIndex(spark, s"$lex/idx")
    }
    assert(e.getMessage.contains("duplicate doc_id"))
  }

  test("write lease: a held lease makes a second maintenance op fail " +
       "fast with the index intact; a stale lease is broken after TTL") {
    val sk = tmp("graft_cmp_lease")
    seedSketch(sk, 10)
    landCounter(sk, 0, 1)
    // a concurrent writer holds the lease (what a racing fold would have
    // created): this op must refuse, not race the pointer commit
    val lease = new Path(s"$sk/_lease")
    val out = fs.create(lease, false)
    out.write("otherhost:12345".getBytes("UTF-8")); out.close()
    val err = intercept[IllegalStateException] {
      StreamingSketch.compactSketch(spark, sk)
    }
    assert(err.getMessage.contains("lease") &&
      err.getMessage.contains("otherhost:12345"), err.getMessage)
    // refused cleanly: nothing folded, reads intact, lease untouched
    assert(Compaction.foldedWatermark(spark, sk) == -1L)
    assert(readTotal(sk) == 11)
    assert(fs.exists(lease))

    // a CRASHED writer's lease (older than the TTL) is broken and the op
    // proceeds
    spark.conf.set("spark.graft.leaseTtlMinutes", "0")
    try {
      assert(StreamingSketch.compactSketch(spark, sk) == 1)
      assert(readTotal(sk) == 11)
      assert(!fs.exists(lease), "the lease is released on completion")
    } finally spark.conf.unset("spark.graft.leaseTtlMinutes")
  }

  test("GC age floor: with a wall-clock grace every superseded " +
       "generation, pointer and folded increment survives rapid-fire " +
       "folds, so a long reader planned before the first fold still " +
       "executes against complete files") {
    val sk = tmp("graft_cmp_grace")
    seedSketch(sk, 10)
    landCounter(sk, 0, 1)
    spark.conf.set("spark.graft.gcGraceMinutes", "30")
    try {
      assert(StreamingSketch.compactSketch(spark, sk) == 1)
      // a long analytical reader resolves THIS snapshot (generation 1)
      // and keeps executing while maintenance continues
      val oldBase = Compaction.resolve(spark, sk, "base").get
      val planned = spark.read.parquet(oldBase)
      // two more rapid folds — under generation counting alone these
      // would reap generation 1 and batch=0/1
      landCounter(sk, 1, 2)
      assert(StreamingSketch.compactSketch(spark, sk) == 1)
      landCounter(sk, 2, 5)
      assert(StreamingSketch.compactSketch(spark, sk) == 1)
      assert(readTotal(sk) == 18)
      // the floor kept every superseded artifact the reader could hold
      assert(fs.exists(new Path(oldBase)),
        "in-grace superseded generation survives two later folds")
      assert(fs.exists(new Path(s"$sk/increments/batch=0")) &&
        fs.exists(new Path(s"$sk/increments/batch=1")),
        "in-grace folded increments survive")
      assert(planned.agg(sum("c")).head().getLong(0) == 11,
        "the reader planned before the folds still executes")
    } finally spark.conf.set("spark.graft.gcGraceMinutes", "0")
    // back under generation counting: the next op reaps what aged out
    landCounter(sk, 3, 3)
    assert(StreamingSketch.compactSketch(spark, sk) == 1)
    assert(!fs.exists(new Path(s"$sk/increments/batch=0")),
      "with the floor off, out-of-grace increments are reaped again")
  }
}
