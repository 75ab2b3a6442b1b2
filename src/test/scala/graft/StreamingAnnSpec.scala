package graft

import graft.sim.Similarity
import graft.streaming.StreamingAnn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming IVF maintenance: drained increments + base must search
  * exactly like a from-scratch index over everything ingested (assignment
  * distributes over union under frozen centroids), and restating a batch
  * must not duplicate posting rows. */
class StreamingAnnSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  test("drained stream index ≡ from-scratch search; restatement is " +
       "idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sann").toString
    val in = s"$dir/in"; val idx = s"$dir/index"; val chk = s"$dir/chk"

    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") % 3 === 0)
    val batchA = e.filter(col("vec_id") % 3 === 1)
    val batchB = e.filter(col("vec_id") % 3 === 2)
    StreamingAnn.writeBaseIndex(base, "vec_id", "embedding", "label", idx)

    batchA.write.parquet(in)
    StreamingAnn.ivfSink(spark.readStream.schema(schema).parquet(in),
      "vec_id", "embedding", idx, chk).start().awaitTermination()
    batchB.write.mode("append").parquet(in)
    StreamingAnn.ivfSink(spark.readStream.schema(schema).parquet(in),
      "vec_id", "embedding", idx, chk).start().awaitTermination()

    // maintained postings = exactly one row per ingested vector, in the
    // same cell the from-scratch assignment puts it
    val cents = spark.read.parquet(
      graft.streaming.Compaction.view(spark, idx).path("centroids"))
    val posted = StreamingAnn.readPostings(spark, idx)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val scratch = Similarity.ivfAssign(e, "vec_id", "embedding", cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(posted == scratch,
      "maintained postings must equal from-scratch assignment")

    // ...and the search path over the maintained index matches
    val q = e.filter(col("vec_id") < 5)
    val viaStream = StreamingAnn.search(spark, idx, q, "vec_id",
      "embedding", k = 3, nProbe = 2)
    val oneShot = Similarity.annIvfStored(
      Similarity.ivfAssign(e, "vec_id", "embedding", cents), cents, q,
      "vec_id", "embedding", k = 3, nProbe = 2)
    assert(viaStream.count() > 0)
    assert(viaStream.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(viaStream).isEmpty)

    // restating batch 0 (same content, same partition) must not duplicate
    val before = StreamingAnn.readPostings(spark, idx).count()
    Similarity.ivfAssign(batchA, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$idx/increments/batch=0")
    assert(StreamingAnn.readPostings(spark, idx).count() == before,
      "restated increment must restate, not duplicate")

    // compaction folds the increments into the base without changing a
    // single posting row or search result, and empties the increment tree
    val preRows = StreamingAnn.readPostings(spark, idx)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // fresh plan — viaStream's captured file index predates the
    // restatement overwrite above
    val preSearch = StreamingAnn.search(spark, idx, q, "vec_id",
      "embedding", k = 3, nProbe = 2).collect().toSet
    assert(StreamingAnn.compactIndex(spark, idx) == 2,
      "both increments must fold")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.streaming.Compaction.incrementCount(spark, idx) == 0,
      "no LIVE increment may remain (the folded dirs stay one grace round)")
    val postRows = StreamingAnn.readPostings(spark, idx)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(postRows == preRows, "compaction must not change the postings")
    assert(StreamingAnn.search(spark, idx, q, "vec_id", "embedding",
      k = 3, nProbe = 2).collect().toSet == preSearch)
    // idempotent: nothing left to fold
    assert(StreamingAnn.compactIndex(spark, idx) == 0)
  }

  test("reclusterIfDrifted: below threshold the index is untouched; a " +
       "breach rebuilds under fresh centroids and restarts the increments") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sanr").toString
    val idx = s"$dir/index"
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    StreamingAnn.writeBaseIndex(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", "label", idx)
    val cents0 = spark.read.parquet(
      graft.streaming.Compaction.view(spark, idx).path("centroids"))
    Similarity.ivfAssign(e.filter(col("vec_id") % 2 === 1), "vec_id",
        "embedding", cents0)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$idx/increments/batch=0")

    // an impossible threshold: no breach, nothing moves
    assert(!StreamingAnn.reclusterIfDrifted(spark, idx, maxDrift = 10.0))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/increments")),
      "below threshold the increments must survive")

    // the expected rebuild, computed independently: fresh centroids =
    // current cell means of the maintained postings, full re-assign
    val preMembers = StreamingAnn.readPostings(spark, idx)
      .localCheckpoint(true)
    val freshCents = Similarity.ivfCentroids(preMembers, "cell", "v")
    val q = e.filter(col("vec_id") < 5)
    val expected = Similarity.annIvfStored(
      Similarity.ivfAssign(preMembers.select("vec_id", "v"), "vec_id", "v",
        freshCents), freshCents, q, "vec_id", "embedding", k = 3,
      nProbe = 2).collect().toSet

    // a certain threshold: breach, rebuild, increments restart
    assert(StreamingAnn.reclusterIfDrifted(spark, idx, maxDrift = -1.0))
    assert(graft.streaming.Compaction.incrementCount(spark, idx) == 0,
      "a rebuild must subsume the increments (live count restarts at 0)")
    assert(StreamingAnn.readPostings(spark, idx).count() == e.count())
    assert(StreamingAnn.search(spark, idx, q, "vec_id", "embedding",
      k = 3, nProbe = 2).collect().toSet == expected,
      "search over the rebuilt index must equal the independent rebuild")
  }
}
