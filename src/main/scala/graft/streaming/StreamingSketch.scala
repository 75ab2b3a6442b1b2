package graft.streaming

import graft.ops.Stats
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming maintenance of a count-min frequency sketch — the
  * [[StreamingLm]] contract applied to the heavy-hitter structure: each
  * micro-batch's (j, bucket, c) counters land as an idempotent
  * `increments/batch=<id>` parquet partition; the maintained sketch is
  * the directory, merged by integer sum at read time.
  *
  * Count-min counters are the textbook ADDITIVE sufficient statistic —
  * sketch(A ∪ B) = sketch(A) + sketch(B) counter-for-counter — so the
  * per-batch increment is a pure function of the batch (no state store,
  * no read-modify-write), a retried batch overwrites exactly its own
  * partition (restatement, never duplication), and the merged sketch is
  * bit-identical to the one built from scratch over everything ingested
  * (StreamingSketchSpec pins the equality). State is depth×width longs
  * per batch: the 100 TB story is that the INDEX stays a few KB while
  * the stream is unbounded — compaction ([[compactSketch]] /
  * [[compactDdSketch]], summing increments into a new base) bounds the
  * read-side file listing, not the answer.
  */
object StreamingSketch {

  /** foreachBatch sink: land each micro-batch's count-min counters as its
    * own increment partition under `sketchPath/increments/`. */
  def sketchSink(df: DataFrame, key: String, sketchPath: String,
                 checkpoint: String, depth: Int = 4,
                 width: Int = 256): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a batch replayed AFTER compaction folded its increment would
        // re-add counters the base already owns — drop it
        if (!Compaction.isFolded(batch.sparkSession, sketchPath, batchId) &&
            !batch.isEmpty) {
          Stats.countMinSketch(batch, key, depth, width)
            .write.mode("overwrite")
            .parquet(s"$sketchPath/increments/batch=$batchId")
        }: Unit
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())

  /** Optional base sketch from a batch corpus (an empty start is fine —
    * the first increments simply ARE the sketch). */
  def writeBaseSketch(df: DataFrame, key: String, sketchPath: String,
                      depth: Int = 4, width: Int = 256): Unit =
    Compaction.publish(df.sparkSession, sketchPath, Seq("base")) { out =>
      Stats.countMinSketch(df, key, depth, width)
        .write.mode("overwrite").parquet(out("base"))
    }

  /** The maintained sketch as one (j, bucket, c) frame: base (if present)
    * plus every increment, merged by counter sum. Query it with
    * [[graft.ops.Stats.cmLookup]]. */
  def readMergedSketch(spark: SparkSession, sketchPath: String): DataFrame =
    // snapshot-isolated: one view resolves the base generation and its
    // watermark together; folded-but-in-grace increments prune on the
    // batch partition column
    Compaction.view(spark, sketchPath).read(Seq("j", "bucket", "c"))
      .getOrElse(sys.error(s"no sketch state under $sketchPath"))
      .groupBy("j", "bucket").agg(sum(col("c")).as("c"))

  /** Fold the count-min increments into a new base — counter addition IS
    * the read-path merge, so [[readMergedSketch]] before ≡ after
    * (StreamingSketchSpec pins it). Run between streams; returns the
    * number of increments folded. */
  def compactSketch(spark: SparkSession, sketchPath: String): Int =
    Compaction.foldIncrements(spark, sketchPath) { (base, incs) =>
      (base.toSeq ++ incs)
        .map(p => spark.read.parquet(p).select("j", "bucket", "c"))
        .reduce(_.unionByName(_))
        .groupBy("j", "bucket").agg(sum(col("c")).as("c"))
    } { (df, out) => df.write.mode("overwrite").parquet(out) }

  // ── DDSketch maintenance: the same contract as the count-min sink —
  //    DDSketch bucket counts are ADDITIVE (sketch(A ∪ B) = sketch(A) ⊕
  //    sketch(B), Stats.ddSketchMerge), so each micro-batch's (keys, _b,
  //    _c) frame lands as an idempotent increment partition with no state
  //    store, a retried batch restates exactly its own partition, and the
  //    merged sketch is bit-identical to one built from scratch
  //    (StreamingSketchSpec pins stream ≡ batch through the q308 read
  //    path). State per batch is log-range-bounded per key — a few KB
  //    against an unbounded stream.

  /** foreachBatch sink: land each micro-batch's DDSketch bucket counts
    * as its own increment partition under `sketchPath/increments/`. */
  def ddSketchSink(df: DataFrame, value: String, keys: Seq[String],
                   sketchPath: String, checkpoint: String,
                   alphaPm: Int = 10): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!Compaction.isFolded(batch.sparkSession, sketchPath, batchId) &&
            !batch.isEmpty) {
          Stats.ddSketchBuckets(batch, value, keys, alphaPm)
            .write.mode("overwrite")
            .parquet(s"$sketchPath/increments/batch=$batchId")
        }: Unit
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())

  /** Optional base DDSketch from a batch corpus. */
  def writeBaseDdSketch(df: DataFrame, value: String, keys: Seq[String],
                        sketchPath: String, alphaPm: Int = 10): Unit =
    Compaction.publish(df.sparkSession, sketchPath, Seq("base")) { out =>
      Stats.ddSketchBuckets(df, value, keys, alphaPm)
        .write.mode("overwrite").parquet(out("base"))
    }

  /** The maintained DDSketch as one (keys, _b, _c) bucket frame: base
    * (if present) plus every increment, merged by counter sum. Read
    * quantiles from it with [[graft.ops.Stats.ddSketchRead]]. */
  def readMergedDdSketch(spark: SparkSession, sketchPath: String,
                         keys: Seq[String]): DataFrame =
    Stats.ddSketchMerge(Seq(
      Compaction.view(spark, sketchPath).read(keys :+ "_b" :+ "_c")
        .getOrElse(sys.error(s"no sketch state under $sketchPath"))), keys)

  /** Fold the DDSketch increments into a new base — bucket-count addition
    * ([[graft.ops.Stats.ddSketchMerge]]) is the read-path merge, so
    * [[readMergedDdSketch]] before ≡ after (StreamingSketchSpec pins it).
    * Run between streams; returns the number of increments folded. */
  def compactDdSketch(spark: SparkSession, sketchPath: String,
                      keys: Seq[String]): Int = {
    val cols = keys :+ "_b" :+ "_c"
    Compaction.foldIncrements(spark, sketchPath) { (base, incs) =>
      Stats.ddSketchMerge(
        (base.toSeq ++ incs)
          .map(p => spark.read.parquet(p).select(cols.map(col): _*)),
        keys)
    } { (df, out) => df.write.mode("overwrite").parquet(out) }
  }

  /** Compaction trigger for the count-min store: fold iff more than
    * `maxIncrements` increment directories have accumulated. */
  def compactSketchIfNeeded(spark: SparkSession, sketchPath: String,
                            maxIncrements: Int): Int =
    if (Compaction.incrementCount(spark, sketchPath) > maxIncrements)
      compactSketch(spark, sketchPath)
    else 0

  /** Compaction trigger for the DDSketch store. */
  def compactDdSketchIfNeeded(spark: SparkSession, sketchPath: String,
                              keys: Seq[String], maxIncrements: Int): Int =
    if (Compaction.incrementCount(spark, sketchPath) > maxIncrements)
      compactDdSketch(spark, sketchPath, keys)
    else 0
}
