package graft.streaming

import graft.text.NgramLm
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming maintenance of the Kneser–Ney LM's stored index — the
  * [[StreamingDedup]] contract applied to language-model state: each
  * micro-batch's bigram TYPE counts (the LM's additive sufficient
  * statistic, see [[graft.text.NgramLm.kneserNeyCounts]]) land as an
  * idempotent `increments/batch=<id>` parquet partition; the maintained
  * index is the directory, merged at read time.
  *
  * Why this shape: raw counts ADD across batches, so the per-batch
  * increment is a pure function of the batch (no read-modify-write of
  * shared state, no state store), a retried batch OVERWRITES exactly its
  * own partition (restatement, never duplication), and the scorer's
  * derived tables (context totals, continuation counts — which do NOT
  * add) recompute from the merged counts at vocabulary scale. State lives
  * in parquet: driver restarts are free, and index size is bigram-TYPE-
  * sized (Heaps-law sublinear in corpus bytes). Compaction = publish the
  * merged frame as a new base generation, the [[Compaction]] protocol
  * `Dedup.compactSignatureIndex` also rides.
  */
object StreamingLm {

  /** foreachBatch sink: land each micro-batch's bigram counts as its own
    * increment partition under `countsPath/increments/`. */
  def countsSink(docs: DataFrame, id: String, text: String,
                 countsPath: String, checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a batch replayed AFTER compaction folded its increment would
        // re-add counts the base already owns — drop it
        if (!Compaction.isFolded(batch.sparkSession, countsPath, batchId) &&
            !batch.isEmpty) {
          NgramLm.kneserNeyCounts(batch, id, text)
            .write.mode("overwrite")
            .parquet(s"$countsPath/increments/batch=$batchId")
        }: Unit
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())

  /** Optional base corpus counts (an empty start is also fine — the first
    * increments simply ARE the model). */
  def writeBaseCounts(corpus: DataFrame, id: String, text: String,
                      countsPath: String): Unit =
    Compaction.publish(corpus.sparkSession, countsPath, Seq("base")) { out =>
      NgramLm.kneserNeyCounts(corpus, id, text)
        .write.mode("overwrite").parquet(out("base"))
    }

  /** The maintained index as one (v, w, cvw) frame: base (if present) +
    * every increment, merged by integer sum — exactly
    * [[graft.text.NgramLm.kneserNeyMergeCounts]] over all parts, so
    * scoring from it ≡ training from scratch on everything ingested
    * (StreamingLmSpec pins the equality). */
  def readMergedCounts(spark: SparkSession, countsPath: String): DataFrame =
    // snapshot-isolated: one view resolves the base generation and its
    // watermark together; folded-but-in-grace increments prune on the
    // batch partition column
    Compaction.view(spark, countsPath).read(Seq("v", "w", "cvw"))
      .getOrElse(sys.error(s"no LM counts under $countsPath"))
      .groupBy("v", "w").agg(sum("cvw").as("cvw"))

  /** Fold the count increments into a new base — integer count addition
    * ([[graft.text.NgramLm.kneserNeyMergeCounts]]' contract) is the
    * read-path merge, so [[readMergedCounts]] and every score derived
    * from it are identical before and after (StreamingLmSpec pins it).
    * Run between streams; returns the number of increments folded. */
  def compactCounts(spark: SparkSession, countsPath: String): Int =
    Compaction.foldIncrements(spark, countsPath) { (base, incs) =>
      (base.toSeq ++ incs)
        .map(p => spark.read.parquet(p).select("v", "w", "cvw"))
        .reduce(_.unionByName(_))
        .groupBy("v", "w").agg(sum("cvw").as("cvw"))
    } { (df, out) => df.write.mode("overwrite").parquet(out) }

  /** Compaction trigger: fold iff more than `maxIncrements` increment
    * directories have accumulated. */
  def compactCountsIfNeeded(spark: SparkSession, countsPath: String,
                            maxIncrements: Int): Int =
    if (Compaction.incrementCount(spark, countsPath) > maxIncrements)
      compactCounts(spark, countsPath)
    else 0
}
