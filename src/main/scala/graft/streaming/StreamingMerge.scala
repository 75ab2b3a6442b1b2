package graft.streaming

import graft.ops.Merge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** CDC apply-on-ingest: the streaming form of `ops.Merge.upsert`.
  *
  * Each micro-batch of change rows (op I/U/D + per-key version) merges into
  * the persisted snapshot; the result publishes as a new immutable
  * generation behind [[Compaction]]'s atomic pointer flip, so readers
  * always see a complete snapshot — including readers that resolved
  * BEFORE the apply (grace period) — and a crashed apply leaves the
  * previous generation fully live (uncommitted payload is GC'd).
  *
  * Replay safety comes from the merge semantics themselves: applying the
  * same change batch onto the post-apply snapshot is a no-op — a re-applied
  * 'U'/'I' outranks the snapshot row it already produced (same bytes win
  * again), a re-applied 'D' deletes an already-absent key. So a retried
  * micro-batch restates the snapshot instead of corrupting it; no
  * batch-id bookkeeping is needed beyond the checkpoint itself
  * (StreamingMergeSpec proves apply∘apply = apply). The contract covers
  * exactly Structured Streaming's retry shape — the LAST uncommitted batch
  * re-runs; replaying an OLDER batch by hand would regress its keys
  * (snapshot rows ride at version 0) and is outside the contract.
  *
  * State is the parquet snapshot, not executor memory: driver restarts are
  * cheap and snapshot size tracks the keyspace, not the stream history.
  */
object StreamingMerge {

  /** One merge application onto the stored snapshot (shared by the batch
    * and streaming paths). The snapshot must exist (via [[init]]).
    * The apply rides [[Compaction]]'s versioned-root protocol: the merged
    * snapshot publishes as a new immutable generation behind an atomic
    * pointer flip, so a reader that resolved [[readSnapshot]] before the
    * apply keeps a complete view through the grace period (one further
    * apply) — never a path-not-found mid-swap. */
  def applyBatch(spark: SparkSession, changes: DataFrame, basePath: String,
                 key: String, versionCol: String, opCol: String): Unit = {
    val base = readSnapshot(spark, basePath)
    publish(spark, basePath,
      Merge.upsert(base, changes, key, versionCol, opCol))
  }

  /** Seed the snapshot from an initial base table — generation 1. */
  def init(base: DataFrame, basePath: String): Unit =
    publish(base.sparkSession, basePath, base)

  private def publish(spark: SparkSession, basePath: String,
                      snapshot: DataFrame): Unit =
    Compaction.publish(spark, basePath, Seq("current")) { out =>
      snapshot.write.mode("overwrite").parquet(out("current"))
    }

  /** The live snapshot — resolve the pointer once per query
    * ([[Compaction.view]]). */
  def readSnapshot(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(Compaction.view(spark, basePath).path("current"))

  /** foreachBatch sink applying each micro-batch of changes to the
    * snapshot under `basePath`. */
  def upsertSink(changes: DataFrame, basePath: String, key: String,
                 versionCol: String, opCol: String,
                 checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          applyBatch(batch.sparkSession, batch, basePath, key, versionCol, opCol)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())
}
