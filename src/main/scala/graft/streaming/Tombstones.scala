package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DELETE support for the maintained on-disk artifacts — the lifecycle
  * piece a training-data deployment cannot ship without (takedown /
  * opt-out / right-to-be-forgotten): removing a document or vector from
  * an index whose base and increments are immutable parquet.
  *
  * Design: deletes are data, not mutations. A delete lands as a TOMBSTONE
  * increment (one row per deleted id) under the artifact it applies to:
  * {{{
  *   <root>/tombstones/base_v<K>/         (tid) — folded tombstone set
  *   <root>/tombstones/increments/batch=N (tid) — one dir per delete batch
  * }}}
  * exactly the [[Compaction]] protocol the data increments already ride
  * (restatement-safe landings, folded-batch watermark, pointer-committed
  * generations),
  * with set-union as the merge — tombstones are trivially
  * union-distributive, so fold ≡ read-merge is an identity.
  *
  * Read path: the artifact's reader anti-joins the live tombstone set on
  * its id column — a LOGICAL delete, visible the moment the tombstone
  * lands, costing one broadcast anti-join (the tombstone set is
  * deleted-ids-sized, never corpus-sized). Compaction/recluster apply
  * tombstones while rewriting the base — the PHYSICAL delete, after which
  * the bytes are gone from disk (what a takedown actually requires).
  *
  * Semantics are TERMINAL: the tombstone base persists after the rows are
  * physically removed, so a later batch that re-ingests a deleted id is
  * anti-joined away forever — deletion cannot be silently undone by a
  * re-crawl (and the append-only-per-doc contracts stay intact: the
  * resurrected row never becomes visible, so it can never fragment
  * statistics). Trimming tombstones older than a verified-erasure audit
  * is a retention policy decision, deliberately not automated here.
  *
  * At 100 TB: a tombstone set is |deleted ids| × 8 B — broadcast-sized by
  * construction for any plausible takedown volume; the anti-join keys on
  * the artifact's own id column, so no shuffle is added to reads (the
  * build side broadcasts), and partition-prune filters (cell / term
  * bucket) still reach the scan because only left-side columns feed them.
  */
private[graft] object Tombstones {

  private def root(dir: String) = s"$dir/tombstones"

  private def fsFor(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Land one delete batch: `ids`' single column becomes `tid`. Replay-
    * and restatement-safe like every increment sink in the family: a
    * batch id at or below the folded watermark is dropped (a prior fold
    * owns it), a retried live batch overwrites exactly its own dir.
    *
    * Returns true iff the batch LANDED. A false return means the
    * watermark guard dropped it — correct for a replayed stream batch,
    * but a MANUAL caller reusing a stale id after a compaction would
    * silently lose a NEW takedown, which is worse for a compliance
    * primitive than for ingest increments; manual batch ids must be
    * monotone per index (the dropped case also logs a warning so a
    * fire-and-forget caller still leaves a trace). */
  def append(ids: DataFrame, dir: String, batchId: Long): Boolean = {
    val spark = ids.sparkSession
    require(ids.columns.length == 1,
      s"tombstone batch must be a single id column, got ${ids.columns.toSeq}")
    val landed = !Compaction.isFolded(spark, root(dir), batchId)
    if (landed)
      graft.ops.Jobs.labeled(spark, s"tombstone land ${root(dir)}") {
        ids.select(col(ids.columns.head).as("tid")).distinct()
          .write.mode("overwrite")
          .parquet(s"${root(dir)}/increments/batch=$batchId")
      }
    else
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"tombstone batch $batchId for $dir dropped: at or below " +
          "the fold watermark (already folded, or a stale manual batch " +
          "id — manual ids must be monotone per index)")
    landed
  }

  /** PREDICATE-SHAPED DELETE — real takedowns arrive as "everything from
    * domain X / matching pattern Y", not id lists: resolve `pred` against
    * `corpus` (the metadata-bearing frame — the documents table for a
    * domain takedown, a stored artifact's own read for content-shaped
    * predicates) to an id frame and land it as a normal tombstone batch.
    * Everything downstream — logical anti-join, physical erasure at the
    * next fold/vacuum, terminal re-ingest suppression, the erasure
    * audit — is id-shaped and unchanged. Returns the landed/dropped
    * signal of [[append]]. */
  def deleteWhere(corpus: DataFrame, idCol: String,
                  pred: org.apache.spark.sql.Column, dir: String,
                  batchId: Long): Boolean =
    append(corpus.filter(pred).select(idCol), dir, batchId)

  /** The live tombstone set (tid), base ∪ unfolded increments — None when
    * no delete has ever landed (readers skip the anti-join entirely).
    * Snapshot-isolated: one [[Compaction.view]] resolves the folded base
    * generation and its watermark together. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    Compaction.view(spark, root(dir)).read(Seq("tid")).map(_.distinct())

  /** Apply the live tombstones to `df`: broadcast anti-join on `idCol`.
    * No tombstones → `df` untouched (no join node in the plan at all). */
  def applyTo(df: DataFrame, dir: String, idCol: String): DataFrame =
    read(df.sparkSession, dir) match {
      case None => df
      case Some(t) =>
        df.join(broadcast(t), df(idCol) === t("tid"), "left_anti")
    }

  /** Fold tombstone increments into the tombstone base (set union) —
    * [[Compaction.foldIncrements]] with the distinct-union merge. Called
    * by each artifact's compaction before it applies tombstones to the
    * data fold, so one compacted artifact never unions a long tombstone
    * increment tail either. */
  def compact(spark: SparkSession, dir: String): Int =
    Compaction.foldIncrements(spark, root(dir)) { (base, incs) =>
      (base.toSeq ++ incs)
        .map(p => spark.read.parquet(p).select("tid"))
        .reduce(_.unionByName(_)).distinct()
    } { (df, out) => df.coalesce(1).write.mode("overwrite").parquet(out) }

  /** True iff `base` still physically holds any tombstoned row — the
    * vacuum trigger for the zero-data-increments case (a fold applies
    * tombstones as a side effect; a pure deletion campaign has nothing to
    * fold, so its physical erasure needs [[Compaction.rewriteBase]]).
    * Cost: one broadcast semi-join short-circuited at the first hit. */
  def needsVacuum(base: DataFrame, dir: String, idCol: String): Boolean =
    read(base.sparkSession, dir).exists(t =>
      base.join(broadcast(t), base(idCol) === t("tid"), "left_semi")
        .limit(1).head(1).nonEmpty)

  /** Rows of `raw` (a PHYSICAL read that bypasses [[applyTo]]) that the
    * tombstones hide — the erasure-audit primitive: > 0 means deleted
    * content still exists in the bytes (logically invisible, awaiting the
    * next fold/vacuum); 0 means the takedown is physically complete. */
  def hiddenRowCount(raw: DataFrame, dir: String, idCol: String): Long =
    read(raw.sparkSession, dir) match {
      case None => 0L
      case Some(t) =>
        raw.join(broadcast(t), raw(idCol) === t("tid"), "left_semi").count()
    }

  /** [[hiddenRowCount]] as a LAZY one-row frame (column `name`), so an
    * audit can compose several counters into ONE plan / ONE Spark action
    * instead of an eager count-per-counter — the no-driver-loops shape
    * a five-family attestation needs. Value-identical to the eager
    * count: no tombstones → a literal 0 row (no join planned at all). */
  def hiddenRowCountDf(raw: DataFrame, dir: String, idCol: String,
                       name: String): DataFrame =
    read(raw.sparkSession, dir) match {
      case None =>
        raw.sparkSession.range(1).select(lit(0L).as(name))
      case Some(t) =>
        raw.join(broadcast(t), raw(idCol) === t("tid"), "left_semi")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as(name))
    }

  /** Number of tombstoned ids under `dir` (0 when none ever landed). */
  def count(spark: SparkSession, dir: String): Long =
    read(spark, dir).map(_.count()).getOrElse(0L)

  /** [[count]] as a LAZY one-row frame (column `name`) — see
    * [[hiddenRowCountDf]]. */
  def countDf(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir) match {
      case None    => spark.range(1).select(lit(0L).as(name))
      case Some(t) => t.agg(org.apache.spark.sql.functions.count(lit(1)).as(name))
    }

  /** Count of unfolded tombstone increment dirs — trigger signal. */
  def incrementCount(spark: SparkSession, dir: String): Int =
    Compaction.incrementCount(spark, root(dir))

  /** True iff any tombstone has ever landed under `dir`. */
  def exist(spark: SparkSession, dir: String): Boolean =
    fsFor(spark, root(dir)).exists(new Path(root(dir)))

  /** Drop the ENTIRE tombstone tree under `dir` — the retention-trim arm
    * the docs leave as an administrative decision. Two consequences the
    * caller owns, which is why this is `private[graft]` and only reachable
    * through the per-family trim wrappers that first REQUIRE a clean
    * [[hiddenRowCount]] audit: (1) if any physical row were still hidden,
    * trimming would resurrect it — the guard makes that impossible;
    * (2) previously-deleted ids become re-ingestable again — the terminal
    * guarantee is consciously waived by this action (do it only after the
    * erasure attestation is filed and the upstream can no longer re-crawl
    * the content). */
  private[graft] def clear(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, root(dir))
    if (fs.exists(new Path(root(dir))))
      fs.delete(new Path(root(dir)), true): Unit
    spark.catalog.refreshByPath(dir)
  }
}
