package graft.streaming

import graft.sim.Similarity
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming maintenance of the IVF ANN index — the [[StreamingSketch]]
  * contract applied to posting lists: each micro-batch is assigned to the
  * FROZEN stored centroids and lands as an idempotent
  * `increments/batch=<id>` cell-partitioned parquet partition; the
  * maintained index is the directory union, and because assignment under
  * fixed centroids distributes over union, search over it is
  * value-identical to a from-scratch build over everything ingested
  * (StreamingAnnSpec pins it).
  *
  * Retried batches overwrite exactly their own partition (restatement,
  * never duplication — the same reason the sketch sinks are safe), and
  * no state store is needed: the per-batch increment is a pure function
  * of the batch. At 100 TB the increments are cell-partitioned like the
  * base, so probe-time pruning skips untouched cells in EVERY batch
  * directory; [[graft.sim.Similarity.ivfCellDrift]] over the merged
  * postings is the signal that the frozen quantizer needs reclustering
  * (at which point a new base is written and the increments restart).
  */
object StreamingAnn {

  /** Write the base index: centroids learned from the corpus's `cell`
    * column + the corpus's own posting lists. */
  def writeBaseIndex(corpus: DataFrame, id: String, emb: String,
                     cell: String, indexPath: String): Unit = {
    val cents = Similarity.ivfCentroids(corpus, cell, emb)
    Compaction.publish(corpus.sparkSession, indexPath,
        Seq("centroids", "base")) { out =>
      cents.write.mode("overwrite").parquet(out("centroids"))
      Similarity.ivfAssign(corpus, id, emb, cents)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(out("base"))
    }
  }

  /** foreachBatch sink: assign each micro-batch to the stored centroids
    * and land it as its own cell-partitioned increment. */
  def ivfSink(df: DataFrame, id: String, emb: String, indexPath: String,
              checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a batch replayed AFTER compaction folded its increment would
        // re-land rows the base already owns — drop it (the mechanical
        // guard; the read-time watermark prune is the backstop)
        if (!Compaction.isFolded(batch.sparkSession, indexPath, batchId) &&
            !batch.isEmpty) {
          val cents = batch.sparkSession.read.parquet(
            Compaction.view(batch.sparkSession, indexPath).path("centroids"))
          Similarity.ivfAssign(batch, id, emb, cents)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$indexPath/increments/batch=$batchId")
        }: Unit
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())

  /** foreachBatch sink for a DELETE stream (takedown / opt-out ids):
    * each micro-batch of vec_ids lands as a tombstone increment
    * ([[Tombstones]] — its own watermark, so the ingest and delete
    * streams replay independently). Logically gone from the next
    * [[search]] (and from [[reclusterIfDrifted]]'s member means);
    * physically gone at the next [[compactIndex]] / [[reclusterIndex]]
    * base rewrite. Terminal: a re-ingested deleted vec_id stays dead. */
  def tombstoneSink(df: DataFrame, indexPath: String,
                    checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Tombstones.append(batch, indexPath, batchId): Unit
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())

  /** [[tombstoneSink]]'s batch form: land one delete batch of vec_ids.
    * Returns true iff the batch landed (false = dropped by the fold
    * watermark — manual batch ids must be monotone per index). */
  def deleteBatch(ids: DataFrame, indexPath: String, batchId: Long): Boolean =
    Tombstones.append(ids, indexPath, batchId)

  /** PREDICATE-SHAPED DELETE resolved against the LIVE posting lists
    * (vec_id, v, cell): e.g. drain a whole routing cell, or compose with
    * a caller-joined metadata frame via [[Tombstones.deleteWhere]]. A
    * `cell`-shaped predicate partition-prunes the resolution scan. */
  def deleteWhere(spark: SparkSession, indexPath: String,
                  pred: org.apache.spark.sql.Column,
                  batchId: Long): Boolean =
    Tombstones.deleteWhere(readPostings(spark, indexPath), "vec_id", pred,
      indexPath, batchId)

  /** The maintained posting lists: base plus every LIVE increment — the
    * `batch` partition column prunes directories at or below the folded
    * watermark (a fold or recluster that crashed before its increment
    * deletes leaves them on disk; they must not double-count) — minus
    * tombstoned vectors (broadcast anti-join; cell pruning still reaches
    * the scan, the filter is left-side-only). */
  def readPostings(spark: SparkSession, indexPath: String): DataFrame =
    Tombstones.applyTo(rawPostings(Compaction.view(spark, indexPath)),
      indexPath, "vec_id")

  /** The physical rows (base ∪ live increments) WITHOUT the tombstone
    * anti-join — the erasure audit's read; everything else goes through
    * [[readPostings]]. Takes the caller's [[Compaction.RootView]] so a
    * query touching centroids too stays on one generation. */
  private def rawPostings(v: Compaction.RootView): DataFrame =
    v.read(Seq("vec_id", "v", "cell")).getOrElse(
      sys.error(s"no maintained ANN index under ${v.root}"))

  /** ERASURE AUDIT for the maintained ANN index — the
    * [[graft.text.LexIndex.erasureAudit]] readout on the vector axis:
    * tombstone count plus the physical rows the anti-join is hiding;
    * `physically_clean = true` is the state an erasure attestation can
    * cite (reached after [[compactIndex]] / [[reclusterIndex]]). */
  def erasureAudit(spark: SparkSession, indexPath: String): DataFrame =
    // ONE lazy plan (broadcast cross join of one-row aggregates) — a
    // single action when consumed, unionable into the one-job
    // five-family attest (see LexIndex.erasureAudit)
    Tombstones.countDf(spark, indexPath, "n_tombstones")
      .crossJoin(broadcast(Tombstones.hiddenRowCountDf(
        rawPostings(Compaction.view(spark, indexPath)), indexPath, "vec_id",
        "rows_hidden")))
      .select(col("n_tombstones"), col("rows_hidden"),
        (col("rows_hidden") === 0L).as("physically_clean"))

  /** Search the maintained index — [[Similarity.annIvfStored]] routing
    * and ranking over the merged posting lists. Postings and centroids
    * resolve from ONE [[Compaction.view]] so a concurrent recluster can
    * never hand the search mixed generations. */
  def search(spark: SparkSession, indexPath: String, queries: DataFrame,
             id: String, emb: String, k: Int, nProbe: Int): DataFrame = {
    val v = Compaction.view(spark, indexPath)
    Similarity.annIvfStored(
      Tombstones.applyTo(rawPostings(v), indexPath, "vec_id"),
      spark.read.parquet(v.path("centroids")), queries, id, emb, k,
      nProbe)
  }

  /** FILTERED search over the maintained store — the "search within a
    * tenant" query on the streaming layout
    * ([[Similarity.annIvfIndexedFiltered]]'s contract): `pred` (over the
    * posting columns — vec_id, v, cell) applies INSIDE the probed
    * posting lists, composed with the cell partition pruning (the
    * routing itself stays unfiltered — centroids are corpus geometry),
    * so excluded vectors never score and never a post-filter of an
    * unfiltered top-k runs. */
  def searchFiltered(spark: SparkSession, indexPath: String,
                     queries: DataFrame, id: String, emb: String,
                     pred: org.apache.spark.sql.Column, k: Int,
                     nProbe: Int): DataFrame = {
    val v = Compaction.view(spark, indexPath)
    Similarity.annIvfStored(
      Tombstones.applyTo(rawPostings(v), indexPath, "vec_id").filter(pred),
      spark.read.parquet(v.path("centroids")), queries, id, emb, k,
      nProbe)
  }

  /** RETENTION TRIM of the tombstone set — refuses while the audit shows
    * hidden physical rows (trimming then would resurrect them); after a
    * trim, deleted vec_ids are re-ingestable (terminality consciously
    * waived — see [[graft.text.LexIndex.trimTombstones]]). */
  def trimTombstones(spark: SparkSession, indexPath: String): Unit = {
    val audit = erasureAudit(spark, indexPath).head()
    require(audit.getBoolean(audit.fieldIndex("physically_clean")),
      s"trimTombstones($indexPath): erasure not yet physical — " +
        s"${audit.getLong(1)} rows still hidden; run compactIndex first")
    Tombstones.clear(spark, indexPath)
  }

  /** Rebuild the maintained index under FRESH centroids — the recluster
    * arm of the drift loop ([[Similarity.reclusterIvfIndex]]'s Lloyd
    * refresh on this layout): new centroids = the current fixed-point
    * means of each live cell over base ∪ increments, every ingested
    * vector re-assigns to them, the result lands as a new base, and the
    * increments RESTART (they encoded assignments under the old quantizer;
    * the rebuild subsumes them). Centroids and base must flip TOGETHER —
    * fresh centroids routing over old posting lists silently degrades
    * every search — so both are one [[Compaction.publish]]: a single
    * pointer commit makes the pair live, readers holding the previous
    * generation keep a complete
    * view through the grace period, and the subsumed increments are GC'd
    * only once no in-grace snapshot can need them (the folded watermark
    * stamped into the new base is the prune signal either way). Run
    * between streams. */
  def reclusterIndex(spark: SparkSession, indexPath: String): Unit = {
    spark.catalog.refreshByPath(indexPath)
    val prevWm = Compaction.foldedWatermark(spark, indexPath)
    val subsumedWm = (prevWm +: Compaction.incrementIds(spark, indexPath)).max
    val members = readPostings(spark, indexPath)
    Compaction.publish(spark, indexPath, Seq("centroids", "base")) { out =>
      Similarity.ivfCentroids(members, "cell", "v")
        .write.mode("overwrite").parquet(out("centroids"))
      Similarity.ivfAssign(members.select("vec_id", "v"), "vec_id", "v",
          spark.read.parquet(out("centroids")))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(out("base"))
      Compaction.stampWatermark(spark, out("base"), subsumedWm)
    }
    Compaction.gcIncrements(spark, indexPath)
    spark.catalog.refreshByPath(indexPath)
  }

  /** The [[Similarity.ivfCellDrift]] report of the maintained postings
    * against the stored (frozen) centroids — the family's aging monitor
    * as a one-call readout (cells-sized; a drained cell surfaces as
    * n_members = 0 with NULL drift). */
  def cellDrift(spark: SparkSession, indexPath: String): DataFrame = {
    val v = Compaction.view(spark, indexPath)
    Similarity.ivfCellDrift(
      Tombstones.applyTo(rawPostings(v), indexPath, "vec_id"),
      spark.read.parquet(v.path("centroids")))
  }

  /** The closed drift loop: read the [[cellDrift]] report; when any cell
    * breaches `maxDrift` — or has drained to zero members, the state the
    * report surfaces as NULL drift — rebuild via [[reclusterIndex]] and
    * return true. Below threshold the index is untouched. The report is
    * cells-sized, so the check costs one postings aggregate. */
  def reclusterIfDrifted(spark: SparkSession, indexPath: String,
                         maxDrift: Double): Boolean = {
    val breached = cellDrift(spark, indexPath)
      .filter(col("n_members") === 0 || col("drift") > maxDrift)
      .limit(1).count() > 0
    if (breached) reclusterIndex(spark, indexPath)
    breached
  }

  /** Fold the increment directories into a new cell-partitioned base —
    * [[Compaction.foldIncrements]] with this index's union merge. Because
    * assignment under frozen centroids distributes over union, the folded
    * base holds exactly the rows the old base ∪ increments held, so
    * [[search]] before ≡ after (StreamingAnnSpec pins it). Run between
    * streams; returns the number of increments folded. */
  def compactIndex(spark: SparkSession, indexPath: String): Int = {
    // fold the tombstone increments first, then apply the folded set
    // inside the data fold: the new base is written WITHOUT the deleted
    // vectors' rows — the physical erasure a takedown requires
    Tombstones.compact(spark, indexPath)
    val writeCells = (df: DataFrame, out: String) =>
      df.write.mode("overwrite").partitionBy("cell").parquet(out)
    val folded = Compaction.foldIncrements(spark, indexPath) { (base, incs) =>
      Tombstones.applyTo((base.toSeq ++ incs)
        .map(p => spark.read.parquet(p).select("vec_id", "v", "cell"))
        .reduce(_.unionByName(_)), indexPath, "vec_id")
    } (writeCells)
    // pure deletion campaign: nothing folded, but the base still holds
    // tombstoned rows physically — vacuum it through the same publish
    if (folded == 0 && Compaction.resolve(spark, indexPath, "base").exists(
        b => Tombstones.needsVacuum(spark.read.parquet(b), indexPath,
          "vec_id")))
      Compaction.rewriteBase(spark, indexPath)(df =>
        Tombstones.applyTo(df.select("vec_id", "v", "cell"), indexPath,
          "vec_id"))(writeCells)
    folded
  }

  /** The operational trigger [[reclusterIfDrifted]] is for drift, applied
    * to compaction: fold iff more than `maxIncrements` increment
    * directories have accumulated (one directory listing below
    * threshold). Call after every stream run and the read-side union
    * width stays bounded by construction. */
  def compactIndexIfNeeded(spark: SparkSession, indexPath: String,
                           maxIncrements: Int): Int =
    if (Compaction.incrementCount(spark, indexPath) > maxIncrements ||
        Tombstones.incrementCount(spark, indexPath) > maxIncrements)
      compactIndex(spark, indexPath)
    else 0
}
