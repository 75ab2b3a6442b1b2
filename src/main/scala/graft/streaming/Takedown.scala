package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** ONE takedown campaign across every maintained index family.
  *
  * Compliance reality: a single takedown request ("forget these
  * documents") touches every artifact derived from the content — the
  * lexical index, the vector stores (IVF and PQ tiers), the dedup
  * signature index, the graph-ANN store. Running it as five separate
  * `deleteBatch` calls plus five audits invites partial campaigns (one
  * family missed = content still served). This wrapper lands the SAME
  * logical campaign in every targeted family, attests all of them in ONE
  * frame, and completes physical erasure family by family.
  *
  * Semantics are exactly each family's own delete/audit/fold primitives
  * (this object adds no new state): logical deletion is visible at the
  * next read of every family, physical erasure completes at [[erase]],
  * re-ingest stays terminally suppressed per family. The attestation is
  * the union of the per-family erasure audits normalized to one schema —
  * (family, n_tombstones, rows_hidden, physically_clean) — where
  * `rows_hidden` sums the family's physical hidden-row counters
  * (postings+doclens, codes+postings, band rows, vectors+edges).
  *
  * At 100 TB: each landing is a deleted-ids-sized tombstone write; each
  * audit is a broadcast semi-join count; [[erase]] is the family folds
  * the maintenance loop runs anyway.
  */
object Takedown {

  /** Index-family roots targeted by one campaign (None = family not
    * deployed). `lex` and `dedup` are doc-keyed; `ann`, `pq` and `graph`
    * are vector-keyed. */
  final case class Targets(lex: Option[String] = None,
                           ann: Option[String] = None,
                           pq: Option[String] = None,
                           dedup: Option[String] = None,
                           graph: Option[String] = None)

  /** Land the campaign as tombstone batch `batchId` in every targeted
    * family: `docIds` (single doc-id column) hits the lexical and
    * dedup-signature indexes, `vecIds` (single vec-id column) the
    * ANN / PQ / graph stores. Families whose id frame is None are
    * skipped. Batch ids follow each family's own monotone-per-index
    * contract, and the per-family landed signals are CHECKED: a campaign
    * batch id at or below any family's fold watermark would be silently
    * dropped there (content kept serving while [[attest]] reports clean —
    * the partial campaign this wrapper exists to prevent), so that case
    * fails fast instead. Returns the per-family landed map (all true). */
  def land(docIds: Option[DataFrame], vecIds: Option[DataFrame],
           t: Targets, batchId: Long): Map[String, Boolean] = {
    val landed = landEach(docIds, vecIds, t, batchId)
    val dropped = landed.collect { case (f, false) => f }
    require(dropped.isEmpty,
      s"takedown land: batch $batchId was dropped in ${dropped.mkString(", ")} " +
        "(at or below the family's fold watermark) — the campaign did NOT " +
        "land everywhere; reissue it under a fresh monotone batch id")
    landed
  }

  /** [[land]] without the all-landed check — the streaming replay path,
    * where a batch dropped by a family's fold watermark is the CORRECT
    * behavior (the fold already owns its rows). */
  private def landEach(docIds: Option[DataFrame], vecIds: Option[DataFrame],
                       t: Targets, batchId: Long): Map[String, Boolean] = {
    // five families, five DISJOINT roots: land them concurrently (each is
    // a chain of small jobs + driver FS work — guide-§2.6 overlap; every
    // landing still serializes on its own root's write lease)
    val tasks: Seq[(String, () => Boolean)] =
      docIds.toSeq.flatMap { ids =>
        t.lex.map(d => "lex" ->
          (() => graft.text.LexIndex.deleteBatch(ids, d, batchId))).toSeq ++
        t.dedup.map(d => "dedup" ->
          (() => graft.text.Dedup.deleteFromSignatureIndex(ids, d, batchId)))
      } ++
      vecIds.toSeq.flatMap { ids =>
        t.ann.map(d => "ann" ->
          (() => StreamingAnn.deleteBatch(ids, d, batchId))).toSeq ++
        t.pq.map(d => "pq" ->
          (() => graft.sim.PqIndex.deleteBatch(ids, d, batchId))) ++
        t.graph.map(d => "graph" ->
          (() => graft.sim.GraphAnnIndex.deleteBatch(ids, d, batchId)))
      }
    val done = graft.ops.Par.map(tasks) { case (f, run) => f -> run() }
    scala.collection.immutable.ListMap(done: _*)
  }

  /** STREAMED CAMPAIGN — takedown requests arriving as a stream: ONE id
    * stream fanned to every targeted family under one checkpoint, the
    * streaming form of [[land]] (each family's own `tombstoneSink`
    * covers single-family streams; a compliance FEED hits them all).
    * Each micro-batch lands its non-null `docCol` ids in the doc-keyed
    * families and its non-null `vecCol` ids in the vector-keyed ones —
    * both under the stream's batch id, so replays ride every family's
    * own watermark guard (a drop here is the replay contract, not the
    * partial-campaign failure [[land]] refuses; pass None to skip a
    * side). Logical deletion is visible at each family's next read as
    * the batch commits; run [[erase]] between runs like all maintenance.
    * TombstoneSpec pins drained-stream ≡ batch [[land]] family by
    * family. */
  def campaignSink(ids: DataFrame, t: Targets, checkpoint: String,
                   docCol: Option[String] = Some("doc_id"),
                   vecCol: Option[String] = Some("vec_id"))
      : DataStreamWriter[Row] =
    ids.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landEach(
          docCol.map(c => batch.select(col(c)).filter(col(c).isNotNull)),
          vecCol.map(c => batch.select(col(c)).filter(col(c).isNotNull)),
          t, batchId): Unit
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow())

  /** The campaign-wide attestation: one row per targeted family, the
    * family's own erasure audit normalized to
    * (family, n_tombstones, rows_hidden, physically_clean). */
  def attest(spark: SparkSession, t: Targets): DataFrame = {
    def norm(family: String, audit: DataFrame): DataFrame = {
      val hidden = audit.columns.filter(_.endsWith("_hidden"))
      audit.select(lit(family).as("family"),
        col("n_tombstones").cast("long").as("n_tombstones"),
        hidden.map(c => col(c).cast("long")).reduce(_ + _).as("rows_hidden"),
        col("physically_clean"))
    }
    // each family's audit is a LAZY one-row plan, so the union is ONE
    // Spark action for the whole campaign when consumed; building the
    // five plans still resolves five roots' pointers/tombstones on the
    // driver — overlap that FS work on the family pool (guide §2.6)
    val tasks: Seq[() => DataFrame] =
      t.lex.map(d => () =>
        norm("lex", graft.text.LexIndex.erasureAudit(spark, d))).toSeq ++
      t.ann.map(d => () => norm("ann", StreamingAnn.erasureAudit(spark, d))) ++
      t.pq.map(d => () =>
        norm("pq", graft.sim.PqIndex.erasureAudit(spark, d))) ++
      t.dedup.map(d => () =>
        norm("dedup", graft.text.Dedup.erasureAudit(spark, d))) ++
      t.graph.map(d => () =>
        norm("graph", graft.sim.GraphAnnIndex.erasureAudit(spark, d)))
    require(tasks.nonEmpty, "takedown attest: no family targeted")
    graft.ops.Par.map(tasks)(_()).reduce(_.unionByName(_))
  }

  /** Complete the campaign PHYSICALLY: run each targeted family's
    * erasure-bearing compaction (each family's fold applies tombstones
    * while rewriting its base; the pure-deletion case rides each
    * family's vacuum arm). After this, [[attest]] reports every family
    * `physically_clean`. Run between streams, like all maintenance. */
  def erase(spark: SparkSession, t: Targets): Unit = {
    // five independent folds on five disjoint roots — run them
    // concurrently (guide §2.6); each fold holds its own root's lease
    val tasks: Seq[() => Unit] =
      t.lex.map(d =>
        () => graft.text.LexIndex.compactIndex(spark, d): Unit).toSeq ++
      t.ann.map(d => () => StreamingAnn.compactIndex(spark, d): Unit) ++
      t.pq.map(d => () => {
        graft.sim.PqIndex.compactIndex(spark, d): Unit
        // the IVF-PQ posting lists (when deployed under the same root)
        // are erased by their own vacuum rewrite
        if (Compaction.resolve(spark, d, "postings").isDefined)
          graft.sim.PqIndex.vacuumIvfPq(spark, d)
      }) ++
      t.dedup.map(d =>
        () => graft.text.Dedup.compactSignatureIndex(spark, d): Unit) ++
      t.graph.map(d =>
        () => graft.sim.GraphAnnIndex.compactIndex(spark, d): Unit)
    graft.ops.Par.map(tasks)(_()): Unit
  }

  /** RETENTION TRIM across the campaign — the administrative closeout
    * once the attestation is filed: drop every targeted family's
    * tombstone set. REFUSES up front if ANY family still hides physical
    * rows (a partial trim would leave the campaign half-terminal and the
    * dirty family's rows resurrectable), so run [[erase]] and file
    * [[attest]] first. After a trim the deleted ids are re-ingestable in
    * every family — terminality is consciously waived, as with each
    * family's own trim. */
  def trim(spark: SparkSession, t: Targets): Unit = {
    val pending = attest(spark, t).filter(!col("physically_clean"))
      .select("family").collect().map(_.getString(0))
    require(pending.isEmpty,
      s"takedown trim: erasure not yet physical in " +
        s"${pending.mkString(", ")} — run erase first")
    val tasks: Seq[() => Unit] =
      t.lex.map(d =>
        () => graft.text.LexIndex.trimTombstones(spark, d)).toSeq ++
      t.ann.map(d => () => StreamingAnn.trimTombstones(spark, d)) ++
      t.pq.map(d => () => graft.sim.PqIndex.trimTombstones(spark, d)) ++
      t.dedup.map(d => () => graft.text.Dedup.trimTombstones(spark, d)) ++
      t.graph.map(d => () => graft.sim.GraphAnnIndex.trimTombstones(spark, d))
    graft.ops.Par.map(tasks)(_()): Unit
  }
}
