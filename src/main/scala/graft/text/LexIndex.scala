package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored LEXICAL index — the BM25 counterpart of the stored IVF vector
  * index ([[graft.sim.Similarity.writeIvfIndex]]): the corpus's term
  * postings live on disk, maintenance appends per-batch increments, and
  * query-time scoring reads ONLY the partitions the query's terms hash to.
  *
  * Layout under `dir` (two [[graft.streaming.Compaction]] roots; `_v<K>`
  * is the generation the root's pointer names):
  * {{{
  *   postings/meta_v<K>/           n_buckets (the term-hash partitioner)
  *   postings/base_v<K>/bucket=B/  (term, doc_id, tf), term-hash-partitioned
  *   postings/increments/batch=N/  same schema, one dir per ingested batch
  *   doclens/base_v<K>/            (doc_id, dl) — BM25's length normalizer
  *   doclens/increments/batch=N/
  *   tombstones/...                deleted doc_ids ([[deleteBatch]])
  * }}}
  *
  * Why these statistics: (term, doc, tf) rows and (doc, dl) rows are the
  * COMPLETE sufficient statistics of BM25 — df(term) counts postings rows,
  * N counts doclens rows, avgdl averages dl — and for an append-only corpus
  * they are union-distributive: a new batch contributes exactly its own
  * rows and touches nothing (the [[graft.streaming.StreamingAnn]]
  * frozen-centroid contract, with disjoint-row union instead of frozen
  * assignment). So the maintained index scores IDENTICALLY to a
  * from-scratch [[Retrieval.bm25]] over everything ingested — the q323
  * oracle is q102's, shared — and a retried batch restates its own
  * increment directory (never `mode(append)`, which would double rows).
  *
  * At 100 TB: the postings scan for a query is PARTITION PRUNING — the
  * query's terms hash to a parameter-bounded bucket list pushed as an
  * `isin` partition filter, so untouched term buckets never open (the
  * [[Dedup.writeSignatureIndex]] trick on the lexical axis). Doclens is
  * docs×12 B. Increment trees fold with [[compactIndex]]
  * ([[graft.streaming.Compaction.foldIncrements]], per root).
  */
object LexIndex {

  /** Per-(term, doc) term frequencies of a doc batch — [[Retrieval.bm25]]'s
    * tokenization verbatim (normalize → whitespace tokens); empty tokens
    * are dropped (no query term is empty, and doc length comes from
    * [[docLengths]], not from summing postings). */
  def postings(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"),
        explode(TextOps.tokens(TextOps.normalize(col(text)))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Per-doc token counts — `size` of the SAME token array [[Retrieval.bm25]]
    * measures (empty tokens included, exactly as there). */
  def docLengths(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"),
      size(TextOps.tokens(TextOps.normalize(col(text)))).cast("long")
        .as("dl"))

  private def bucketOf(term: org.apache.spark.sql.Column,
                       nBuckets: Int): org.apache.spark.sql.Column =
    pmod(TextOps.h64(term), lit(nBuckets.toLong)).cast("int")

  /** The index's bucket width, resolved through the postings root's
    * pointer — meta lives beside the postings base, and a [[rebuildIndex]]
    * flips both together (the modulus must match the layout). */
  private def nBucketsOf(spark: SparkSession, dir: String): Int =
    spark.read.parquet(graft.streaming.Compaction
        .view(spark, s"$dir/postings").path("meta"))
      .select("n_buckets").head().getInt(0)

  /** (doc_id, _toks) — the tokenization both statistics derive from.
    * The index build consumes it twice (postings + doclens), so the
    * writers cut it lazily: one parquet scan + one normalize/tokenize
    * pass instead of two, with the blocks freed when the plan drops. */
  private def tokenized(docs: DataFrame, id: String,
                        text: String): DataFrame =
    graft.ops.Checkpoint.cut(docs.select(col(id).as("doc_id"),
        TextOps.tokens(TextOps.normalize(col(text))).as("_toks")),
      eager = false)

  private def postingsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("_toks")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  private def docLengthsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("_toks")).cast("long").as("dl"))

  /** Write the base index over a corpus: meta + postings base in one
    * generation of the postings root, the doclens base in its own. */
  def writeIndex(docs: DataFrame, id: String, text: String, dir: String,
                 nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    val toks = tokenized(docs, id, text)
    publishPostings(postingsOf(toks), nBuckets, dir, -1L)
    publishDocLens(docLengthsOf(toks), dir, -1L)
  }

  /** Publish `postings` bucketed at width `nBuckets` together with the
    * meta naming that width (one pointer commit: a modulus routing over
    * another layout would prune to garbage); `wm` is the folded
    * watermark the new base subsumes (-1 for a seed). */
  private def publishPostings(postings: DataFrame, nBuckets: Int,
                              dir: String, wm: Long): Unit = {
    val spark = postings.sparkSession
    import spark.implicits._
    graft.streaming.Compaction.publish(spark, s"$dir/postings",
        Seq("base", "meta")) { out =>
      Seq(nBuckets).toDF("n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(out("meta"))
      postings.withColumn("bucket", bucketOf(col("term"), nBuckets))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out("base"))
      graft.streaming.Compaction.stampWatermark(spark, out("base"), wm)
    }
  }

  private def publishDocLens(docLens: DataFrame, dir: String,
                             wm: Long): Unit =
    graft.streaming.Compaction.publish(docLens.sparkSession,
        s"$dir/doclens", Seq("base")) { out =>
      docLens.write.mode("overwrite").parquet(out("base"))
      graft.streaming.Compaction.stampWatermark(docLens.sparkSession,
        out("base"), wm)
    }

  /** Append one batch as its own increment directories — idempotent:
    * a retried batch OVERWRITES exactly its own `batch=<id>` dirs
    * (restatement, never duplication). */
  def appendBatch(batch: DataFrame, id: String, text: String, dir: String,
                  batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    import graft.streaming.Compaction
    val nBuckets = nBucketsOf(spark, dir)
    // a batch replayed AFTER compaction folded its increments would
    // re-land rows the bases already own — drop each root independently
    // (an all-blank batch skips its postings increment, so the two
    // watermarks can differ)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val toks = tokenized(batch, id, text) // one pass feeds both roots
    if (!Compaction.isFolded(spark, s"$dir/postings", batchId)) {
      // an all-blank batch yields zero postings rows; writing the empty
      // PARTITIONED frame would leave a file-less batch dir that breaks
      // the union read (the appendSignatureIndex guard). Land into a
      // hidden `_tmp` sibling (ONE job — no separate isEmpty pass that
      // recomputes the aggregation), then promote it iff the write
      // produced bucket directories; its doclens still land either way,
      // so the docs count toward N/avgdl.
      val tmp = new Path(s"$dir/postings/increments/_tmp_batch_$batchId")
      postingsOf(toks)
        .withColumn("bucket", bucketOf(col("term"), nBuckets))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
      val dst = new Path(s"$dir/postings/increments/batch=$batchId")
      if (fs.listStatus(tmp).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("bucket="))) {
        fs.delete(dst, true) // restatement: replace this batch's own dir
        require(fs.rename(tmp, dst), s"appendBatch: rename $tmp -> $dst failed")
      } else fs.delete(tmp, true): Unit
    }
    if (!Compaction.isFolded(spark, s"$dir/doclens", batchId))
      docLengthsOf(toks)
        .write.mode("overwrite")
        .parquet(s"$dir/doclens/increments/batch=$batchId")
  }

  /** DELETE documents from the index — a takedown lands as a TOMBSTONE
    * increment ([[graft.streaming.Tombstones]]): logically gone from the
    * next read (both read paths anti-join the tombstone set, so tf, df,
    * N and avgdl all reflect the filtered corpus — BM25 after a delete is
    * value-identical to a from-scratch index over the corpus minus the
    * deleted docs), physically gone at the next [[compactIndex]] (the
    * fold rewrites both bases without the tombstoned rows). Deletion is
    * TERMINAL: a later batch re-ingesting a deleted doc_id is suppressed
    * forever — a re-crawl cannot silently resurrect removed content.
    * Returns true iff the batch landed (false = dropped by the fold
    * watermark — manual batch ids must be monotone per index). */
  def deleteBatch(docIds: DataFrame, dir: String, batchId: Long): Boolean =
    graft.streaming.Tombstones.append(docIds, dir, batchId)

  /** PREDICATE-SHAPED DELETE resolved against the CORPUS metadata —
    * the domain-takedown case ("delete everything from source X"):
    * filter the metadata frame, land the surviving ids as a normal
    * tombstone batch ([[graft.streaming.Tombstones.deleteWhere]]). */
  def deleteWhere(corpus: DataFrame, idCol: String,
                  pred: org.apache.spark.sql.Column, dir: String,
                  batchId: Long): Boolean =
    graft.streaming.Tombstones.deleteWhere(corpus, idCol, pred, dir, batchId)

  /** PREDICATE-SHAPED DELETE resolved against the LIVE ARTIFACT — the
    * content-shaped takedown ("delete every document containing term T",
    * the keyword-triggered removal a lexical index can answer itself):
    * the resolution is a BUCKET-PRUNED postings probe (the terms' hash
    * buckets push as an `isin` partition filter, exactly the
    * [[bm25Indexed]] scan — untouched term buckets never open), its
    * distinct doc_ids land as a normal tombstone batch. At 100 TB the
    * resolution cost is the probe of |terms| buckets, never a corpus
    * scan. Returns the landed/dropped signal. */
  def deleteWhereTermMatches(spark: SparkSession, dir: String,
                             terms: Seq[String], batchId: Long): Boolean = {
    require(terms.nonEmpty, "need at least one takedown term")
    val nBuckets = nBucketsOf(spark, dir)
    import spark.implicits._
    val buckets = terms.toDF("term")
      .select(bucketOf(col("term"), nBuckets)).distinct()
      .collect().map(_.getInt(0)).toSeq
    val ids = readPostings(spark, dir)
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isin(terms: _*))
      .select("doc_id").distinct()
    graft.streaming.Tombstones.append(ids, dir, batchId)
  }

  private def unionParts(spark: SparkSession, root: String,
                         cols: Seq[String]): DataFrame =
    // snapshot-isolated: one view resolves the base generation and its
    // watermark together, and folded-but-in-grace increments are pruned
    // by the batch partition column (stale dirs never open)
    graft.streaming.Compaction.view(spark, root).read(cols).getOrElse(
      sys.error(s"no maintained index root at $root"))

  /** The maintained postings (term, doc_id, tf, bucket): base + every
    * increment, minus tombstoned docs (broadcast anti-join — left-side
    * bucket filters still reach the scan as partition filters). */
  def readPostings(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Tombstones.applyTo(
      unionParts(spark, s"$dir/postings",
        Seq("term", "doc_id", "tf", "bucket")), dir, "doc_id")

  /** The maintained doc lengths (doc_id, dl): base + every increment,
    * minus tombstoned docs — so N and avgdl reflect the live corpus. */
  def readDocLens(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Tombstones.applyTo(
      unionParts(spark, s"$dir/doclens", Seq("doc_id", "dl")), dir, "doc_id")

  /** BM25 over the STORED index — value-identical to
    * [[Retrieval.bm25]](everything ingested, `terms`) because the stored
    * rows ARE that computation's sufficient statistics and the scoring
    * tail is shared code ([[Retrieval.bm25Score]]).
    *
    * The postings scan is bucket-PRUNED: the query terms' buckets are a
    * parameter-bounded driver list pushed as an `isin` partition filter
    * (PartitionFilters, spec-asserted) — untouched term buckets never
    * open. Doclens joins in per matching doc; corpus stats (N, avgdl)
    * aggregate the doc-sized doclens frame. */
  def bm25Indexed(spark: SparkSession, dir: String, terms: Seq[String],
                  k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val nBuckets = nBucketsOf(spark, dir)
    import spark.implicits._
    // terms-bounded driver work: which buckets can hold the query terms
    val buckets = terms.toDF("term")
      .select(bucketOf(col("term"), nBuckets)).distinct()
      .collect().map(_.getInt(0)).toSeq
    val dls = readDocLens(spark, dir)
    val stats = dls.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl").cast("decimal(28,6)")).cast("double") / count(lit(1)))
        .as("avgdl"))
    val tf = readPostings(spark, dir)
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isin(terms: _*))
      .join(dls, "doc_id")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    Retrieval.bm25Score(tf, "doc_id", stats, k1, b)
  }

  /** FILTERED BM25 over the stored index — search-within-a-tenant on the
    * lexical axis, completing the tier matrix the vector families carry
    * (graph/PQ/IVF-PQ/IVF/streaming-layout `searchFiltered`). The doc
    * predicate `pred` (over `doc_id`) restricts BOTH the postings rows
    * AND the corpus statistics (df, N, avgdl), so scores are value-
    * identical to a from-scratch BM25 over the tenant's corpus alone —
    * the same semantic a delete gives permanently, applied per query.
    * Excluded docs neither score nor dilute idf with foreign document
    * frequencies. The postings scan keeps the bucket partition prune
    * (the predicate composes with it, never replaces it); the doclens
    * pass is tenant-docs-sized. */
  def bm25IndexedFiltered(spark: SparkSession, dir: String,
                          terms: Seq[String],
                          pred: org.apache.spark.sql.Column,
                          k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val nBuckets = nBucketsOf(spark, dir)
    import spark.implicits._
    val buckets = terms.toDF("term")
      .select(bucketOf(col("term"), nBuckets)).distinct()
      .collect().map(_.getInt(0)).toSeq
    val dls = readDocLens(spark, dir).filter(pred)
    val stats = dls.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl").cast("decimal(28,6)")).cast("double") / count(lit(1)))
        .as("avgdl"))
    val tf = readPostings(spark, dir)
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isin(terms: _*) && pred)
      .join(dls, "doc_id")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    Retrieval.bm25Score(tf, "doc_id", stats, k1, b)
  }

  /** ERASURE AUDIT — the compliance readout a takedown needs: how many
    * ids are tombstoned, and do the PHYSICAL bytes (base ∪ increments,
    * read without the anti-join) still hold any of their rows. A
    * `physically_clean = false` row means the deletion is logically in
    * force but the content still exists on disk awaiting the next
    * [[compactIndex]]; `true` is the state an erasure attestation can
    * cite. One row — and ONE lazy plan: the three counters are one-row
    * aggregates composed by broadcast cross join, so the audit costs a
    * single Spark action when consumed (and a five-family
    * [[graft.streaming.Takedown.attest]] unions five of these into ONE
    * job) instead of an eager count per counter. */
  def erasureAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Tombstones
    Tombstones.countDf(spark, dir, "n_tombstones")
      .crossJoin(broadcast(Tombstones.hiddenRowCountDf(
        unionParts(spark, s"$dir/postings",
          Seq("term", "doc_id", "tf", "bucket")), dir, "doc_id",
        "postings_rows_hidden")))
      .crossJoin(broadcast(Tombstones.hiddenRowCountDf(
        unionParts(spark, s"$dir/doclens", Seq("doc_id", "dl")), dir,
        "doc_id", "doclens_rows_hidden")))
      .select(col("n_tombstones"), col("postings_rows_hidden"),
        col("doclens_rows_hidden"),
        (col("postings_rows_hidden") === 0L &&
          col("doclens_rows_hidden") === 0L).as("physically_clean"))
  }

  /** RETENTION TRIM of the tombstone set — the administrative action the
    * audit enables: once [[erasureAudit]] attests `physically_clean`
    * (and the attestation is filed), the tombstones themselves can be
    * dropped. REFUSES while any physical row is still hidden (trimming
    * then would resurrect deleted content at the next read). After a
    * trim, previously-deleted doc_ids are re-ingestable — terminality is
    * consciously waived by this call. */
  def trimTombstones(spark: SparkSession, dir: String): Unit = {
    val audit = erasureAudit(spark, dir).head()
    require(audit.getBoolean(audit.fieldIndex("physically_clean")),
      s"trimTombstones($dir): erasure not yet physical — " +
        s"${audit.getLong(1)} postings rows and ${audit.getLong(2)} " +
        "doclens rows still hidden; run compactIndex first")
    graft.streaming.Tombstones.clear(spark, dir)
  }

  /** LEXICAL-STATS DRIFT of the maintained index — the aging monitor for
    * the lexical axis (the [[graft.sim.PqIndex.codeUsageDrift]] contract
    * on text), computed from the stored index alone: does the streamed-in
    * text still look like the corpus the base was built over?
    *
    * One row, exact-integer counts with single-rounded quotients:
    *  - `n_docs_base` / `n_docs_inc`, `avgdl_base` / `avgdl_inc` — the
    *    length/volume shift (BM25's normalizer moving under the scores);
    *  - `oov_term_frac` — fraction of the increments' DISTINCT terms the
    *    base vocabulary has never seen (domain shift shows up here first:
    *    new jargon, new language, new boilerplate);
    *  - `oov_occ_frac` — the same mass-weighted (occurrences of unseen
    *    terms / all increment occurrences), robust to long-tail noise.
    *
    * Scale shape: two postings aggregates (term-distinct on each side, a
    * broadcast-able anti-join on the term sets) and two doclens
    * aggregates — never doc-pair work, output is ONE row. NULL fractions
    * when no increment postings exist (nothing has streamed in: nothing
    * to compare). Tombstoned docs are excluded from both sides, exactly
    * as the scoring read path excludes them. */
  def statsDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{Compaction, Tombstones}
    // base and increments are SEPARATE directory trees — read each side
    // directly rather than splitting the union with a corpus-sized join
    // (a membership join on the base doc set would need to broadcast or
    // shuffle billions of ids at scale; a directory read needs neither)
    def side(root: String, cols: Seq[String], base: Boolean): DataFrame = {
      val v = Compaction.view(spark, root)
      val df =
        if (base) v.readBase(cols).getOrElse(
          sys.error(s"no maintained index root at $root"))
        else v.readIncrements(cols).getOrElse(
          // no increments yet: empty frame, schema from the base
          v.readBase(cols).map(_.limit(0)).getOrElse(
            sys.error(s"no maintained index root at $root")))
      Tombstones.applyTo(df, dir, "doc_id")
    }
    val pCols = Seq("term", "doc_id", "tf")
    val bPost = side(s"$dir/postings", pCols, base = true)
    val iPost = side(s"$dir/postings", pCols, base = false)
    val bDl = side(s"$dir/doclens", Seq("doc_id", "dl"), base = true)
    val iDl = side(s"$dir/doclens", Seq("doc_id", "dl"), base = false)
    def dlAgg(df: DataFrame, suffix: String): DataFrame = df.agg(
      count(lit(1)).as(s"n_docs_$suffix"),
      round(sum(col("dl").cast("decimal(28,6)")).cast("double") /
        count(lit(1)), 6).as(s"avgdl_$suffix"))
    val baseVocab = bPost.select("term").distinct()
    val incTerms = iPost.groupBy("term")
      .agg(sum(col("tf")).cast("long").as("occ"))
    val oov = incTerms.join(baseVocab, Seq("term"), "left_anti")
    val fracs = incTerms.agg(
        count(lit(1)).as("n_terms"), sum(col("occ")).as("n_occ"))
      .crossJoin(oov.agg(count(lit(1)).as("oov_terms"),
        coalesce(sum(col("occ")), lit(0L)).as("oov_occ")))
      .select(
        when(col("n_terms") > 0, round(col("oov_terms").cast("double") /
          col("n_terms"), 6)).as("oov_term_frac"),
        when(col("n_occ") > 0, round(col("oov_occ").cast("double") /
          col("n_occ"), 6)).as("oov_occ_frac"))
    dlAgg(bDl, "base").crossJoin(dlAgg(iDl, "inc")).crossJoin(fracs)
  }

  /** Fold both increment trees into new bases —
    * [[graft.streaming.Compaction.foldIncrements]] per root; reads are
    * identical before and after (union of disjoint rows is the read-path
    * merge). Returns (postings increments folded, doclens increments
    * folded); run between streams. */
  def compactIndex(spark: SparkSession, dir: String): (Int, Int) = {
    import graft.streaming.Tombstones
    // fold the tombstone increments first so the data folds below apply
    // ONE folded set (and the tombstone read path stays union-narrow too)
    Tombstones.compact(spark, dir)
    // the append-only-per-LIVE-doc contract check runs BEFORE either root
    // folds: a violation found mid-fold (after the postings base had
    // already been rewritten with the duplicate's merged fragments) would
    // leave the index permanently half-folded with no repair path — fail
    // while everything is still intact. Runs on the tombstone-FILTERED
    // doclens (re-ingesting a DELETED doc is suppressed, never an error,
    // identically before and after its physical removal)
    val dup = readDocLens(spark, dir)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"duplicate doc_id '${if (dup.isEmpty) "" else dup.head.get(0)}' " +
        s"in $dir: a document was ingested in more than one batch — " +
        "the lexical index contract is append-only per doc_id")
    val p = graft.streaming.Compaction.foldIncrements(spark,
        s"$dir/postings") { (base, incs) =>
      // tombstones apply inside the fold: the new base is written WITHOUT
      // the deleted docs' rows — the physical erasure a takedown requires
      Tombstones.applyTo((base.toSeq ++ incs)
        .map(x => spark.read.parquet(x)
          .select("term", "doc_id", "tf", "bucket"))
        .reduce(_.unionByName(_)), dir, "doc_id")
    } { (df, out) =>
      df.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
    }
    val d = graft.streaming.Compaction.foldIncrements(spark,
        s"$dir/doclens") { (base, incs) =>
      // the dup guard already ran above, before any root committed
      Tombstones.applyTo((base.toSeq ++ incs)
        .map(x => spark.read.parquet(x).select("doc_id", "dl"))
        .reduce(_.unionByName(_)), dir, "doc_id")
    } { (df, out) => df.write.mode("overwrite").parquet(out) }
    // pure deletion campaign: nothing folded but tombstoned rows remain
    // physically in a base — vacuum each root through the same publish
    def needsVacuum(root: String): Boolean =
      graft.streaming.Compaction.resolve(spark, root, "base").exists(b =>
        Tombstones.needsVacuum(spark.read.parquet(b), dir, "doc_id"))
    if (p == 0 && needsVacuum(s"$dir/postings"))
      graft.streaming.Compaction.rewriteBase(spark, s"$dir/postings")(df =>
        Tombstones.applyTo(df.select("term", "doc_id", "tf", "bucket"),
          dir, "doc_id")) { (df, out) =>
        df.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(out)
      }
    if (d == 0 && needsVacuum(s"$dir/doclens"))
      graft.streaming.Compaction.rewriteBase(spark, s"$dir/doclens")(df =>
        Tombstones.applyTo(df.select("doc_id", "dl"), dir, "doc_id")) {
        (df, out) => df.write.mode("overwrite").parquet(out)
      }
    (p, d)
  }

  /** Compaction trigger: fold iff more than `maxIncrements` increment
    * directories have accumulated under EITHER root (postings and doclens
    * fold together — their watermarks stay aligned and the read-side
    * union width stays bounded). */
  def compactIndexIfNeeded(spark: SparkSession, dir: String,
                           maxIncrements: Int): (Int, Int) = {
    import graft.streaming.{Compaction, Tombstones}
    if (Compaction.incrementCount(spark, s"$dir/postings") > maxIncrements ||
        Compaction.incrementCount(spark, s"$dir/doclens") > maxIncrements ||
        Tombstones.incrementCount(spark, dir) > maxIncrements)
      compactIndex(spark, dir)
    else (0, 0)
  }

  /** Target postings rows per bucket directory for [[deriveBuckets]]: at
    * ~30 B/row this keeps bucket directories near healthy parquet sizes
    * while a query's `isin` partition filter still prunes ~all of the
    * corpus for a handful of terms. */
  val DefaultPostingsPerBucket: Long = 50L * 1000 * 1000

  /** Re-derive the bucket-partition width from the LIVE postings volume —
    * the lexical index's one frozen layout knob ([[graft.text.Dedup
    * .deriveBuckets]]'s rule on the lexical axis). [[writeIndex]] sizes
    * it once at seed time (default 64); a corpus that has since grown
    * 100× leaves every query opening term buckets 100× fatter than the
    * layout promised. Rule: rows / `targetPostingsPerBucket` rounded UP
    * to the next power of two, clamped to [64, 2²⁰] — power-of-two so a
    * rebuild at the same scale reproduces the same width (no flapping).
    */
  def deriveBuckets(livePostings: Long,
                    targetPostingsPerBucket: Long =
                      DefaultPostingsPerBucket): Int = {
    require(targetPostingsPerBucket > 0,
      "targetPostingsPerBucket must be positive")
    val want = math.max(1L,
      (livePostings + targetPostingsPerBucket - 1) / targetPostingsPerBucket)
    val p2 = if (want <= 1L) 1L
             else java.lang.Long.highestOneBit(want - 1L) << 1
    math.min(1L << 20, math.max(64L, p2)).toInt
  }

  /** REBUILD the stored lexical index under a FRESH LAYOUT — the act arm
    * behind [[statsDrift]]'s monitor ([[graft.sim.GraphAnnIndex
    * .rebuildIndex]]'s contract on the lexical axis). The tokenization
    * never changes — what ages is the LAYOUT (the bucket width was sized
    * for the seed corpus) and the monitor's reference (the stale base
    * vocabulary, against which a grown or shifted corpus reads as
    * permanent OOV drift). The rebuild folds base ∪ increments ∪
    * tombstones of BOTH roots into new bases, re-buckets the postings at
    * the [[deriveBuckets]] width, and re-baselines the monitor
    * (increments empty → nothing to compare until new data streams).
    *
    * Atomicity: meta and the postings base flip TOGETHER in one
    * [[graft.streaming.Compaction.publish]] pointer commit (a new
    * modulus routing over old bucket directories would prune to garbage),
    * with the whole rebuild serialized on the POSTINGS write lease — the
    * same lease every postings fold takes. The doclens base flips in its
    * own root's commit immediately after; a reader between the two
    * commits sees the new postings with the un-folded doclens — value-
    * wise the identical corpus (fold is a union of disjoint rows), never
    * a torn one. Tombstone TERMINALITY survives: both new bases are the
    * tombstone-filtered live reads and the tombstone set is untouched.
    * Run between streams. */
  def rebuildIndex(spark: SparkSession, dir: String,
                   targetPostingsPerBucket: Long =
                     DefaultPostingsPerBucket): Unit = {
    import graft.streaming.{Compaction, Tombstones}
    Compaction.withWriteLease(spark, s"$dir/postings") {
      spark.catalog.refreshByPath(dir)
      Tombstones.compact(spark, dir)
      // the append-only-per-LIVE-doc contract check, BEFORE any root
      // commits (compactIndex's guard, for the same reason)
      val dup = readDocLens(spark, dir)
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"duplicate doc_id '${if (dup.isEmpty) "" else dup.head.get(0)}' " +
          s"in $dir: a document was ingested in more than one batch — " +
          "the lexical index contract is append-only per doc_id")
      val subP = (Compaction.foldedWatermark(spark, s"$dir/postings") +:
        Compaction.incrementIds(spark, s"$dir/postings")).max
      val subD = (Compaction.foldedWatermark(spark, s"$dir/doclens") +:
        Compaction.incrementIds(spark, s"$dir/doclens")).max
      // live postings: tombstone-filtered base ∪ increments — exactly the
      // frame every query reads; one materialization feeds the width
      // count and the rewrite
      val live = graft.ops.Checkpoint.cut(
        readPostings(spark, dir).drop("bucket"), eager = false)
      publishPostings(live,
        deriveBuckets(live.count(), targetPostingsPerBucket), dir, subP)
      Compaction.gcIncrements(spark, s"$dir/postings")
      publishDocLens(readDocLens(spark, dir), dir, subD)
      Compaction.gcIncrements(spark, s"$dir/doclens")
      spark.catalog.refreshByPath(dir)
    }
  }

  /** The closed drift loop on the lexical axis ([[graft.sim.GraphAnnIndex
    * .rebuildIfDrifted]] / [[graft.sim.PqIndex.retrainIndexIfDrifted]] /
    * [[graft.streaming.StreamingAnn.reclusterIfDrifted]]'s contract):
    * when [[statsDrift]] shows the streamed-in text no longer looking
    * like the base corpus — OOV occurrence mass above `maxOovOccFrac`,
    * or the increments grown past `maxGrowthFrac` of the base's doc
    * count (the layout-aging signal: width was sized from the base) —
    * rebuild under the re-derived layout via [[rebuildIndex]] and return
    * true. Below both thresholds (or with nothing streamed in) the index
    * is untouched. Each knob defaults to disabled so a caller monitors
    * exactly the axes it cares about. */
  def rebuildIfDrifted(spark: SparkSession, dir: String,
                       maxOovOccFrac: Double = Double.PositiveInfinity,
                       maxGrowthFrac: Double = Double.PositiveInfinity,
                       targetPostingsPerBucket: Long =
                         DefaultPostingsPerBucket): Boolean = {
    import graft.streaming.Compaction
    if (Compaction.incrementCount(spark, s"$dir/postings") == 0 &&
        Compaction.incrementCount(spark, s"$dir/doclens") == 0) return false
    val r = statsDrift(spark, dir).head()
    def d(n: String): Double = {
      val i = r.fieldIndex(n)
      if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    }
    val growth = r.getLong(r.fieldIndex("n_docs_inc")).toDouble /
      math.max(1L, r.getLong(r.fieldIndex("n_docs_base"))).toDouble
    val breached = d("oov_occ_frac") > maxOovOccFrac ||
      growth > maxGrowthFrac
    if (breached) rebuildIndex(spark, dir, targetPostingsPerBucket)
    breached
  }
}
