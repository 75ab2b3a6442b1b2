package graft.sim

import graft.streaming.Compaction
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored PRODUCT-QUANTIZED index — the compressed serving tier of the
  * vector stack (Jégou et al.), maintained on disk like the IVF and
  * lexical stores: codes are a pure function of (vector, codebook), so
  * under a FROZEN codebook per-batch encoding DISTRIBUTES OVER UNION —
  * the [[graft.streaming.StreamingAnn]] frozen-centroid contract on the
  * compression axis — and the maintained code table searches identically
  * to a from-scratch encode of everything ingested (the q330 oracle
  * replays encode + ADC in SQL).
  *
  * Layout under `dir` (a [[graft.streaming.Compaction]] root; the code
  * table is itself a root nested in its generation):
  * {{{
  *   codebook_v<K>/       (s, c, i, w) — the m×ksub×dsub codebook as a
  *                        long frame any engine can read back exactly
  *   codes_v<K>/base_v<J>/          (vec_id, codes ARRAY<INT>)
  *   codes_v<K>/increments/batch=<id>/   idempotent per-batch landings
  * }}}
  *
  * At 100 TB the point is the footprint: a dim-64 float vector is 256 B,
  * its m=4 code array is 16 B — the ADC scan reads ~16× less than a raw
  * cosine scan, and the exact rerank fetches only the shortlist. All the
  * maintenance mechanics are [[graft.streaming.Compaction]]'s: folds are
  * crash-safe with the watermark (replayed batches drop at the sink, at
  * read time, and at fold time), and a RETRAIN — where codebook AND codes
  * must flip together or every stored code decodes against the wrong
  * centroids — is one multi-directory publish. */
object PqIndex {

  /** Codebook as a long (s, c, i, w) frame — exact doubles, fixed order. */
  private def codebookDf(spark: SparkSession,
                         cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.flatMap { case (cw, c) =>
        cw.zipWithIndex.map { case (w, i) => (s, c, i, w) } } }
      .toSeq.toDF("s", "c", "i", "w")
  }

  /** Read the codebook back as the in-memory array the search ops take —
    * a bounded collect (m·ksub·dsub doubles, parameters not data).
    * NOTE: anything that pairs the codebook with the code table must take
    * both from ONE [[Compaction.view]] ([[search]] does) — a concurrent
    * retrain flips them together, and mixed generations decode garbage. */
  def readCodebook(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    readCodebookFrom(Compaction.view(spark, dir))

  private def readCodebookFrom(
      v: Compaction.RootView): Array[Array[Array[Double]]] = {
    val rows = v.spark.read.parquet(v.path("codebook"))
      .select("s", "c", "i", "w").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val dsub = rows.map(_._3).max + 1
    val cb = Array.ofDim[Double](m, ksub, dsub)
    rows.foreach { case (s, c, i, w) => cb(s)(c)(i) = w }
    cb
  }

  /** Write the base index: the codebook plus the corpus's codes. */
  def writeIndex(corpus: DataFrame, id: String, emb: String,
                 codebooks: Array[Array[Array[Double]]], dir: String): Unit = {
    val spark = corpus.sparkSession
    Compaction.publish(spark, dir, Seq("codebook", "codes")) { out =>
      codebookDf(spark, codebooks).coalesce(1)
        .write.mode("overwrite").parquet(out("codebook"))
      publishCodes(Similarity.pqEncode(corpus, id, emb, codebooks),
        out("codes"), -1L)
    }
  }

  /** Seed a fresh code-table root with `codes` as its base, stamped with
    * the folded watermark `wm` it subsumes. */
  private def publishCodes(codes: DataFrame, root: String, wm: Long): Unit =
    Compaction.publish(codes.sparkSession, root, Seq("base")) { out =>
      codes.select("vec_id", "codes")
        .write.mode("overwrite").parquet(out("base"))
      Compaction.stampWatermark(codes.sparkSession, out("base"), wm)
    }

  /** Encode one batch under the STORED (frozen) codebook and land it as
    * its own increment — idempotent (a retried batch overwrites exactly
    * its own directory), and a batch already folded into the base is
    * dropped by the watermark guard. */
  def appendBatch(batch: DataFrame, id: String, emb: String, dir: String,
                  batchId: Long): Unit = {
    val spark = batch.sparkSession
    // one view: the codebook generation and the codes tree the increment
    // lands in must match (a retrain flips them together)
    val v = Compaction.view(spark, dir)
    val codes = v.path("codes")
    if (Compaction.isFolded(spark, codes, batchId)) return
    Similarity.pqEncode(batch, id, emb, readCodebookFrom(v))
      .select("vec_id", "codes")
      .write.mode("overwrite")
      .parquet(s"$codes/increments/batch=$batchId")
  }

  /** DELETE vectors from the stored PQ tier (takedown/opt-out) — a
    * tombstone increment under `dir`, shared by the flat code table and
    * the IVF-PQ posting lists rooted there ([[graft.streaming.Tombstones]]):
    * logically gone from the next [[search]]/[[searchIvfPq]], physically
    * erased at the next [[compactIndex]] / [[vacuumIvfPq]] / [[retrainIndex]]
    * base rewrite, terminal against re-ingest. Returns true iff the batch
    * landed (false = dropped by the fold watermark — manual batch ids
    * must be monotone per index). */
  def deleteBatch(ids: DataFrame, dir: String, batchId: Long): Boolean =
    graft.streaming.Tombstones.append(ids, dir, batchId)

  /** The maintained code table: base plus every LIVE increment (the
    * `batch` partition column prunes directories an in-grace fold already
    * owns), minus tombstoned vectors (broadcast anti-join). */
  def readCodes(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Tombstones.applyTo(
      rawCodes(Compaction.view(spark, dir)), dir, "vec_id")

  /** The physical code rows WITHOUT the tombstone anti-join — the
    * erasure audit's read. Resolves the codes tree from the caller's
    * root view, then takes an inner view of that tree (folds version the
    * base within it; retrains version the tree itself at the root). */
  private def rawCodes(v: Compaction.RootView): DataFrame =
    Compaction.view(v.spark, v.path("codes"))
      .read(Seq("vec_id", "codes")).getOrElse(
        sys.error(s"no PQ code table under ${v.root}"))

  /** ERASURE AUDIT for the PQ tier ([[graft.text.LexIndex.erasureAudit]]'s
    * readout on the compressed axis): tombstone count plus the physical
    * code rows the anti-join is hiding — across the flat code table AND
    * the IVF-PQ posting lists when present. `physically_clean = true` is
    * the attestation state (after [[compactIndex]] / [[vacuumIvfPq]] /
    * [[retrainIndex]]). */
  def erasureAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Tombstones
    val v = Compaction.view(spark, dir)
    // ONE lazy plan (broadcast cross join of one-row aggregates) — a
    // single action when consumed, unionable into the one-job
    // five-family attest (see LexIndex.erasureAudit)
    val flat =
      if (v.dir("codes").isDefined)
        Tombstones.hiddenRowCountDf(rawCodes(v), dir, "vec_id",
          "code_rows_hidden")
      else spark.range(1).select(lit(0L).as("code_rows_hidden"))
    val ivf = v.dir("postings") match {
      case Some(p) =>
        Tombstones.hiddenRowCountDf(spark.read.parquet(p), dir, "vec_id",
          "posting_rows_hidden")
      case None => spark.range(1).select(lit(0L).as("posting_rows_hidden"))
    }
    Tombstones.countDf(spark, dir, "n_tombstones")
      .crossJoin(broadcast(flat))
      .crossJoin(broadcast(ivf))
      .select(col("n_tombstones"), col("code_rows_hidden"),
        col("posting_rows_hidden"),
        (col("code_rows_hidden") === 0L && col("posting_rows_hidden") === 0L)
          .as("physically_clean"))
  }

  /** ADC search over the maintained code table —
    * [[Similarity.annPq]]'s per-query LUT + binned ascending selection
    * over base ∪ increments. Codebook and codes resolve from ONE
    * [[Compaction.view]]: a concurrent retrain flips them together, so
    * the search can never pair a fresh codebook with stale codes. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             id: String, emb: String, k: Int): DataFrame = {
    val v = Compaction.view(spark, dir)
    Similarity.annPq(
      graft.streaming.Tombstones.applyTo(rawCodes(v), dir, "vec_id"),
      readCodebookFrom(v), queries, id, emb, k)
  }

  /** FILTERED ADC search — the "search within a tenant" serving query on
    * the compressed tier ([[Similarity.annIvfIndexedFiltered]]'s contract
    * on the PQ axis): `pred` (over the code-table columns — vec_id,
    * codes) applies INSIDE the code scan, before the LUT join, so
    * excluded vectors never even score — never a post-filter of an
    * unfiltered top-k. At 100 TB the predicate rides the 16 B/row code
    * scan (and pushes into the parquet read when it is a plain column
    * predicate), so a tenant search costs selectivity × the full scan. */
  def searchFiltered(spark: SparkSession, dir: String, queries: DataFrame,
                     id: String, emb: String,
                     pred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val v = Compaction.view(spark, dir)
    Similarity.annPq(
      graft.streaming.Tombstones.applyTo(rawCodes(v), dir, "vec_id")
        .filter(pred),
      readCodebookFrom(v), queries, id, emb, k)
  }

  /** Fold the code increments into a new base — disjoint-row union is
    * the read-path merge, so [[search]] before ≡ after. Tombstones fold
    * first and apply inside the data fold (physical erasure); a pure
    * deletion campaign with nothing to fold gets the vacuum arm. */
  def compactIndex(spark: SparkSession, dir: String): Int = {
    import graft.streaming.Tombstones
    Tombstones.compact(spark, dir)
    // an IVF-PQ-only dir (postings, no codes tree) can reach here via the
    // shared tombstone root — there is no flat table to fold or vacuum
    Compaction.resolve(spark, dir, "codes") match {
      case None => 0
      case Some(codes) =>
        val write = (df: DataFrame, out: String) =>
          df.write.mode("overwrite").parquet(out)
        val folded = Compaction.foldIncrements(spark, codes) {
          (base, incs) =>
            Tombstones.applyTo((base.toSeq ++ incs)
              .map(p => spark.read.parquet(p).select("vec_id", "codes"))
              .reduce(_.unionByName(_)), dir, "vec_id")
        } (write)
        if (folded == 0 && Compaction.resolve(spark, codes, "base").exists(
            b => Tombstones.needsVacuum(spark.read.parquet(b), dir, "vec_id")))
          Compaction.rewriteBase(spark, codes)(df =>
            Tombstones.applyTo(df.select("vec_id", "codes"), dir,
              "vec_id"))(write)
        folded
    }
  }

  /** Physically erase tombstoned vectors from the IVF-PQ posting lists —
    * the [[compactIndex]] vacuum arm for the cell-partitioned layout
    * (which is single-shot, so it has no fold to ride). No-op when the
    * base holds no tombstoned row. */
  def vacuumIvfPq(spark: SparkSession, dir: String): Unit = {
    import graft.streaming.Tombstones
    Tombstones.compact(spark, dir)
    if (Compaction.resolve(spark, dir, "postings").exists(p =>
        Tombstones.needsVacuum(spark.read.parquet(p), dir, "vec_id")))
      Compaction.rewriteBase(spark, dir, "postings")(df =>
        Tombstones.applyTo(df.select("vec_id", "codes", "cell"), dir,
          "vec_id")) { (df, out) =>
        df.write.mode("overwrite").partitionBy("cell").parquet(out)
      }
  }

  /** Compaction trigger: fold iff more than `maxIncrements` increment
    * directories (data or tombstone) have accumulated. An IVF-PQ-only
    * layout (postings tree, no flat `codes/`) has no fold to run — its
    * tombstone pressure routes to [[vacuumIvfPq]] instead. */
  def compactIndexIfNeeded(spark: SparkSession, dir: String,
                           maxIncrements: Int): Int = {
    val tombs = graft.streaming.Tombstones.incrementCount(spark, dir)
    Compaction.resolve(spark, dir, "codes") match {
      case None =>
        if (tombs > maxIncrements) vacuumIvfPq(spark, dir)
        0
      case Some(codes) =>
        if (Compaction.incrementCount(spark, codes) > maxIncrements ||
            tombs > maxIncrements) compactIndex(spark, dir)
        else 0
    }
  }

  /** CODE-USAGE DRIFT of the maintained index — the aging monitor for a
    * frozen codebook, computed from the stored codes alone (the raw
    * vectors are gone by design): per subspace, the L1 distance between
    * the base's codeword-usage distribution and the increments'. New data
    * that uses the codewords the way the training data did scores ~0;
    * data the codebook never saw piles onto few codewords and the
    * distance grows toward 2. Emits (s, l1_drift) per subspace — a
    * subspaces-sized frame from two scans of the code table.
    *
    * Engine-exact at any corpus size: each |cb/nb − ci/ni| term is two
    * IEEE divisions of exact integers (single-rounded, so bit-identical
    * across engines) quantized to DECIMAL(28,12) BEFORE the cross-row
    * sum (decimal addition is associative — partition-order-free) — the
    * q331 oracle recomputes it in SQL term for term. */
  def codeUsageDrift(spark: SparkSession, dir: String): DataFrame = {
    val cv = Compaction.view(spark, Compaction.view(spark, dir).path("codes"))
    def usage(df: DataFrame, name: String): DataFrame = {
      val long = df.select(posexplode(col("codes")).as(Seq("s", "code")))
      val tot = long.groupBy("s").agg(count(lit(1)).as(s"n_$name"))
      long.groupBy("s", "code").agg(count(lit(1)).as(s"c_$name"))
        .join(tot, "s")
    }
    val base = usage(cv.readBase(Seq("vec_id", "codes")).getOrElse(
      sys.error(s"no PQ code table under $dir")), "base")
    // no LIVE increments (none landed, or all folded-in-grace): compare
    // against an empty frame — callers gate on incrementCount first
    val inc = usage(cv.readIncrements(Seq("vec_id", "codes"))
      .orElse(cv.readBase(Seq("vec_id", "codes")).map(_.limit(0)))
      .getOrElse(sys.error(s"no PQ code table under $dir")), "inc")
    // full outer with COALESCED keys: a codeword used by only one side
    // must land under its real (s, code) — not under NULL keys, where it
    // would fall out of its subspace's window partition and its whole
    // probability mass would silently vanish from the distance (exactly
    // the one-sided case this monitor exists to catch; the q331 oracle's
    // `coalesce(b.s, i2.s)` is the same move in SQL)
    val joined = base.join(
        inc.withColumnRenamed("s", "s_i").withColumnRenamed("code", "code_i"),
        col("s") <=> col("s_i") && col("code") <=> col("code_i"), "full")
      .select(coalesce(col("s"), col("s_i")).as("s"),
        coalesce(col("c_base"), lit(0L)).as("cb"),
        coalesce(col("c_inc"), lit(0L)).as("ci"),
        col("n_base"), col("n_inc"))
    // per-s totals re-fill across the coalesced subspace (each side's
    // rows carry NULL totals for the other side); a side with NO rows in
    // a subspace has probability 0 there — coalesce(quotient, 0)
    joined
      .select(col("s"), col("cb"), col("ci"),
        max(col("n_base")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("s")).as("nb"),
        max(col("n_inc")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("s")).as("ni"))
      .withColumn("_d",
        abs(coalesce(col("cb").cast("double") / col("nb").cast("double"),
              lit(0.0)) -
            coalesce(col("ci").cast("double") / col("ni").cast("double"),
              lit(0.0)))
          .cast("decimal(28,12)"))
      .groupBy("s")
      .agg(round(sum(col("_d")).cast("double"), 6).as("l1_drift"))
  }

  /** RETRAIN the stored index under a fresh codebook learned from
    * `corpus` ([[Similarity.pqTrain]]) — the recluster arm of the PQ
    * lifecycle. Codebook and codes MUST flip together (every stored code
    * is an index into ITS codebook; mixing generations decodes garbage),
    * so both land as one [[Compaction.publish]]; the replacement code
    * tree holds only the new base, stamped with the watermark of the
    * increments it subsumes. Run between streams. */
  def retrainIndex(spark: SparkSession, dir: String, corpus: DataFrame,
                   id: String, emb: String, m: Int, ksub: Int,
                   maxIter: Int = 10): Unit = {
    val codes = Compaction.view(spark, dir).path("codes")
    spark.catalog.refreshByPath(dir)
    val prevWm = Compaction.foldedWatermark(spark, codes)
    val subsumedWm =
      (prevWm +: Compaction.incrementIds(spark, codes)).max
    // tombstoned vectors are excluded from the retrain corpus — the fresh
    // codebook trains on live data only and the re-encode is the
    // physical-erasure rewrite for this layout too
    val live = graft.streaming.Tombstones.applyTo(corpus, dir, id)
    val fresh = Similarity.pqTrain(live.select(col(id), col(emb)),
      emb, m, ksub, maxIter = maxIter)
    Compaction.publish(spark, dir, Seq("codebook", "codes")) { out =>
      codebookDf(spark, fresh).coalesce(1)
        .write.mode("overwrite").parquet(out("codebook"))
      // the replacement codes tree contains ONLY the new base: the old
      // increments encode against the OLD codebook and are subsumed by the
      // re-encode, so they die with the old tree's generation
      publishCodes(Similarity.pqEncode(live, id, emb, fresh), out("codes"),
        subsumedWm)
    }
    spark.catalog.refreshByPath(dir)
  }

  // ── IVF-PQ: the production composition (Jégou et al.'s IVFADC / the
  //    faiss IVFPQ layout). The posting lists carry CODES, not raw
  //    vectors: a probe partition-prunes to the routed cells and runs
  //    the LUT ADC over ~nProbe/nCells of the corpus at 16 B a row —
  //    both pruning axes at once. Raw vectors live wherever the caller
  //    reranks from; this store never reads them after the build.

  /** Write an IVF-PQ index: frozen centroids from the corpus's `cell`
    * column, each vector assigned to its nearest centroid and PQ-encoded,
    * posting lists landed cell-partitioned as (vec_id, codes, cell). */
  def writeIvfPq(corpus: DataFrame, id: String, emb: String, cell: String,
                 codebooks: Array[Array[Array[Double]]],
                 dir: String): Unit = {
    val spark = corpus.sparkSession
    val cents = Similarity.ivfCentroids(corpus, cell, emb)
    Compaction.publish(spark, dir,
        Seq("centroids", "codebook", "postings")) { out =>
      cents.write.mode("overwrite").parquet(out("centroids"))
      codebookDf(spark, codebooks).coalesce(1)
        .write.mode("overwrite").parquet(out("codebook"))
      // carry `cell` THROUGH the encode: the assignment (broadcast
      // centroid cross-join + per-vector rank window over the whole
      // corpus) runs once and no corpus-wide self-join re-attaches the
      // cell — one pass over the most expensive stage of the build
      Similarity.pqEncode(Similarity.ivfAssign(corpus, id, emb, cents),
          "vec_id", "v", codebooks, carry = Seq("cell"))
        .select("vec_id", "codes", "cell")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(out("postings"))
    }
  }

  /** Search the IVF-PQ store: route each query to its `nProbe` nearest
    * stored centroids, push the UNION of probed cells as a PARTITION
    * filter on the code posting lists (untouched cells never open), then
    * join each query to ITS OWN probed cells' codes — candidates are
    * per-query-faithful IVFADC, not the pruned union — and rank by the
    * LUT ADC through the binned ascending selection. */
  def searchIvfPq(spark: SparkSession, dir: String, queries: DataFrame,
                  id: String, emb: String, k: Int, nProbe: Int): DataFrame =
    searchIvfPqImpl(spark, dir, queries, id, emb, k, nProbe, None)

  /** FILTERED IVF-PQ search — [[searchFiltered]]'s contract composed
    * with the cell routing: `pred` applies INSIDE the probed posting
    * lists, after the partition prune and before the ADC, so only
    * surviving candidates score (q337's semantics on the IVFADC
    * layout).
    *
    * LOW-selectivity tenants get a mechanism ([[graft.sim.GraphAnnIndex
    * .searchFiltered]]'s contract on this tier): `bruteThreshold > 0`
    * arms an exact fallback — when at most that many code rows survive
    * the predicate (probed with a bounded `limit(threshold+1).count()`),
    * the cell routing is DROPPED and the ADC runs over every surviving
    * code (the flat-PQ exact scan, [[Similarity.annPq]]) — recall over a
    * tiny tenant no longer depends on its vectors landing in the probed
    * cells. 0 (the default) keeps the pure IVFADC path. */
  def searchIvfPqFiltered(spark: SparkSession, dir: String,
                          queries: DataFrame, id: String, emb: String,
                          pred: org.apache.spark.sql.Column, k: Int,
                          nProbe: Int, bruteThreshold: Int = 0): DataFrame =
    searchIvfPqImpl(spark, dir, queries, id, emb, k, nProbe, Some(pred),
      bruteThreshold)

  private def searchIvfPqImpl(spark: SparkSession, dir: String,
                              queries: DataFrame, id: String, emb: String,
                              k: Int, nProbe: Int,
                              pred: Option[org.apache.spark.sql.Column],
                              bruteThreshold: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.CosineSimilarity.register(spark)
    // one view: centroids, codebook and posting lists flip together
    val v = Compaction.view(spark, dir)
    for (p <- pred if bruteThreshold > 0) {
      val surv = graft.streaming.Tombstones.applyTo(
        spark.read.parquet(v.path("postings")), dir, "vec_id")
        .filter(p)
      if (surv.limit(bruteThreshold + 1).count() <= bruteThreshold)
        return Similarity.annPq(surv.select("vec_id", "codes"),
          readCodebookFrom(v), queries, id, emb, k)
    }
    val cents = spark.read.parquet(v.path("centroids"))
    val routed = queries.select(col(id).as("q_id"),
        Similarity.asDouble(emb).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
      .select("q_id", "cid")
    // |queries|·nProbe driver values — parameter-bounded, never data-sized
    val cells = routed.select("cid").distinct().collect().map(_.get(0))
    val cb = readCodebookFrom(v)
    val routedLut = routed
      .join(Similarity.pqLutFrame(queries, id, emb, cb), "q_id")
    val cand = pred.foldLeft(graft.streaming.Tombstones.applyTo(
        spark.read.parquet(v.path("postings")), dir, "vec_id"))(_.filter(_))
      .filter(col("cell").isInCollection(cells))
      .join(broadcast(routedLut), col("cell") === col("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", Similarity.pqAdistCol(cb.length))
      .select("q_id", "vec_id", "adist")
    Similarity.topKPerQuery(cand, "adist", k, descending = false)
      .select("q_id", "vec_id", "adist", "rank")
  }

  /** RETENTION TRIM of the tombstone set — refuses while the audit
    * shows hidden code or posting rows (trimming then would resurrect
    * them); after a trim, deleted vec_ids are re-ingestable (terminality
    * consciously waived — see [[graft.text.LexIndex.trimTombstones]]). */
  def trimTombstones(spark: SparkSession, dir: String): Unit = {
    val audit = erasureAudit(spark, dir).head()
    require(audit.getBoolean(audit.fieldIndex("physically_clean")),
      s"trimTombstones($dir): erasure not yet physical — " +
        s"${audit.getLong(1)} code rows and ${audit.getLong(2)} posting " +
        "rows still hidden; run compactIndex / vacuumIvfPq first")
    graft.streaming.Tombstones.clear(spark, dir)
  }

  /** The drift-triggered retrain: when any subspace's
    * [[codeUsageDrift]] breaches `maxL1`, retrain from `corpus` and
    * return true; below threshold the index is untouched (the
    * [[Similarity.reclusterIvfIndexIfDrifted]] contract on the
    * compression axis). */
  def retrainIndexIfDrifted(spark: SparkSession, dir: String,
                            corpus: DataFrame, id: String, emb: String,
                            m: Int, ksub: Int, maxL1: Double): Boolean = {
    // no LIVE increments (e.g. right after compactIndexIfNeeded in
    // the documented maintenance loop): nothing new to compare the base
    // against — not drifted, not an error
    if (Compaction.resolve(spark, dir, "codes")
        .forall(Compaction.incrementCount(spark, _) == 0)) return false
    val breached = codeUsageDrift(spark, dir)
      .filter(col("l1_drift") > maxL1).limit(1).count() > 0
    if (breached) retrainIndex(spark, dir, corpus, id, emb, m, ksub)
    breached
  }
}
