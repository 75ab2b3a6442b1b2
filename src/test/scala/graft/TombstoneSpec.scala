package graft

import graft.sim.Similarity
import graft.streaming.{Compaction, StreamingAnn, Tombstones}
import graft.text.{LexIndex, Retrieval}
import org.apache.spark.sql.functions._

/** DELETE support for the maintained artifacts ([[graft.streaming.Tombstones]]):
  * a tombstone makes the rows logically gone from the next read, compaction /
  * recluster makes them physically gone from the base bytes, deletion is
  * terminal (a re-ingested deleted id stays dead), and the landing is
  * replay-safe like every other increment in the family. */
class TombstoneSpec extends SparkSpec {

  private val terms = Seq("join", "hash", "filter", "stream")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def bmSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The LIVE physical directory of a maintained name — post-maintenance
    * the superseded generation may still exist in grace with stale bytes,
    * so physical-erasure assertions must resolve the pointer. */
  private def live(root: String, name: String): String =
    Compaction.resolve(spark, root, name).get

  test("lex index: delete is logically immediate, physically applied at " +
       "compaction, and terminal against re-ingest") {
    val idx = tmp("graft_lexdel")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    LexIndex.writeIndex(docs.filter(col("doc_id") % 3 =!= 2), "doc_id",
      "text", idx)
    LexIndex.appendBatch(docs.filter(col("doc_id") % 3 === 2), "doc_id",
      "text", idx, batchId = 0L)

    val deleted = docs.filter(col("doc_id") % 5 === 1)
    LexIndex.deleteBatch(deleted.select("doc_id"), idx, batchId = 0L)

    // logical: scores ≡ a from-scratch run over the filtered corpus —
    // tf, df, N and avgdl all reflect the deletion
    val expect = bmSet(Retrieval.bm25(
      docs.filter(col("doc_id") % 5 =!= 1), "doc_id", "text", terms))
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect)

    // physical: after compaction the raw base bytes hold no deleted doc
    LexIndex.compactIndex(spark, idx)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect)
    val delIds = deleted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(live(s"$idx/postings", "base"))
      .filter(col("doc_id").isInCollection(delIds)).head(1).isEmpty)
    assert(spark.read.parquet(live(s"$idx/doclens", "base"))
      .filter(col("doc_id").isInCollection(delIds)).head(1).isEmpty)

    // terminal: re-ingesting deleted docs is suppressed — reads unchanged,
    // and the next compaction treats them as suppressed too (no dup error)
    LexIndex.appendBatch(docs.filter(col("doc_id") % 5 === 1), "doc_id",
      "text", idx, batchId = 1L)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect)
    LexIndex.compactIndex(spark, idx)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect)

    // ...but re-ingesting a LIVE doc is still the loud contract violation,
    // and it fires BEFORE either root folds — the violating increments
    // are still on disk, nothing was rewritten, nothing half-committed
    LexIndex.appendBatch(docs.filter(col("doc_id") % 5 === 2), "doc_id",
      "text", idx, batchId = 2L)
    val err = intercept[IllegalArgumentException] {
      LexIndex.compactIndex(spark, idx)
    }
    assert(err.getMessage.contains("append-only"))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/postings/increments/batch=2")),
      "guard must fail the compaction before the postings fold commits")
  }

  test("lex index: a pure deletion campaign (no data increments) still " +
       "erases physically — the vacuum arm") {
    val idx = tmp("graft_lexvac")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    LexIndex.writeIndex(docs, "doc_id", "text", idx)
    LexIndex.deleteBatch(docs.filter(col("doc_id") % 5 === 1)
      .select("doc_id"), idx, batchId = 0L)

    // retention trim refuses while erasure is only logical
    val premature = intercept[IllegalArgumentException] {
      LexIndex.trimTombstones(spark, idx)
    }
    assert(premature.getMessage.contains("not yet physical"))

    val (p, d) = LexIndex.compactIndex(spark, idx) // folds nothing...
    assert(p === 0 && d === 0)
    val delIds = docs.filter(col("doc_id") % 5 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ...yet the base bytes are clean
    assert(spark.read.parquet(live(s"$idx/postings", "base"))
      .filter(col("doc_id").isInCollection(delIds)).head(1).isEmpty)
    assert(spark.read.parquet(live(s"$idx/doclens", "base"))
      .filter(col("doc_id").isInCollection(delIds)).head(1).isEmpty)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) ===
      bmSet(Retrieval.bm25(docs.filter(col("doc_id") % 5 =!= 1),
        "doc_id", "text", terms)))

    // after attested erasure the trim runs, and the deleted docs become
    // re-ingestable — terminality consciously waived by the trim
    LexIndex.trimTombstones(spark, idx)
    assert(!graft.streaming.Tombstones.exist(spark, idx))
    LexIndex.appendBatch(docs.filter(col("doc_id") % 5 === 1), "doc_id",
      "text", idx, batchId = 1L)
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) ===
      bmSet(Retrieval.bm25(docs, "doc_id", "text", terms)))
  }

  test("ann index: delete excludes vectors from search and recluster " +
       "means; compaction and recluster erase physically; replayed and " +
       "post-fold delete batches are single-count") {
    val idx = tmp("graft_anndel")
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    StreamingAnn.writeBaseIndex(e.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", "label", idx)
    Similarity.ivfAssign(e.filter(col("vec_id") % 10 === 0), "vec_id",
        "embedding", spark.read.parquet(live(idx, "centroids")))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$idx/increments/batch=0")

    val delIds = e.filter(col("vec_id") % 7 === 3).select("vec_id")
    StreamingAnn.deleteBatch(delIds, idx, batchId = 0L)
    // replayed delete batch restates its own dir — idempotent
    StreamingAnn.deleteBatch(delIds, idx, batchId = 0L)

    // audit before any fold: deletion in force, bytes still present
    val pre = StreamingAnn.erasureAudit(spark, idx).head()
    assert(pre.getLong(0) > 0 && pre.getLong(1) > 0 && !pre.getBoolean(2),
      pre.toString)

    val q = e.filter(col("vec_id") < 10)
    def searchSet() = StreamingAnn.search(spark, idx, q, "vec_id",
      "embedding", k = 3, nProbe = 2).collect().toSet
    // truth: from-scratch assignment of the filtered corpus to the SAME
    // frozen centroids (deletes never move a centroid until recluster);
    // eagerly pinned — the recluster below deletes these part files
    val cents = spark.read.parquet(live(idx, "centroids")).localCheckpoint()
    val expect = Similarity.annIvfStored(
      Similarity.ivfAssign(e.filter(col("vec_id") % 7 =!= 3), "vec_id",
        "embedding", cents).select(col("vec_id"), col("cell"), col("v")),
      cents, q, "vec_id", "embedding", k = 3, nProbe = 2).collect().toSet
    assert(searchSet() === expect)

    // physical: fold applies tombstones to the new base
    assert(StreamingAnn.compactIndex(spark, idx) === 1)
    assert(searchSet() === expect)
    val del = delIds.collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(live(idx, "base"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)
    // audit after the fold: clean — the erasure-attestation state
    val post = StreamingAnn.erasureAudit(spark, idx).head()
    assert(post.getLong(0) > 0 && post.getLong(1) === 0L &&
      post.getBoolean(2), post.toString)

    // a delete batch replayed AFTER the tombstone fold is dropped by the
    // watermark guard (no increment dir re-lands)
    StreamingAnn.deleteBatch(delIds, idx, batchId = 0L)
    assert(Tombstones.incrementCount(spark, idx) === 0)
    assert(searchSet() === expect)

    // terminal: re-ingesting deleted vectors is suppressed
    Similarity.ivfAssign(e.filter(col("vec_id") % 7 === 3), "vec_id",
        "embedding", cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$idx/increments/batch=1")
    assert(searchSet() === expect)

    // recluster: fresh centroids are means over LIVE members only, and
    // the rebuilt base holds no deleted vector
    StreamingAnn.reclusterIndex(spark, idx)
    assert(spark.read.parquet(live(idx, "base"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)
    val freshCents = spark.read.parquet(live(idx, "centroids"))
    val expectFresh = Similarity.ivfCentroids(
      Similarity.ivfAssign(e.filter(col("vec_id") % 7 =!= 3), "vec_id",
        "embedding", cents).select(col("vec_id"), col("cell"), col("v")),
      "cell", "v")
    assert(freshCents.collect().map(r => r.toString).sorted.toSeq ===
      expectFresh.collect().map(r => r.toString).sorted.toSeq)
  }

  test("ann index: pure deletion campaign vacuums the base without a fold") {
    val idx = tmp("graft_annvac")
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    StreamingAnn.writeBaseIndex(e, "vec_id", "embedding", "label", idx)
    StreamingAnn.deleteBatch(e.filter(col("vec_id") % 7 === 3)
      .select("vec_id"), idx, batchId = 0L)
    assert(StreamingAnn.compactIndex(spark, idx) === 0)
    val del = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(live(idx, "base"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)
    // a second compaction is a no-op (nothing left to vacuum)
    assert(StreamingAnn.compactIndex(spark, idx) === 0)
    // retention trim after attested erasure; refuses before is covered by
    // the lex twin — here just assert the clean-state path
    StreamingAnn.trimTombstones(spark, idx)
    assert(!Tombstones.exist(spark, idx))
  }

  test("stored batch IVF index: deleteFromIvfIndex excludes from " +
       "annIvfIndexed; reclusterIvfIndex erases physically") {
    val idx = tmp("graft_ivfdel")
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.ivfCentroids(e, "label", "embedding")
    Similarity.writeIvfIndex(
      Similarity.ivfAssign(e, "vec_id", "embedding", cents), cents, idx)
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") % 7 === 3)
      .select("vec_id"), idx, batchId = 0L)

    val q = e.filter(col("vec_id") < 10)
    val expect = Similarity.annIvfStored(
      Similarity.ivfAssign(e.filter(col("vec_id") % 7 =!= 3), "vec_id",
        "embedding", cents).select(col("vec_id"), col("cell"), col("v")),
      cents, q, "vec_id", "embedding", k = 3, nProbe = 2).collect().toSet
    assert(Similarity.annIvfIndexed(spark, idx, q, "vec_id",
      "embedding", k = 3, nProbe = 2).collect().toSet === expect)

    Similarity.reclusterIvfIndex(spark, idx)
    val del = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(live(idx, "postings"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)
  }

  test("pq index: delete excludes codes from ADC search (flat and " +
       "IVF-PQ), compaction/vacuum erase physically, retrain trains on " +
       "live vectors only") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = Similarity.pqTrain(e.select("vec_id", "embedding"),
      "embedding", m = 8, ksub = 16, maxIter = 2)
    val q = e.filter(col("vec_id") < 5)

    // flat maintained layout
    val idx = tmp("graft_pqdel")
    graft.sim.PqIndex.writeIndex(e.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", cb, idx)
    graft.sim.PqIndex.appendBatch(e.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", idx, 0L)
    graft.sim.PqIndex.deleteBatch(e.filter(col("vec_id") % 7 === 3)
      .select("vec_id"), idx, 0L)
    val expect = Similarity.annPq(
      Similarity.pqEncode(e.filter(col("vec_id") % 7 =!= 3), "vec_id",
        "embedding", cb).select("vec_id", "codes"),
      cb, q, "vec_id", "embedding", k = 5).collect().toSet
    def flatSearch() = graft.sim.PqIndex.search(spark, idx, q, "vec_id",
      "embedding", k = 5).collect().toSet
    assert(flatSearch() === expect)           // logical
    val pqPre = graft.sim.PqIndex.erasureAudit(spark, idx).head()
    assert(pqPre.getLong(1) > 0 && !pqPre.getBoolean(3), pqPre.toString)
    assert(graft.sim.PqIndex.compactIndex(spark, idx) === 1)
    assert(flatSearch() === expect)           // physical, fold-applied
    val pqPost = graft.sim.PqIndex.erasureAudit(spark, idx).head()
    assert(pqPost.getLong(1) === 0L && pqPost.getBoolean(3),
      pqPost.toString)
    val del = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(live(live(idx, "codes"), "base"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)

    // retrain: codebook and codes rebuilt from live vectors only (the
    // codes TREE is the published name; its base is versioned within it)
    graft.sim.PqIndex.retrainIndex(spark, idx, e, "vec_id", "embedding",
      m = 8, ksub = 16, maxIter = 2)
    assert(spark.read.parquet(live(live(idx, "codes"), "base"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)

    // IVF-PQ layout: logical at search, physical via vacuum
    val ivf = tmp("graft_ivfpqdel")
    graft.sim.PqIndex.writeIvfPq(e, "vec_id", "embedding", "label", cb, ivf)
    graft.sim.PqIndex.deleteBatch(e.filter(col("vec_id") % 7 === 3)
      .select("vec_id"), ivf, 0L)
    val got = graft.sim.PqIndex.searchIvfPq(spark, ivf, q, "vec_id",
      "embedding", k = 5, nProbe = 2).collect()
    assert(got.nonEmpty &&
      !got.exists(r => del.contains(r.getLong(r.fieldIndex("vec_id")))))
    val ivfPre = graft.sim.PqIndex.erasureAudit(spark, ivf).head()
    assert(ivfPre.getLong(2) > 0 && !ivfPre.getBoolean(3), ivfPre.toString)
    graft.sim.PqIndex.vacuumIvfPq(spark, ivf)
    val ivfPost = graft.sim.PqIndex.erasureAudit(spark, ivf).head()
    assert(ivfPost.getLong(2) === 0L && ivfPost.getBoolean(3),
      ivfPost.toString)
    assert(spark.read.parquet(live(ivf, "postings"))
      .filter(col("vec_id").isInCollection(del)).head(1).isEmpty)
    assert(graft.sim.PqIndex.searchIvfPq(spark, ivf, q, "vec_id",
      "embedding", k = 5, nProbe = 2).collect().toSet === got.toSet)
  }

  test("dedup signature index: deleted docs stop matching probes (a new " +
       "near-dup of a deleted doc probes as if the index never held it); " +
       "compaction erases the band rows") {
    import graft.text.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val idx = tmp("graft_sigdel")
    Dedup.writeSignatureIndex(
      Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id", idx)
    // delete half the corpus from the index
    Dedup.deleteFromSignatureIndex(
      docs.filter(col("doc_id") % 2 === 0).select("doc_id"), idx, 0L)
    // the live band rows hold only surviving docs — a probe can never
    // match a deleted one
    val matched = Dedup.readSignatureIndex(spark, idx).bands
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(matched.nonEmpty && matched.forall(_ % 2 === 1))
    val sigPre = Dedup.erasureAudit(spark, idx).head()
    assert(sigPre.getLong(1) > 0 && !sigPre.getBoolean(2), sigPre.toString)
    // physical erasure via the vacuum arm (no data increments pending)
    assert(Dedup.compactSignatureIndex(spark, idx) === 0)
    val sigPost = Dedup.erasureAudit(spark, idx).head()
    assert(sigPost.getLong(1) === 0L && sigPost.getBoolean(2),
      sigPost.toString)
    val raw = spark.read.parquet(live(idx, "bands"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(raw === matched)
    // the index still reads identically after the vacuum
    val after = Dedup.readSignatureIndex(spark, idx).bands
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(after === matched, s"${after.size} vs ${matched.size}")
  }

  test("predicate-shaped deletes: corpus-resolved (by source) and " +
       "artifact-resolved (by term, bucket-pruned) land as normal " +
       "tombstone batches; ANN deleteWhere resolves on the live postings") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val idx = tmp("graft_preddel")
    LexIndex.writeIndex(docs, "doc_id", "text", idx)

    // corpus-resolved: a domain takedown
    assert(LexIndex.deleteWhere(docs, "doc_id",
      col("source") === "src3", idx, batchId = 0L))
    val expect1 = bmSet(Retrieval.bm25(
      docs.filter(col("source") =!= "src3"), "doc_id", "text", terms))
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect1)

    // artifact-resolved: a content takedown the index answers itself;
    // composes with the prior delete (monotone batch ids)
    assert(LexIndex.deleteWhereTermMatches(spark, idx, Seq("stream"),
      batchId = 1L))
    val hasTerm = docs
      .select(col("doc_id"),
        explode(graft.text.TextOps.tokens(
          graft.text.TextOps.normalize(col("text")))).as("term"))
      .filter(col("term") === "stream").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val expect2 = bmSet(Retrieval.bm25(
      docs.filter(col("source") =!= "src3" &&
        !col("doc_id").isInCollection(hasTerm)),
      "doc_id", "text", terms))
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect2)
    // physical erasure rides the ordinary vacuum, and the audit attests it
    LexIndex.compactIndex(spark, idx)
    val audit = LexIndex.erasureAudit(spark, idx).head()
    assert(audit.getBoolean(audit.fieldIndex("physically_clean")))
    assert(bmSet(LexIndex.bm25Indexed(spark, idx, terms)) === expect2)

    // ANN: a predicate over the live posting lists (drain one cell)
    val vidx = tmp("graft_preddel_ann")
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    StreamingAnn.writeBaseIndex(e, "vec_id", "embedding", "label", vidx)
    assert(StreamingAnn.deleteWhere(spark, vidx, col("cell") === 0,
      batchId = 0L))
    val left = StreamingAnn.readPostings(spark, vidx)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(!left.contains(0) && left.nonEmpty,
      "the drained cell must be logically gone, the rest intact")
  }

  test("cell partition pruning pushes through the tombstone anti-join " +
       "and the build side broadcasts") {
    val idx = tmp("graft_ivfplan")
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.ivfCentroids(e, "label", "embedding")
    Similarity.writeIvfIndex(
      Similarity.ivfAssign(e, "vec_id", "embedding", cents), cents, idx)
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") % 7 === 3)
      .select("vec_id"), idx, batchId = 0L)
    // the probe's cell filter must reach the parquet scan as a PARTITION
    // filter (only left-side columns feed it), and the tombstone set must
    // be the broadcast build side — never a shuffled join
    val plan = Similarity.readIvfIndex(spark, idx)._1
      .filter(col("cell").isInCollection(Seq(0, 1)))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("PartitionFilters: [cell"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("takedown campaign: ONE request lands across all five families, one " +
       "combined attestation — hidden-but-present at stage tombstoned, " +
       "all-clean after erase, terminal per family") {
    import graft.streaming.Takedown
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val e = Tables.embeddings(spark, sf)

    val lexDir = tmp("graft_camp_lex")
    LexIndex.writeIndex(docs, "doc_id", "text", lexDir)
    val annDir = tmp("graft_camp_ann")
    StreamingAnn.writeBaseIndex(e, "vec_id", "embedding", "label", annDir)
    val pqDir = tmp("graft_camp_pq")
    val cb = Array.tabulate(4, 4, 16)((s, c, i0) =>
      ((s * 131 + c * 37 + (i0 + 1) * 17) % 19 - 9) / 10.0)
    graft.sim.PqIndex.writeIndex(e, "vec_id", "embedding", cb, pqDir)
    val dedupDir = tmp("graft_camp_sig")
    graft.text.Dedup.writeSignatureIndex(
      graft.text.Dedup.minhashSignatures(docs, "doc_id", "text"),
      "doc_id", dedupDir)

    val graphDir = tmp("graft_camp_graph")
    graft.sim.GraphAnnIndex.writeIndex(e, "vec_id", "embedding", 64,
      graphDir)

    val t = Takedown.Targets(lex = Some(lexDir), ann = Some(annDir),
      pq = Some(pqDir), dedup = Some(dedupDir), graph = Some(graphDir))
    Takedown.land(Some(docs.filter(col("doc_id") % 5 === 1).select("doc_id")),
      Some(e.filter(col("vec_id") % 5 === 1).select("vec_id")), t, 0L)

    // trimming before physical erasure must refuse atomically (a partial
    // trim would leave the campaign half-terminal)
    val refusal = intercept[IllegalArgumentException] {
      Takedown.trim(spark, t)
    }
    assert(refusal.getMessage.contains("erasure not yet physical"),
      refusal.getMessage)

    def byFam(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    val before = byFam(Takedown.attest(spark, t))
    assert(before.keySet == Set("lex", "ann", "pq", "dedup", "graph"))
    before.foreach { case (fam, (nTomb, hidden, clean)) =>
      assert(nTomb > 0, s"$fam: tombstones must have landed")
      assert(hidden > 0 && !clean,
        s"$fam: deleted rows must be hidden-but-present before erase")
    }

    Takedown.erase(spark, t)
    val after = byFam(Takedown.attest(spark, t))
    after.foreach { case (fam, (nTomb, hidden, clean)) =>
      assert(nTomb > 0, s"$fam: tombstones persist (terminal semantics)")
      assert(hidden == 0 && clean, s"$fam: erase must complete physically")
    }

    // a NEW campaign reusing a batch id at or below the families' fold
    // watermarks would be silently dropped everywhere (content kept
    // serving while attest reports clean) — land must fail fast instead
    val stale = intercept[IllegalArgumentException] {
      Takedown.land(
        Some(docs.filter(col("doc_id") % 5 === 2).select("doc_id")),
        Some(e.filter(col("vec_id") % 5 === 2).select("vec_id")), t, 0L)
    }
    Seq("lex", "ann", "pq", "dedup", "graph").foreach(f =>
      assert(stale.getMessage.contains(f),
        s"$f missing from the dropped list: ${stale.getMessage}"))

    // the campaign is terminal family-by-family: a re-crawl of deleted
    // docs never resurfaces in the lexical read
    LexIndex.appendBatch(docs.filter(col("doc_id") % 5 === 1), "doc_id",
      "text", lexDir, batchId = 1L)
    assert(LexIndex.readDocLens(spark, lexDir)
      .filter(col("doc_id") % 5 === 1).isEmpty)
    // ... but the terminal re-ingest suppression hides the re-landed rows
    // LOGICALLY; trim must still refuse until they are physically erased
    val refusal2 = intercept[IllegalArgumentException] {
      Takedown.trim(spark, t)
    }
    assert(refusal2.getMessage.contains("lex"), refusal2.getMessage)
    LexIndex.compactIndex(spark, lexDir)

    // attestation filed + everything physical: the retention trim drops
    // every family's tombstone set in one call
    Takedown.trim(spark, t)
    val trimmed = byFam(Takedown.attest(spark, t))
    trimmed.foreach { case (fam, (nTomb, hidden, clean)) =>
      assert(nTomb == 0 && hidden == 0 && clean,
        s"$fam: tombstones must be gone after trim")
    }
  }

  test("streamed takedown campaign: a drained id stream lands in every " +
       "targeted family exactly like the batch land; attestation clean " +
       "after erase") {
    import graft.streaming.Takedown
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val e = Tables.embeddings(spark, sf)
    // two byte-identical target sets: one drains the stream, the other
    // takes the batch land — their attestations must match family for
    // family (lex is doc-keyed, ann/graph vector-keyed, so the sink's
    // per-side fan-out is exercised in both directions)
    def mkTargets(tag: String) = {
      val lexDir = tmp(s"graft_scamp_lex$tag")
      LexIndex.writeIndex(docs, "doc_id", "text", lexDir)
      val annDir = tmp(s"graft_scamp_ann$tag")
      StreamingAnn.writeBaseIndex(e, "vec_id", "embedding", "label", annDir)
      val graphDir = tmp(s"graft_scamp_g$tag")
      graft.sim.GraphAnnIndex.writeIndex(e, "vec_id", "embedding", 64,
        graphDir)
      Takedown.Targets(lex = Some(lexDir), ann = Some(annDir),
        graph = Some(graphDir))
    }
    val tS = mkTargets("s"); val tB = mkTargets("b")
    val dir = tmp("graft_scamp_io")
    // ONE campaign feed: doc rows and vec rows interleaved, the other
    // side null — the sink routes each side to its keyed families
    docs.filter(col("doc_id") % 5 === 1)
      .select(col("doc_id"), lit(null).cast("long").as("vec_id"))
      .unionByName(e.filter(col("vec_id") % 5 === 1)
        .select(lit(null).cast("long").as("doc_id"), col("vec_id")))
      .write.parquet(s"$dir/in")
    Takedown.campaignSink(
        spark.readStream.schema(StructType(Seq(
            StructField("doc_id", LongType), StructField("vec_id", LongType))))
          .parquet(s"$dir/in"), tS, s"$dir/chk")
      .start().awaitTermination()
    Takedown.land(
      Some(docs.filter(col("doc_id") % 5 === 1).select("doc_id")),
      Some(e.filter(col("vec_id") % 5 === 1).select("vec_id")), tB, 0L)
    def byFam(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    val streamed = byFam(Takedown.attest(spark, tS))
    assert(streamed == byFam(Takedown.attest(spark, tB)),
      "drained stream must attest exactly like the batch land")
    streamed.foreach { case (fam, (nTomb, hidden, clean)) =>
      assert(nTomb > 0 && hidden > 0 && !clean,
        s"$fam: the streamed campaign must have landed")
    }
    Takedown.erase(spark, tS)
    byFam(Takedown.attest(spark, tS)).foreach {
      case (fam, (nTomb, hidden, clean)) =>
        assert(nTomb > 0 && hidden == 0 && clean,
          s"$fam: erase after a streamed campaign must complete physically")
    }
  }
}
