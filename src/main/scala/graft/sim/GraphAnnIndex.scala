package graft.sim

import graft.streaming.{Compaction, Tombstones}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STORED / MAINTAINED graph ANN — [[Similarity.nswGraph]]'s two-layer
  * navigable-small-world graph as an on-disk artifact with the same
  * lifecycle as the IVF / PQ / lexical stores: append, delete, compaction,
  * erasure audit, snapshot-isolated reads.
  *
  * The key property that makes EXACT incremental maintenance possible:
  * every directed edge of [[Similarity.nswGraph]] is a pure function of
  * its LSH BUCKET's membership — a node links to its `degree` most-similar
  * same-bucket neighbors, per table. So when a batch lands (or a takedown
  * removes vectors), only the buckets whose membership changed can have
  * different edges, and recomputing exactly those buckets over the LIVE
  * membership reproduces the from-scratch graph edge for edge
  * (GraphAnnSpec pins maintained ≡ scratch; the q346 oracle is q172's,
  * shared). Buckets are grouped into `nGroups` hash groups per layer —
  * the restatement unit, so one append rewrites |touched groups| of edge
  * state, never the graph.
  *
  * Layout under `dir` (two [[Compaction]] roots; `_v<K>` is the
  * generation the root's pointer names):
  * {{{
  *   vectors/meta_v<K>          frozen graph geometry (dim, degree,
  *                              finePlanes, fineTables, hubMod, nGroups)
  *   vectors/base_v<K>, increments/  (vec_id, v, b_0..b_{T-1}, b_hub) —
  *                              the union-distributive family contract
  *   edges/base_v<K>, increments/  (layer, grp, src, dst) DIRECTED edges;
  *                              merge = LAST WRITER WINS per (layer, grp)
  *                              (each increment RESTATES whole groups; a
  *                              null-src sentinel row registers a group
  *                              that restated to empty)
  *   tombstones/                deleted vec_ids ([[deleteBatch]])
  * }}}
  *
  * At 100 TB: an append scans the vector store once per layer filtered to
  * the touched groups (a data filter on the precomputed bucket columns —
  * linear, never pairwise beyond the bucket-local joins the from-scratch
  * build already does), and rewrites only those groups' edges. Search
  * cost is [[Similarity.annGraph]]'s bounded relational beam — the tail
  * is SHARED CODE ([[Similarity.nswBeamSearch]]), so stored and in-memory
  * searches are value-identical by construction. All reads are
  * snapshot-isolated via [[Compaction.view]].
  */
object GraphAnnIndex {

  private case class Meta(dim: Int, degree: Int, finePlanes: Int,
                          fineTables: Int, hubMod: Int, nGroups: Int,
                          epoch: Int)

  /** Meta resolution rides the VECTORS root's pointer: meta lives beside
    * the vector base, and [[rebuildIndex]] flips both in ONE pointer
    * commit (fresh plane geometry routing over stale bucket columns
    * would corrupt every later restatement). The `epoch` column is absent
    * from pre-epoch indexes and reads as 0 (the historical geometry). */
  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val df = spark.read.parquet(
      Compaction.view(spark, s"$dir/vectors").path("meta"))
    val r = df.head()
    def gi(n: String) = r.getInt(r.fieldIndex(n))
    Meta(gi("dim"), gi("degree"), gi("fine_planes"), gi("fine_tables"),
      gi("hub_mod"), gi("n_groups"),
      if (df.columns.contains("epoch")) gi("epoch") else 0)
  }

  private def metaDf(spark: SparkSession, m: Meta): DataFrame = {
    import spark.implicits._
    Seq((m.dim, m.degree, m.finePlanes, m.fineTables, m.hubMod, m.nGroups,
      m.epoch))
      .toDF("dim", "degree", "fine_planes", "fine_tables", "hub_mod",
        "n_groups", "epoch")
  }

  /** The write-time nGroups derivation (see [[writeIndex]]): the
    * bucket-count target or one group per ~1M vectors, whichever is
    * larger, clamped to [64, 4096]. */
  private def deriveGroups(finePlanes: Int, fineTables: Int,
                           nVectors: Long): Int =
    math.max(64, math.min(4096,
      math.max((1 << finePlanes) * fineTables / 16,
        (nVectors / 1000000L).toInt)))

  /** (vec_id, v, b_0..b_{T-1}, b_hub) — bucket columns precomputed once
    * at landing so maintenance never re-hashes the corpus. */
  private def withBuckets(df: DataFrame, id: String, emb: String,
                          m: Meta): DataFrame = {
    val spark = df.sparkSession
    val (fine, coarse) =
      Similarity.nswPlaneSlices(m.dim, m.finePlanes, m.fineTables, m.epoch)
    val base = df.select(col(id).as("vec_id"),
      Similarity.asDouble(emb).as("v"))
    fine.zipWithIndex.foldLeft(
        base.withColumn("b_hub",
          Similarity.lshBucketNative(spark, "v", coarse))) {
      case (acc, (planes, t)) =>
        acc.withColumn(s"b_$t", Similarity.lshBucketNative(spark, "v", planes))
    }
  }

  private def vectorCols(m: Meta): Seq[String] =
    Seq("vec_id", "v") ++ (0 until m.fineTables).map(t => s"b_$t") :+ "b_hub"

  /** Bucket column and membership filter of one layer: fine layers
    * 0..T-1 cover every node; the coarse hub layer T covers
    * vec_id % hubMod == 0 (the [[Similarity.nswGraph]] contract). */
  private def layerOf(l: Int, m: Meta): (String, Column) =
    if (l < m.fineTables) (s"b_$l", lit(true))
    else ("b_hub", pmod(col("vec_id"), lit(m.hubMod)) === 0)

  /** The directed degree-capped edges of one layer restricted to `grps`
    * (None = all groups) — [[Similarity.nswGraph.layer]]'s exact
    * semantics (bucket-local self-join, rounded cosine, (sim desc, dst
    * asc) ties, top `degree` per src) with (layer, grp) attached, plus
    * one null-src SENTINEL row per restated group so a group whose live
    * membership dropped to zero still registers its restatement under
    * the last-writer-wins merge. */
  private def layerEdges(live: DataFrame, l: Int, m: Meta,
                         grps: Option[Seq[Int]]): DataFrame = {
    val spark = live.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val (bcol, memberOf) = layerOf(l, m)
    val scoped = live.filter(memberOf)
      .withColumn("grp", pmod(col(bcol), lit(m.nGroups.toLong)).cast("int"))
    val members = grps match {
      case Some(g) => scoped.filter(col("grp").isInCollection(g))
      case None    => scoped
    }
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    val edges = members.as("a").join(members.as("b"),
        col(s"a.$bcol") === col(s"b.$bcol") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.grp").as("grp"), col("a.vec_id").as("src"),
        col("b.vec_id").as("dst"),
        round(expr("graft_cosine(a.v, b.v)"), 6).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= m.degree)
      .select(lit(l).as("layer"), col("grp"), col("src"), col("dst"))
    val idType = live.schema("vec_id").dataType
    val sentinels = grps match {
      case Some(g) =>
        import spark.implicits._
        g.toDF("grp").select(lit(l).as("layer"), col("grp"),
          lit(null).cast(idType).as("src"), lit(null).cast(idType).as("dst"))
      case None => edges.limit(0)
    }
    edges.unionByName(sentinels)
  }

  private def allLayerEdges(live: DataFrame, m: Meta,
                            touched: Option[Map[Int, Seq[Int]]]): DataFrame =
    (0 to m.fineTables).map { l =>
      layerEdges(live, l, m, touched.map(_.getOrElse(l, Nil)))
    }.reduce(_.unionByName(_))

  /** Write the base index over a corpus: frozen geometry in `meta` with
    * the bucket-annotated vectors, and the full directed edge set.
    *
    * `nGroups` is FROZEN GEOMETRY — it caps the parallelism of every later
    * restatement and of [[readEdges]]'s last-writer-wins merge windows
    * (one window per (layer, grp)), and cannot change without a rebuild.
    * `nGroups ≤ 0` (the default) derives it from the corpus at write
    * time: the bucket-count target (2^finePlanes·fineTables/16) or one
    * group per ~1M vectors, whichever is larger, floored at 64 (the
    * historical default — small corpora are byte-identical to it) and
    * capped at 4096 (beyond which per-group restatement overhead
    * dominates). A 100× corpus thus gets 100× merge parallelism without
    * the operator remembering to size it.
    *
    * `epoch` selects the [[Similarity.epochHyperplanes]] plane
    * generation — 0 (the default) is the pinned historical geometry;
    * [[rebuildIndex]] bumps it, and passing it here lets a from-scratch
    * build reproduce a rebuilt index exactly (GraphAnnSpec pins it). */
  def writeIndex(corpus: DataFrame, id: String, emb: String, dim: Int,
                 dir: String, degree: Int = 12, finePlanes: Int = 8,
                 fineTables: Int = 3, hubMod: Int = 16,
                 nGroups: Int = 0, epoch: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val groups =
      if (nGroups > 0) nGroups
      else deriveGroups(finePlanes, fineTables, corpus.count())
    val m = Meta(dim, degree, finePlanes, fineTables, hubMod, groups, epoch)
    val vecs = Similarity.cut(withBuckets(corpus, id, emb, m),
      eager = false) // referenced once per layer below
    publishVectors(vecs, m, dir, -1L)
    publishEdges(allLayerEdges(vecs, m, None), dir, -1L)
  }

  /** Meta + bucket-annotated vector base as ONE generation of the vectors
    * root, the base stamped with the folded watermark `wm` it subsumes. */
  private def publishVectors(vecs: DataFrame, m: Meta, dir: String,
                             wm: Long): Unit = {
    val spark = vecs.sparkSession
    Compaction.publish(spark, s"$dir/vectors", Seq("base", "meta")) { out =>
      metaDf(spark, m)
        .coalesce(1).write.mode("overwrite").parquet(out("meta"))
      vecs.write.mode("overwrite").parquet(out("base"))
      Compaction.stampWatermark(spark, out("base"), wm)
    }
  }

  private def publishEdges(edges: DataFrame, dir: String, wm: Long): Unit =
    Compaction.publish(edges.sparkSession, s"$dir/edges", Seq("base")) {
      out =>
        edges.write.mode("overwrite").parquet(out("base"))
        Compaction.stampWatermark(edges.sparkSession, out("base"), wm)
    }

  /** The live bucket-annotated vectors: base ∪ live increments, minus
    * tombstoned ids (broadcast anti-join). */
  def readVectors(spark: SparkSession, dir: String): DataFrame =
    Tombstones.applyTo(rawVectors(spark, dir), dir, "vec_id")

  private def rawVectors(spark: SparkSession, dir: String): DataFrame = {
    val m = readMeta(spark, dir)
    Compaction.view(spark, s"$dir/vectors").read(vectorCols(m)).getOrElse(
      sys.error(s"no stored graph index under $dir"))
  }

  /** The live DIRECTED edge set: base ∪ live increments merged LAST
    * WRITER WINS per (layer, grp) — an increment restates whole groups,
    * so within each group only the newest batch's rows (the base counts
    * as batch -1) are live; sentinel rows then drop out. The per-group
    * window never concentrates the graph in one task: a partition is one
    * bucket group's edges. */
  def readEdges(spark: SparkSession, dir: String): DataFrame = {
    val v = Compaction.view(spark, s"$dir/edges")
    val cols = Seq("layer", "grp", "src", "dst")
    val base = v.readBase(cols).getOrElse(
        sys.error(s"no stored graph index under $dir"))
      .withColumn("batch", lit(-1L))
    val all = v.readIncrements(cols :+ "batch") match {
      case Some(inc) => base.unionByName(inc)
      case None      => base
    }
    val w = Window.partitionBy("layer", "grp")
    all.withColumn("_mx", max(col("batch")).over(w))
      .filter(col("batch") === col("_mx") && col("src").isNotNull)
      .select("layer", "grp", "src", "dst")
  }

  /** Append one batch: land its bucket-annotated vectors as an increment,
    * then RESTATE exactly the bucket groups the batch touches — the edges
    * of those groups recomputed over the full LIVE membership, so the
    * maintained graph equals a from-scratch build over everything
    * ingested (minus deletions), edge for edge.
    *
    * Replay/id contract: `batchId` keys the VECTORS increment (a retried
    * batch overwrites exactly its own directory; one already folded is
    * dropped by the watermark). The edge restatement instead lands under
    * a monotone LOGICAL CLOCK allocated from the edges tree itself —
    * ingest and DELETE streams have independent per-checkpoint batch
    * counters, so stream ids cannot provide the total order
    * last-writer-wins needs; the clock can, because all writes to one
    * index are serialized (the family's single-writer-between-streams
    * discipline). A retried batch restates the same groups over the same
    * live membership (its vectors landing is idempotent), so the extra
    * clock generation is value-identical and the superseded one is
    * harmless until the fold drops it.
    *
    * The restatement is SEPARATELY replay-safe: each completed
    * restatement leaves a marker keyed by the triggering batch
    * (`edges/_restated/i<batchId>`), and a replayed batch whose VECTORS
    * are already folded still restates iff its marker is missing — the
    * crash-between-landing-and-restatement window, where a fold that ran
    * before the retry absorbed the vectors (watermark ≥ batchId) but the
    * touched groups' edges were never recomputed. Without the marker the
    * old early-return left those vectors permanently unreachable.
    * [[compactIndex]] runs the same repair up front, so the invariant
    * holds even if the stream never restarts. */
  def appendBatch(batch: DataFrame, id: String, emb: String, dir: String,
                  batchId: Long): Unit = {
    val spark = batch.sparkSession
    val m = readMeta(spark, dir)
    val tag = s"i$batchId"
    val folded = Compaction.isFolded(spark, s"$dir/vectors", batchId)
    if (folded && hasRestated(spark, dir, tag)) return
    val vecs = Similarity.cut(withBuckets(batch, id, emb, m), eager = false)
    // the parameter-bounded groups collect doubles as the empty-batch
    // probe (every row belongs to a fine-layer group), so streaming sinks
    // need no separate isEmpty pre-pass job
    val touched = touchedGroups(vecs, m)
    if (touched.valuesIterator.forall(_.isEmpty)) return
    if (!folded)
      vecs.write.mode("overwrite")
        .parquet(s"$dir/vectors/increments/batch=$batchId")
    // folded && !hasRestated: the crash-window repair — the vectors were
    // absorbed by a fold that ran before this retry, but the touched
    // groups' edges were never recomputed (withBuckets is deterministic,
    // so the groups are exactly the original landing's)
    restateGroups(spark, dir, m, touched, tag)
  }

  /** DELETE vectors (takedown/opt-out): the ids land as a tombstone
    * increment (logical, terminal against re-ingest), and the groups
    * that held them are RESTATED over the live membership — so search
    * over the maintained graph equals a from-scratch build over the
    * filtered corpus exactly (deleted vectors stop competing for degree
    * slots, not just stop being returned). Physical erasure of the
    * vector rows and superseded edge rows completes at the next
    * [[compactIndex]]. */
  def deleteBatch(ids: DataFrame, dir: String, batchId: Long): Boolean = {
    val spark = ids.sparkSession
    val m = readMeta(spark, dir)
    val tag = s"d$batchId"
    val idf = ids.select(col(ids.columns.head).as("vec_id")).distinct()
    // resolve the deleted ids' bucket groups from the RAW vector tree
    // (no tombstone filter), so the resolution is independent of the
    // tombstone landing — the two run CONCURRENTLY (guide §2.6: the
    // landing is a small write job + lease FS work on $dir/tombstones,
    // the group resolution a bounded collect over $dir/vectors; disjoint
    // subtrees, no shared driver state). On a dropped (replayed) batch
    // the resolved groups are simply discarded, as before.
    val victim = rawVectors(spark, dir).join(broadcast(idf), Seq("vec_id"),
      "left_semi")
    val both = graft.ops.Par.map(Seq[() => Any](
      () => Tombstones.append(ids, dir, batchId),
      () => touchedGroups(victim, m)))(_())
    val landed = both.head.asInstanceOf[Boolean]
    if (landed) restateGroups(spark, dir, m,
      both(1).asInstanceOf[Map[Int, Seq[Int]]], tag)
    else if (!hasRestated(spark, dir, tag)) {
      // replayed delete whose original restatement never completed, with
      // the fold already past (victims may be physically erased): the
      // groups to repair are the ones whose LIVE edges still reference a
      // deleted endpoint — restating them over the live membership
      // removes the stale references exactly. Two equi-semi-joins (src,
      // dst) unioned, NOT one OR-condition join: the disjunction would
      // defeat the broadcast hash join and plan a nested-loop scan over
      // the entire live edge set
      val e = readEdges(spark, dir)
      val touched = e.join(broadcast(idf), e("src") === idf("vec_id"),
          "left_semi").select("layer", "grp")
        .unionByName(e.join(broadcast(idf), e("dst") === idf("vec_id"),
          "left_semi").select("layer", "grp"))
        .distinct().collect()
        .groupBy(_.getInt(0))
        .map { case (l, rows) => l -> rows.map(_.getInt(1)).toSeq }
      if (touched.valuesIterator.exists(_.nonEmpty))
        restateGroups(spark, dir, m, touched, tag)
      else markRestated(spark, dir, tag)
    }
    landed
  }

  /** Per layer, the distinct bucket groups of `touchers` — a
    * parameter-bounded driver list (≤ nGroups ints per layer). */
  private def touchedGroups(touchers: DataFrame, m: Meta): Map[Int, Seq[Int]] =
    graft.ops.Jobs.labeled(touchers.sparkSession, "graph touchedGroups") {
      // ONE job for all layers: each layer's groups are a bounded distinct
      // over the same toucher frame — union the per-layer projections and
      // collect once instead of running layers+1 separate collect jobs
      val all = (0 to m.fineTables).map { l =>
        val (bcol, memberOf) = layerOf(l, m)
        touchers.filter(memberOf)
          .select(lit(l).as("l"),
            pmod(col(bcol), lit(m.nGroups.toLong)).cast("int").as("g"))
      }.reduce(_.unionByName(_)).distinct().collect()
      (0 to m.fineTables).map { l =>
        l -> all.filter(_.getInt(0) == l).map(_.getInt(1)).toSeq.sorted
      }.toMap
    }

  private def markerDir(dir: String) = s"$dir/edges/_restated"

  private def hasRestated(spark: SparkSession, dir: String,
                          tag: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${markerDir(dir)}/$tag")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def markRestated(spark: SparkSession, dir: String,
                           tag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${markerDir(dir)}/$tag")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Restate `touched`'s bucket groups: recomputed over the LIVE
    * membership and landed as ONE edges increment under the next LOGICAL
    * CLOCK id. The write goes to a hidden `_tmp` sibling and renames into
    * place, so a crashed restatement is invisible to readers (its retry
    * supersedes it under a fresh clock); stale `_tmp_batch_*` leftovers of
    * such crashes are swept here, because neither GC arm reaps them
    * (gcIncrements only sees `batch=` dirs, gcVersions only `_v` dirs).
    * On completion a `_restated/<tag>` marker records that the triggering
    * batch's edge work is done — the replay guards above key on it. */
  private def restateGroups(spark: SparkSession, dir: String, m: Meta,
                            touched: Map[Int, Seq[Int]], tag: String): Unit =
    // leased: the clock allocation below is max+1 over the edges tree —
    // sound only while writes to one index are serialized, so make the
    // contract mechanical (a racing writer fails fast, not lost-update)
    Compaction.withWriteLease(spark, s"$dir/edges") {
      graft.ops.Jobs.labeled(spark, s"graph restate $tag") {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val incDir = new org.apache.hadoop.fs.Path(s"$dir/edges/increments")
      if (fs.exists(incDir))
        fs.listStatus(incDir)
          .filter(_.getPath.getName.startsWith("_tmp_batch_"))
          .foreach(st => fs.delete(st.getPath, true))
      val live = Similarity.cut(readVectors(spark, dir), eager = false)
      val clock = (Compaction.foldedWatermark(spark, s"$dir/edges") +:
        Compaction.incrementIds(spark, s"$dir/edges")).max + 1
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/edges/increments/_tmp_batch_$clock")
      allLayerEdges(live, m, Some(touched))
        .write.mode("overwrite").parquet(tmp.toString)
      val dst = new org.apache.hadoop.fs.Path(
        s"$dir/edges/increments/batch=$clock")
      require(fs.rename(tmp, dst),
        s"graph edge restatement: rename $tmp -> $dst failed")
      markRestated(spark, dir, tag)
      }
    }

  /** Search the maintained graph — [[Similarity.nswBeamSearch]] (the
    * exact [[Similarity.annGraph]] tail) over the stored live vectors
    * and the bidirectionalized live edge set. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             id: String, emb: String, k: Int, beam: Int = 24,
             rounds: Int = 6, nEntries: Int = 16): DataFrame = {
    val m = readMeta(spark, dir)
    // lazy cut: the corpus frame is referenced by every beam round (7+
    // beamOf calls) — without it each round re-plans the parquet read +
    // tombstone anti-join (searchFiltered already cuts; this path didn't)
    val c = Similarity.cut(
      readVectors(spark, dir).select("vec_id", "v"), eager = false)
    val directed = readEdges(spark, dir).select("src", "dst")
    val g = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .transform(df => Similarity.cut(df.distinct(), eager = true))
      // referenced every beam round
    Similarity.nswBeamSearch(c, g, queries, id, emb, k, beam, rounds,
      nEntries, m.hubMod)
  }

  /** FILTERED search over the maintained graph — the "search within a
    * tenant" serving query ([[Similarity.annIvfIndexedFiltered]]'s
    * contract on the graph axis): `pred` (over the stored vector columns
    * — vec_id, v, and the bucket columns) applies INSIDE the beam, never
    * as a post-filter of an unfiltered top-k. Excluded vectors neither
    * RANK nor NAVIGATE: the beam's candidate join keeps only surviving
    * vectors, so an excluded vector never enters the beam and its edges
    * are never expanded — semantically the beam runs over the INDUCED
    * subgraph of the survivors. The stored edges themselves are
    * untouched (filtering is per-query; degree slots still reflect
    * full-corpus competition — a filter is not a delete).
    *
    * Navigability: multi-table bidirectional edges keep the induced
    * subgraph connected at moderate selectivity. A tenant whose survivors
    * include NO hub node (hub membership is `vec_id % hubMod`,
    * uncorrelated with tenancy) falls back to the `nEntries` lowest-id
    * survivors as entry points — without it the beam would have zero
    * entries and return nothing for an unlucky tenant. Both entry arms
    * are computed inside ONE plan (two TakeOrderedAndProject limits over
    * the survivors, hub rows kept iff any exists), so filtered serving
    * issues no extra driver action. Deterministic end to end either way,
    * so the q349/q355 oracles replay both arms in SQL.
    *
    * LOW-selectivity tenants (≲5% survivors) get a MECHANISM, not a knob:
    * `bruteThreshold > 0` arms an exact-brute fallback — when at most
    * that many vectors survive the predicate (probed with a bounded
    * `limit(threshold+1).count()`, never a full count), the query runs
    * [[Similarity.knnBrute]] over the filtered corpus instead of the
    * beam, so recall is exact precisely where the induced subgraph is
    * too sparse to navigate (the `Similarity.annIvfFiltered` contract on
    * the graph axis). 0 (the default) keeps the pure beam path. */
  def searchFiltered(spark: SparkSession, dir: String, queries: DataFrame,
                     id: String, emb: String,
                     pred: org.apache.spark.sql.Column, k: Int,
                     beam: Int = 24, rounds: Int = 6,
                     nEntries: Int = 16, bruteThreshold: Int = 0): DataFrame = {
    val m = readMeta(spark, dir)
    val c = Similarity.cut(
      readVectors(spark, dir).filter(pred).select("vec_id", "v"),
      eager = false) // referenced by the entry pick + every beam round
    if (bruteThreshold > 0 &&
        c.limit(bruteThreshold + 1).count() <= bruteThreshold)
      return Similarity.knnBrute(
        c.select(col("vec_id").as(id), col("v").as(emb)), queries, id, emb, k)
    val directed = readEdges(spark, dir).select("src", "dst")
    val g = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .transform(df => Similarity.cut(df.distinct(), eager = true))
    // entry points in ONE plan: lowest-id hub survivors when any hub
    // survives (the pinned q172/q349 pick), else lowest-id survivors (the
    // q355 hubless-tenant arm) — two bounded top-k limits unioned, hub
    // rows preferred via a window over ≤ 2·nEntries rows
    val hubs = c.filter(pmod(col("vec_id"), lit(m.hubMod)) === 0)
      .orderBy(col("vec_id").asc).limit(nEntries)
      .select(col("vec_id"), lit(1).as("pref"))
    val low = c.orderBy(col("vec_id").asc).limit(nEntries)
      .select(col("vec_id"), lit(0).as("pref"))
    val entries = hubs.unionByName(low)
      .withColumn("_mx", max(col("pref")).over(Window.partitionBy()))
      .filter(col("pref") === col("_mx")).select("vec_id")
    Similarity.nswBeamSearch(c, g, queries, id, emb, k, beam, rounds,
      nEntries, m.hubMod, Some(entries))
  }

  /** Fold both increment trees into new bases (vectors: disjoint union
    * with tombstone erasure; edges: the last-writer-wins merge resolved,
    * sentinels dropped) — reads identical before and after; run between
    * streams. Returns (vector increments folded, edge increments
    * folded). */
  def compactIndex(spark: SparkSession, dir: String): (Int, Int) = {
    val m = readMeta(spark, dir)
    // Repair crash windows BEFORE any fold absorbs the evidence: a landed
    // vectors increment (or tombstone batch) whose edge restatement never
    // completed — the crashed-stream case where the retry has not run yet
    // — is restated here, so a fold can never orphan new vectors behind
    // stale group edges (the maintained ≡ from-scratch invariant).
    Compaction.incrementIds(spark, s"$dir/vectors")
      .filter(_ > Compaction.foldedWatermark(spark, s"$dir/vectors"))
      .foreach { b =>
        if (!hasRestated(spark, dir, s"i$b"))
          restateGroups(spark, dir, m, touchedGroups(
            spark.read.parquet(s"$dir/vectors/increments/batch=$b"), m),
            s"i$b")
      }
    Compaction.incrementIds(spark, s"$dir/tombstones")
      .filter(_ > Compaction.foldedWatermark(spark, s"$dir/tombstones"))
      .foreach { b =>
        if (!hasRestated(spark, dir, s"d$b")) {
          val idf = spark.read
            .parquet(s"$dir/tombstones/increments/batch=$b")
            .select(col("tid").as("vec_id"))
          restateGroups(spark, dir, m, touchedGroups(
            rawVectors(spark, dir).join(broadcast(idf), Seq("vec_id"),
              "left_semi"), m), s"d$b")
        }
      }
    Tombstones.compact(spark, dir)
    val fv = Compaction.foldIncrements(spark, s"$dir/vectors") {
      (base, incs) =>
        Tombstones.applyTo((base.toSeq ++ incs)
          .map(p => spark.read.parquet(p).select(vectorCols(m).map(col): _*))
          .reduce(_.unionByName(_)), dir, "vec_id")
    } { (df, out) => df.write.mode("overwrite").parquet(out) }
    if (fv == 0 && Compaction.resolve(spark, s"$dir/vectors", "base").exists(
        b => Tombstones.needsVacuum(spark.read.parquet(b), dir, "vec_id")))
      Compaction.rewriteBase(spark, s"$dir/vectors")(df =>
        Tombstones.applyTo(df.select(vectorCols(m).map(col): _*), dir,
          "vec_id")) { (df, out) =>
        df.write.mode("overwrite").parquet(out)
      }
    val cols = Seq("layer", "grp", "src", "dst")
    val fe = Compaction.foldIncrements(spark, s"$dir/edges") {
      (base, incs) =>
        val w = Window.partitionBy("layer", "grp")
        val all = (base.map(p => spark.read.parquet(p)
            .select(cols.map(col): _*).withColumn("batch", lit(-1L))).toSeq ++
          incs.map { p =>
            val b = p.split("batch=").last.toLong
            spark.read.parquet(p).select(cols.map(col): _*)
              .withColumn("batch", lit(b))
          }).reduce(_.unionByName(_))
        all.withColumn("_mx", max(col("batch")).over(w))
          .filter(col("batch") === col("_mx") && col("src").isNotNull)
          .select(cols.map(col): _*)
    } { (df, out) => df.write.mode("overwrite").parquet(out) }
    gcMarkers(spark, dir)
    (fv, fe)
  }

  /** Reap restatement markers whose batch the folds now own. Losing a
    * marker early is cost-only, never correctness: a replay finding
    * (folded, no marker) re-restates the same groups over the same live
    * membership — value-identical, superseded at the next fold. */
  private def gcMarkers(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(markerDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val vwm = Compaction.foldedWatermark(spark, s"$dir/vectors")
    val twm = Compaction.foldedWatermark(spark, s"$dir/tombstones")
    fs.listStatus(p).map(_.getPath).foreach { mp =>
      val n = mp.getName
      val owned = n.headOption.exists(c => c == 'i' || c == 'd') &&
        n.drop(1).forall(_.isDigit) &&
        n.drop(1).toLong <= (if (n.head == 'i') vwm else twm)
      if (owned) fs.delete(mp, false): Unit
    }
  }

  /** Compaction trigger: fold iff more than `maxIncrements` LIVE
    * increment directories accumulated under either tree. */
  def compactIndexIfNeeded(spark: SparkSession, dir: String,
                           maxIncrements: Int): (Int, Int) =
    if (Compaction.incrementCount(spark, s"$dir/vectors") > maxIncrements ||
        Compaction.incrementCount(spark, s"$dir/edges") > maxIncrements ||
        Tombstones.incrementCount(spark, dir) > maxIncrements)
      compactIndex(spark, dir)
    else (0, 0)

  /** RETENTION TRIM of the tombstone set — refuses while the audit
    * shows hidden vector or edge rows (trimming then would resurrect
    * them); after a trim, deleted vec_ids are re-ingestable (terminality
    * consciously waived — see [[graft.text.LexIndex.trimTombstones]]). */
  def trimTombstones(spark: SparkSession, dir: String): Unit = {
    val audit = erasureAudit(spark, dir).head()
    require(audit.getBoolean(audit.fieldIndex("physically_clean")),
      s"trimTombstones($dir): erasure not yet physical — " +
        s"${audit.getLong(1)} vector rows and ${audit.getLong(2)} edge " +
        "rows still hidden; run compactIndex first")
    Tombstones.clear(spark, dir)
  }

  /** BUCKET-OCCUPANCY DRIFT of the maintained graph — the aging monitor
    * for the frozen LSH geometry ([[graft.sim.PqIndex.codeUsageDrift]]'s
    * contract on the graph axis), computed from the stored bucket
    * columns alone: per layer, the L1 distance between the base's
    * bucket-occupancy distribution and the live increments'. New data
    * that fills the buckets the way the base did scores ~0; a domain
    * shift piles onto few buckets (degree joins fatten, navigability
    * thins) and the distance grows toward 2. Output is layers-sized and
    * each layer's support is parameter-bounded (≤ 2^finePlanes fine,
    * 2^4 coarse). With no live increment the comparison is against an
    * empty distribution (drift = 1 per layer) — gate on
    * [[Compaction.incrementCount]] as the PQ monitor's callers do. Same
    * decimal-quantized, coalesced-key arithmetic as the PQ monitor, so
    * the q348 oracle replays it term for term. */
  def bucketDrift(spark: SparkSession, dir: String): DataFrame = {
    val m = readMeta(spark, dir)
    val v = Compaction.view(spark, s"$dir/vectors")
    val cols = vectorCols(m)
    val base = v.readBase(cols).getOrElse(
      sys.error(s"no stored graph index under $dir"))
    val inc = v.readIncrements(cols)
      .getOrElse(base.limit(0))
    def usage(df: DataFrame, name: String): DataFrame = {
      val long = (0 to m.fineTables).map { l =>
        val (bcol, memberOf) = layerOf(l, m)
        df.filter(memberOf)
          .select(lit(l).as("layer"), col(bcol).as("bucket"))
      }.reduce(_.unionByName(_))
      val tot = long.groupBy("layer").agg(count(lit(1)).as(s"n_$name"))
      long.groupBy("layer", "bucket")
        .agg(count(lit(1)).as(s"c_$name")).join(tot, "layer")
    }
    val b = usage(base, "base")
    val i = usage(inc, "inc")
      .withColumnRenamed("layer", "layer_i")
      .withColumnRenamed("bucket", "bucket_i")
    // coalesced full outer: one-sided buckets keep their full mass under
    // their real (layer, bucket) — the exact shape the monitor must catch
    val joined = b.join(i,
        col("layer") <=> col("layer_i") && col("bucket") <=> col("bucket_i"),
        "full")
      .select(coalesce(col("layer"), col("layer_i")).as("layer"),
        coalesce(col("c_base"), lit(0L)).as("cb"),
        coalesce(col("c_inc"), lit(0L)).as("ci"),
        col("n_base"), col("n_inc"))
    joined
      .select(col("layer"), col("cb"), col("ci"),
        max(col("n_base")).over(Window.partitionBy("layer")).as("nb"),
        max(col("n_inc")).over(Window.partitionBy("layer")).as("ni"))
      .withColumn("_d",
        abs(coalesce(col("cb").cast("double") / col("nb").cast("double"),
              lit(0.0)) -
            coalesce(col("ci").cast("double") / col("ni").cast("double"),
              lit(0.0)))
          .cast("decimal(28,12)"))
      .groupBy("layer")
      .agg(round(sum(col("_d")).cast("double"), 6).as("l1_drift"))
  }

  /** REBUILD the stored graph under FRESH GEOMETRY — the act arm behind
    * [[bucketDrift]]'s monitor ([[graft.streaming.StreamingAnn
    * .reclusterIndex]] / [[graft.sim.PqIndex.retrainIndex]]'s contract on
    * the graph axis): an aged frozen LSH geometry (domain shift piling
    * new data onto few buckets → degree-cap starvation → recall decay)
    * is retired by re-deriving the plane slices from the NEXT
    * [[Similarity.epochHyperplanes]] epoch and re-sizing `nGroups` from
    * the current live corpus (the [[writeIndex]] rule), then rebuilding
    * vectors' bucket columns and the full edge set over the LIVE
    * membership from scratch.
    *
    * Atomicity: meta and the vector base flip TOGETHER in one
    * [[Compaction.publish]] pointer commit (fresh plane geometry routing
    * over stale bucket columns would corrupt every later restatement);
    * the edge base flips in its own root's commit immediately after,
    * with the whole rebuild serialized on the EDGES write lease — the
    * same lease every edge restatement takes, so no append/delete can
    * interleave. A reader between the two commits sees new vectors with
    * the old edges for one query — value-wise a stale-by-one-search
    * graph, never a torn one (search reads only vec_id/v and src/dst;
    * bucket columns feed maintenance, which this lease serializes).
    * Tombstone TERMINALITY survives: the rebuilt base is the
    * tombstone-filtered live read and the tombstone set itself is
    * untouched, so deleted ids stay suppressed against re-ingest.
    * Subsumed increments (vectors and edges) die under the watermarks
    * stamped into both new bases. Run between streams. */
  def rebuildIndex(spark: SparkSession, dir: String): Unit =
    Compaction.withWriteLease(spark, s"$dir/edges") {
      val m = readMeta(spark, dir)
      val vroot = s"$dir/vectors"; val eroot = s"$dir/edges"
      spark.catalog.refreshByPath(dir)
      val subsumedV = (Compaction.foldedWatermark(spark, vroot) +:
        Compaction.incrementIds(spark, vroot)).max
      val subsumedE = (Compaction.foldedWatermark(spark, eroot) +:
        Compaction.incrementIds(spark, eroot)).max
      val live = Similarity.cut(
        readVectors(spark, dir).select("vec_id", "v"), eager = false)
      val m2 = Meta(m.dim, m.degree, m.finePlanes, m.fineTables, m.hubMod,
        deriveGroups(m.finePlanes, m.fineTables, live.count()), m.epoch + 1)
      publishVectors(withBuckets(live, "vec_id", "v", m2), m2, dir,
        subsumedV)
      Compaction.gcIncrements(spark, vroot)
      // re-read through the committed pointer: the edge build must see the
      // NEW bucket columns (readMeta now resolves the epoch-bumped meta)
      val fresh = Similarity.cut(readVectors(spark, dir), eager = false)
      // the edges root's lease is already held (re-entrant publish)
      publishEdges(allLayerEdges(fresh, m2, None), dir, subsumedE)
      Compaction.gcIncrements(spark, eroot)
      gcMarkers(spark, dir)
      spark.catalog.refreshByPath(dir)
    }

  /** The closed drift loop on the graph axis ([[graft.streaming
    * .StreamingAnn.reclusterIfDrifted]] / [[graft.sim.PqIndex
    * .retrainIndexIfDrifted]]'s contract): when any layer's
    * [[bucketDrift]] breaches `maxDrift`, rebuild under fresh geometry
    * via [[rebuildIndex]] and return true; below threshold (or with no
    * live increments to compare — the just-compacted state) the index is
    * untouched. The report is layers-sized, so the check costs one
    * bucket-column aggregate. */
  def rebuildIfDrifted(spark: SparkSession, dir: String,
                       maxDrift: Double): Boolean = {
    if (Compaction.incrementCount(spark, s"$dir/vectors") == 0) return false
    val breached = bucketDrift(spark, dir)
      .filter(col("l1_drift") > maxDrift).limit(1).count() > 0
    if (breached) rebuildIndex(spark, dir)
    breached
  }

  /** ERASURE AUDIT ([[graft.text.LexIndex.erasureAudit]]'s readout on the
    * graph axis): tombstone count, the vector rows the anti-join hides,
    * and the LIVE-reachable edge rows still naming a deleted endpoint
    * (superseded in-grace increment bytes fall off at the next fold's
    * GC, as everywhere in the family). */
  def erasureAudit(spark: SparkSession, dir: String): DataFrame = {
    // ONE lazy plan (broadcast cross join of one-row aggregates) — a
    // single action when consumed, unionable into the one-job
    // five-family attest (see LexIndex.erasureAudit)
    val vHidden = Tombstones.hiddenRowCountDf(rawVectors(spark, dir), dir,
      "vec_id", "vector_rows_hidden")
    val eHidden = Tombstones.read(spark, dir) match {
      case None =>
        spark.range(1).select(lit(0L).as("edge_rows_hidden"))
      case Some(t) =>
        // union of two equi-semi-joins (edge rows are unique, so distinct
        // is the exact OR) — an OR-condition join would nested-loop the
        // whole edge set instead of broadcasting the tombstones
        val e = readEdges(spark, dir)
        e.join(broadcast(t), e("src") === t("tid"), "left_semi")
          .unionByName(
            e.join(broadcast(t), e("dst") === t("tid"), "left_semi"))
          .distinct().agg(count(lit(1)).as("edge_rows_hidden"))
    }
    Tombstones.countDf(spark, dir, "n_tombstones")
      .crossJoin(broadcast(vHidden))
      .crossJoin(broadcast(eHidden))
      .select(col("n_tombstones"), col("vector_rows_hidden"),
        col("edge_rows_hidden"),
        (col("vector_rows_hidden") === 0L && col("edge_rows_hidden") === 0L)
          .as("physically_clean"))
  }
}
