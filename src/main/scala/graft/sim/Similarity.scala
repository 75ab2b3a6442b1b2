package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (ARRAY<FLOAT>).
  *
  * Two tiers, mirroring how ANN systems scale:
  *  - brute-force cosine top-k: exact baseline; broadcast the (small) query
  *    set against the corpus — one pass, no shuffle of the corpus, ranking
  *    via per-query top-k windows.
  *  - LSH (random hyperplane / sign-random-projection, Charikar STOC'02):
  *    deterministic ±1 hyperplanes hash each vector to a bucket; search only
  *    within the query's bucket. At 100 TB the bucket join replaces the
  *    cross product, trading recall for a ~2^planes fan-in reduction; an
  *    IVF upgrade would swap the hash for learned centroids.
  *
  * All dot products run in fixed element order on doubles, so scores are
  * reproducible; ranking keys round to 6 decimals with id tie-breaks so
  * ordering is engine-portable.
  */
object Similarity {

  /** Embedding column as ARRAY<DOUBLE> (floats widen exactly). */
  def asDouble(emb: String): Column = expr(s"transform($emb, x -> cast(x AS DOUBLE))")

  /** Per-query top-k of a scored candidate frame via the binned two-pass
    * selection ([[graft.ops.Stats.extremeK]]), NOT a raw rank window: a
    * `row_number` partition is ONE task holding every candidate of that
    * query — the entire corpus for brute force, a hot cell/bucket for the
    * pruned families, either way the straggler at 100× — whereas the
    * binned passes are embarrassingly-parallel candidate rescans plus a
    * bounded final sort of ~k + n/bins rows per query. Results and ties
    * (value direction, then `vec_id` asc) are identical to the window
    * form, so every oracle hash is unchanged by construction.
    *
    * The scored frame is a handful of scalars per pair — far narrower
    * than the vectors/codes that produced it — and the selection scans
    * it twice, so a LAZY checkpoint caches the scored rows inside the
    * first pass and the similarity arithmetic runs exactly once per pair
    * (blocks are ContextCleaner-freed with the plan).
    *
    * Cluster caveat (measured trade, with an ESCAPE HATCH): a local
    * checkpoint truncates lineage, so under dynamic allocation /
    * preemption a LOST executor's blocks cannot recompute — the job
    * fails and is retried from the scan instead. On a static-executor
    * deployment (this engine's target shape) that risk is nil; a
    * deployment that preempts executors sets
    * `spark.graft.reliableCheckpoint=true` (plus a
    * `sparkContext.setCheckpointDir` on a shared FS) and every cut in
    * this family becomes a RELIABLE checkpoint — same values
    * (CheckpointSpec pins it), at the cost of a write barrier per
    * selection. */
  private[graft] def topKPerQuery(cand: DataFrame, value: String, k: Int,
                                  descending: Boolean = true): DataFrame =
    graft.ops.Stats.extremeK(cut(cand, eager = false), value,
        Seq("q_id"), k,
        descending = descending, tie = Seq(col("vec_id").asc))
      .withColumnRenamed("_rn", "rank")

  /** Materialization cut honoring the deployment's checkpoint policy —
    * [[graft.ops.Checkpoint.cut]] (kept here as the similarity family's
    * historical entry point; all families share the one implementation). */
  private[graft] def cut(df: DataFrame, eager: Boolean): DataFrame =
    graft.ops.Checkpoint.cut(df, eager)

  /** Cosine similarity of two ARRAY<DOUBLE> columns, fixed evaluation order.
    * Built-in HOF composition — reference implementation; `cosineNative`
    * (graft.expressions.CosineSimilarity) computes the identical value in a
    * single fused codegen loop and is what the search operators use. */
  def cosine(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) / " +
      s"(sqrt(aggregate($a, 0D, (acc, x) -> acc + x * x)) * " +
      s"sqrt(aggregate($b, 0D, (acc, x) -> acc + x * x)))")

  /** Native codegen'd cosine (same accumulation order → same doubles). */
  def cosineNative(spark: org.apache.spark.sql.SparkSession, a: String, b: String): Column = {
    graft.expressions.CosineSimilarity.register(spark)
    expr(s"graft_cosine($a, $b)")
  }

  /** Brute-force exact top-k neighbours for each query vector.
    * queries is expected to be small (broadcast); corpus streams past it.
    *
    * The per-query selection rides [[graft.ops.Stats.extremeK]]'s two-pass
    * binned top-k, NOT a raw rank window: with a handful of queries a
    * `row_number` partition would be the ENTIRE corpus sorted by one task
    * (the straggler that kills the eval harness at 100× corpus), whereas
    * extremeK's passes are embarrassingly-parallel corpus rescans (scan +
    * broadcast join, no shuffle) plus a bounded final sort of ~k + n/bins
    * rows per query. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, id: String, emb: String, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"))
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    val cand = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(cosineNative(corpus.sparkSession, "qv", "v"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** Scalar int8 quantization per vector (the standard memory/shuffle
    * reducer for vector search at corpus scale): codes = floor(x·127/mx +
    * 0.5) where mx = max |x|, so codes ∈ [−127, 127] and dequantization is
    * codes·mx/127 with max abs error mx/254. A 768-dim float32 embedding
    * drops from 3 KB to 776 B — 4× less scan, shuffle, and cache for the
    * candidate stage; exact float rerank stays on the short candidate list.
    * floor on IEEE doubles is exact, so codes are engine-portable (the q81
    * oracle recomputes them bit-identically in DuckDB); zero vectors map to
    * all-zero codes. */
  def quantizeInt8(df: DataFrame, id: String, emb: String): DataFrame =
    df.select(col(id), asDouble(emb).as("v"))
      .withColumn("mx",
        expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .withColumn("codes",
        expr("CASE WHEN mx = 0 THEN transform(v, x -> 0) " +
          "ELSE transform(v, x -> CAST(floor(x * 127.0 / mx + 0.5) AS INT)) END"))
      .drop("v")

  /** Deterministic ±1 hyperplanes (seedless closed form so any engine can
    * regenerate them — see lshOracleDotSql). */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Int]] =
    (0 until nPlanes).map(j => (0 until dim).map(d =>
      if (((j * 131 + d * 37) % 7) % 2 == 0) 1 else -1))

  /** [[hyperplanes]] for a rebuild EPOCH: epoch 0 is the historical
    * matrix verbatim (pinned by every existing oracle); epoch e > 0 mixes
    * e into the closed form under a larger modulus — a genuinely
    * different plane matrix per epoch (offsetting the j index would not
    * work: the mod-7 form is period-7 in j, so any multiple-of-7 offset
    * reproduces the same planes). Still seedless: any engine regenerates
    * plane (j, d, e) from the integers alone, so epoch-e graph builds
    * stay fully oracle-replayable. */
  def epochHyperplanes(nPlanes: Int, dim: Int, epoch: Int): Seq[Seq[Int]] =
    if (epoch == 0) hyperplanes(nPlanes, dim)
    else (0 until nPlanes).map(j => (0 until dim).map(d =>
      if (((j * 131 + d * 37 + epoch * (97 + j + d)) % 101) % 2 == 0) 1
      else -1))

  /** Signed-sum expression for one hyperplane (fixed left-to-right order). */
  private def planeDot(v: String, plane: Seq[Int]): String =
    plane.zipWithIndex.map { case (s, d) =>
      val e = s"element_at($v, ${d + 1})"
      if (s > 0) s"($e)" else s"(-$e)"
    }.mkString(" + ")

  /** SQL text of the same signed sum for the DuckDB oracle (1-based list
    * indexing there too). */
  def planeDotSql(v: String, plane: Seq[Int]): String =
    plane.zipWithIndex.map { case (s, d) =>
      val e = s"$v[${d + 1}]"
      if (s > 0) s"($e)" else s"(-$e)"
    }.mkString(" + ")

  /** LSH bucket id: bit j = sign(v · plane_j). Composed (textual-sum) form —
    * reference implementation and the shape the DuckDB oracle mirrors; the
    * expression tree grows as planes×dim, so beyond ~dim 100 use
    * `lshBucketNative` (bit-identical, constant-size bytecode). */
  def lshBucket(v: String, planes: Seq[Seq[Int]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(expr(s"${planeDot(v, p)} >= 0D"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Native fused-loop LSH bucket (graft.expressions.LshBucket): same bits
    * as `lshBucket` for any plane matrix, but codegen size is independent of
    * dimension — at dim 768 the composed form exceeds janino method limits
    * and silently drops out of whole-stage codegen (ExpressionSpec pins
    * both properties). */
  def lshBucketNative(spark: org.apache.spark.sql.SparkSession, v: String,
                      planes: Seq[Seq[Int]]): Column = {
    val name = graft.expressions.LshBucket.register(spark, planes)
    expr(s"$name($v)")
  }

  /** Embedding-cosine near-duplicate pairs: LSH bucket candidates (no O(n²)
    * cross product), exact cosine filter ≥ threshold. The all-pairs work
    * happens only inside buckets — at corpus scale the bucket join is the
    * only shuffle, same shape as MinHash band dedup. */
  def cosineNearDupPairs(corpus: DataFrame, id: String, emb: String,
                         minSim: Double, nPlanes: Int, dim: Int): DataFrame = {
    graft.expressions.CosineSimilarity.register(corpus.sparkSession)
    val planes = hyperplanes(nPlanes, dim)
    // not persisted here: the self-join recomputes the cheap bucket
    // projection once per side, and a method-local persist could never be
    // released by the caller; persist `corpus` externally for repeated use
    val c = corpus.select(col(id).as("vid"), asDouble(emb).as("v"))
      .withColumn("bucket", lshBucketNative(corpus.sparkSession, "v", planes))
    c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        round(expr("graft_cosine(a.v, b.v)"), 6).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540): assign
    * every embedding to a coarse cluster, then inside each cluster drop any
    * doc that has a lower-id near-duplicate (cosine ≥ `minSim`). Returns one
    * row per doc: (vec_id, cluster, keep).
    *
    * Deterministic, engine-portable variant for the oracle: the cluster
    * "centroids" are the embeddings of the `nCentroids` lowest ids, so any
    * engine regenerates the identical assignment (the paper's randomized
    * KMeans is swapped for `ivfLearned`'s seeded KMeans in production — the
    * downstream pruning is unchanged). The keep rule (survives iff no
    * same-cluster near-dup with a smaller id) is the paper's keep-one-per-
    * duplicate-group made deterministic.
    *
    * Scale shape: the centroid set is broadcast; assignment is one corpus
    * scan with a map-side-combined argmax (min of a (−sim, cid) struct — no
    * per-doc window shuffle). The quadratic stage self-joins ONLY within a
    * cluster (one shuffle keyed by cluster id), so shuffled bytes ∝ corpus
    * embeddings and the pair count is bounded by the largest cluster — at
    * corpus scale raise `nCentroids` so clusters stay ~10⁴-doc sized (the
    * paper uses 11k clusters for 5B docs) and cap outliers like LSH buckets.
    * The assignment frame feeds both join sides plus the output, so it is
    * persisted (released by the ContextCleaner, as in minhashCandidates). */
  def semDedup(corpus: DataFrame, id: String, emb: String,
               nCentroids: Int, minSim: Double): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val c = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"))
    val centroids = c.orderBy(col("vec_id").asc).limit(nCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // argmax over centroids without a window: min of (−sim, cid) picks the
    // highest rounded sim with lowest-cid tie-break; (ns, cid) is unique per
    // doc so the trailing payload fields never decide the comparison
    val assigned = c.crossJoin(broadcast(centroids))
      .withColumn("csim", round(expr("graft_cosine(v, cv)"), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("csim")).as("ns"), col("cid"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.cid").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pruneWithinClusters(assigned, minSim)
  }

  /** Production SemDeDup: the coarse step is `ivfLearned`'s seeded KMeans
    * (the paper's actual clustering) instead of the oracle-portable
    * first-n-ids quantizer — learned cells track the data distribution, so
    * near-dup pairs land in the same cell far more reliably on sorted or
    * skewed corpora. Downstream pruning is identical. Deterministic for a
    * fixed seed (same property as `ivfLearned`), but not reproducible in
    * another engine — covered by AnnSpec's drop-recall comparison, while
    * q92 oracle-checks the shared prune stage through the portable coarse
    * step. */
  def semDedupLearned(corpus: DataFrame, id: String, emb: String,
                      nCells: Int, minSim: Double,
                      seed: Long = 42L): DataFrame = {
    graft.expressions.CosineSimilarity.register(corpus.sparkSession)
    val (assignedRaw, _) = ivfLearned(corpus, id, emb, nCells, seed)
    val assigned = assignedRaw
      .select(col("vec_id"), col("v"), col("cell").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pruneWithinClusters(assigned, minSim)
  }

  /** SemDeDup's prune: inside each coarse cluster, drop any doc with a
    * lower-id near-duplicate (cosine ≥ `minSim`). The quadratic work is
    * cluster-local (one shuffle keyed by cluster id); `assigned` must be
    * (vec_id, v, cluster) and persisted by the caller (it feeds both join
    * sides plus the output). */
  private def pruneWithinClusters(assigned: DataFrame,
                                  minSim: Double): DataFrame = {
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("b.vec_id") < col("a.vec_id"))
      .filter(round(expr("graft_cosine(a.v, b.v)"), 6) >= minSim)
      .select(col("a.vec_id")).distinct()
    assigned.select("vec_id", "cluster")
      .join(dropped.withColumn("is_dup", lit(1)), Seq("vec_id"), "left_outer")
      .withColumn("keep", when(col("is_dup").isNull, 1).otherwise(0))
      .select("vec_id", "cluster", "keep")
  }

  /** IVF-style ANN: coarse quantizer (cluster centroids) routes each query
    * to its nearest cell; exact rerank runs only over that cell's posting
    * list. Here the cells are the corpus's `label` partitions and centroids
    * are exact quantized means — a production build would learn cells with
    * seeded KMeans (same query path, learned quantizer). Probing 1 cell ≈
    * |corpus|/|cells| candidates per query. */
  /** Exact, engine-portable cell centroids (quantized like q36_centroids):
    * per-dimension 6dp-quantized exact means — ONE aggregate, reproducible
    * bit-for-bit in the oracle engine, and the reusable INDEX artifact the
    * stored/incremental IVF contract persists. Output (cid, cv). */
  def ivfCentroids(corpus: DataFrame, cell: String, emb: String): DataFrame =
    corpus
      .select(col(cell).as("cid"), posexplode(asDouble(emb)).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg((sum(floor(col("x") * 1e6 + 0.5).cast("long")).cast("double") / 1e6 /
        count(lit(1))).as("cx"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pcs"))
      .select(col("cid"), expr("transform(pcs, p -> p.cx)").as("cv"))

  /** Assign a batch of vectors to FIXED stored centroids (nearest by
    * rounded cosine, cid tie-break) — the maintenance half of the
    * incremental-index contract: because centroids are FROZEN,
    * assign(old ∪ delta) = assign(old) ∪ assign(delta) exactly, so a new
    * batch appends to the stored posting lists without touching existing
    * rows (the stored-signature-index contract of incremental dedup,
    * applied to vectors). Output (vec_id, v, cell) — [[annIvfStored]]'s
    * posting-list schema. */
  def ivfAssign(batch: DataFrame, id: String, emb: String,
                centroids: DataFrame): DataFrame = {
    graft.expressions.CosineSimilarity.register(batch.sparkSession)
    batch.select(col(id).as("vec_id"), asDouble(emb).as("v"))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", round(expr("graft_cosine(v, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid").as("cell"))
  }

  /** Search a STORED index — posting lists (vec_id, v, cell) + centroids
    * (cid, cv), both possibly incrementally maintained: deterministic
    * nProbe routing (rounded sims, cid tie-breaks) and exact rank within
    * probed lists, the [[annIvfFiltered]] search shape minus the
    * predicate. At scale the posting lists are `cell`-partitioned parquet
    * and routing = partition pruning. */
  def annIvfStored(assigned: DataFrame, centroids: DataFrame,
                   queries: DataFrame, id: String, emb: String, k: Int,
                   nProbe: Int): DataFrame = {
    graft.expressions.CosineSimilarity.register(assigned.sparkSession)
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    val routed = q.crossJoin(broadcast(centroids))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
      .select("q_id", "qv", "cid")
    // top-k rides the binned selection, not a per-query rank window: a
    // window partition is one query's probed posting lists (corpus/nCells
    // × nProbe rows) in ONE task — pruned, but a hot cell at 100× is
    // still tens of GB sorted by a single straggler
    val cand = assigned.select(col("vec_id"), col("cell").as("cid"), col("v"))
      .join(broadcast(routed), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** Persist an IVF index: posting lists land CELL-PARTITIONED (probe =
    * partition pruning at read time — untouched cell directories never
    * open, the [[graft.text.Dedup.writeSignatureIndex]] contract applied
    * to vectors), centroids land beside them as the frozen quantizer. */
  def writeIvfIndex(assigned: DataFrame, centroids: DataFrame,
                    dir: String): Unit =
    graft.streaming.Compaction.publish(assigned.sparkSession, dir,
        Seq("centroids", "postings")) { out =>
      centroids.write.mode("overwrite").parquet(out("centroids"))
      assigned.select(col("vec_id"), col("v"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(out("postings"))
    }

  /** Incremental maintenance: assign a new batch to the STORED (frozen)
    * centroids and APPEND to the cell-partitioned posting lists — no
    * existing row is touched, and because assignment under fixed
    * centroids distributes over union, the maintained index is
    * value-identical to one built from scratch over everything ingested
    * (AnnSpec pins it; [[ivfCellDrift]] is the monitor that says when
    * the frozen quantizer has aged out and a recluster is due). */
  def appendIvfBatch(batch: DataFrame, id: String, emb: String,
                     dir: String): Unit = {
    // one view: the centroids the batch assigns under and the posting
    // tree it appends into must be the same generation (a concurrent
    // recluster flips them together). Appending files into the live
    // generation is snapshot-safe for readers — their captured listing
    // only ever misses the newest rows, it never chases deleted files.
    val v = graft.streaming.Compaction.view(batch.sparkSession, dir)
    val cents = batch.sparkSession.read.parquet(v.path("centroids"))
    ivfAssign(batch, id, emb, cents)
      .write.mode("append").partitionBy("cell")
      .parquet(v.path("postings"))
  }

  /** DELETE vectors from a stored index — the takedown arm
    * ([[graft.streaming.Tombstones]]): the delete lands as a tombstone
    * increment, [[readIvfIndex]] anti-joins it (logically gone from the
    * next search, and from the drift report's member means), and the next
    * [[reclusterIvfIndex]] rewrites the posting lists without the rows —
    * the physical erasure. Terminal: re-ingesting a deleted vec_id via
    * [[appendIvfBatch]] is suppressed forever. Returns true iff the batch
    * landed (false = dropped by the fold watermark — manual batch ids
    * must be monotone per index). */
  def deleteFromIvfIndex(ids: DataFrame, dir: String, batchId: Long): Boolean =
    graft.streaming.Tombstones.append(ids, dir, batchId)

  /** A stored index read back: (posting lists, centroids). Tombstoned
    * vectors are anti-joined out (broadcast — the tombstone set is
    * deleted-ids-sized); the probe's cell partition filter still reaches
    * the scan because `cell` is a left-side column. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): (DataFrame, DataFrame) = {
    // one view: a concurrent recluster promotes centroids + postings
    // together; resolving each separately could mix generations
    val v = graft.streaming.Compaction.view(spark, dir)
    (graft.streaming.Tombstones.applyTo(
        spark.read.parquet(v.path("postings")), dir, "vec_id"),
      spark.read.parquet(v.path("centroids")))
  }

  /** RECLUSTER a stored index — the arm [[ivfCellDrift]] triggers: when
    * append-only maintenance has aged the frozen quantizer out, rebuild
    * the base with FRESH centroids. One Lloyd refresh, fully
    * deterministic (so the whole loop stays oracle-checkable, unlike a
    * from-scratch KMeans): new centroids = the current fixed-point means
    * of each live cell (exactly the [[ivfCellDrift]] readout — drained
    * cells have no mean and drop out of the quantizer), then every stored
    * vector re-assigns to the nearest new centroid and the posting lists
    * rewrite cell-partitioned. Centroids and postings must flip TOGETHER —
    * fresh centroids routing over old posting lists silently degrades
    * every search — so both land as ONE
    * [[graft.streaming.Compaction.publish]]: written in full as a new
    * generation, made live by a single pointer commit. A crash leaves
    * either the old index or the new index readable — as a SET — never a
    * mix, never neither.
    *
    * Scale shape: one postings scan for the means (cells×dim aggregate),
    * one for the re-assign (broadcast centroids, no shuffle), one
    * cell-partitioned write — the same cost as the original build; no
    * pairwise work anywhere. */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    spark.catalog.refreshByPath(dir)
    // tombstones apply through readIvfIndex: the rebuilt base is written
    // WITHOUT deleted vectors (physical erasure), and the fresh centroids
    // are means over live members only
    val members = readIvfIndex(spark, dir)._1
      .select(col("vec_id"), col("cell"), col("v"))
    graft.streaming.Compaction.publish(spark, dir,
        Seq("centroids", "postings")) { out =>
      ivfCentroids(members, "cell", "v")
        .write.mode("overwrite").parquet(out("centroids"))
      ivfAssign(members.select(col("vec_id"), col("v")), "vec_id", "v",
          spark.read.parquet(out("centroids")))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(out("postings"))
    }
    spark.catalog.refreshByPath(dir)
  }

  /** Physically erase tombstoned vectors from the stored posting lists
    * WITHOUT touching the quantizer — the vacuum arm of this layout (the
    * [[graft.sim.PqIndex.vacuumIvfPq]] contract on raw vectors): a pure
    * deletion campaign has no drift breach to ride, so its physical
    * erasure needs an explicit cell-partitioned rewrite. No-op when no
    * tombstoned row is physically present. */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Unit = {
    import graft.streaming.{Compaction, Tombstones}
    Tombstones.compact(spark, dir)
    if (Compaction.resolve(spark, dir, "postings").exists(p =>
        Tombstones.needsVacuum(spark.read.parquet(p), dir, "vec_id")))
      Compaction.rewriteBase(spark, dir, "postings")(df =>
        Tombstones.applyTo(df.select("vec_id", "v", "cell"), dir,
          "vec_id")) { (df, out) =>
        df.write.mode("overwrite").partitionBy("cell").parquet(out)
      }
  }

  /** The closed drift loop on this layout (the
    * [[graft.streaming.StreamingAnn.reclusterIfDrifted]] contract for
    * batch-maintained indexes): read the [[ivfCellDrift]] report of the
    * stored postings against the stored centroids; when any cell breaches
    * `maxDrift` — or has drained to zero members (the NULL-drift row the
    * report surfaces) — rebuild via [[reclusterIvfIndex]] and return
    * true. Below threshold the index is untouched; the check costs one
    * cells-sized aggregate over the postings. */
  def reclusterIvfIndexIfDrifted(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, maxDrift: Double): Boolean = {
    val (post, cents) = readIvfIndex(spark, dir)
    val breached = ivfCellDrift(
        post.select(col("vec_id"), col("cell"), col("v")), cents)
      .filter(col("n_members") === 0 || col("drift") > maxDrift)
      .limit(1).count() > 0
    if (breached) reclusterIvfIndex(spark, dir)
    breached
  }

  /** Search a stored ON-DISK index with static cell pruning: route the
    * queries against the (broadcast) centroids, collect the probed cell
    * ids — bounded by |queries|·nProbe, a parameter-sized driver set,
    * never data-sized — and push them as an `isin` partition filter on
    * the posting-list scan, so only the probed cell directories open
    * (PartitionFilters, spec-asserted). The rank itself is
    * [[annIvfStored]] over the pruned lists — same results, same ties. */
  def annIvfIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, id: String, emb: String, k: Int,
                    nProbe: Int): DataFrame = {
    val (post, cents) = readIvfIndex(spark, dir)
    annIvfPruned(post, cents, queries, id, emb, k, nProbe)
  }

  /** FILTERED search over the stored ON-DISK index — [[annIvfFiltered]]'s
    * semantics on [[annIvfIndexed]]'s layout, the "search within a
    * tenant/language/license" serving query: the metadata predicate
    * applies INSIDE the probed posting lists (a data filter pushed to the
    * same pruned scan the cell partition filter reaches — never a
    * post-filter of an unfiltered top-k, never a brute-force scan of all
    * matches), then the shared binned ranking runs over survivors only.
    * Queries whose probed cells hold fewer than k survivors return fewer
    * rows — the IVF contract; raise nProbe for recall under selective
    * predicates. */
  def annIvfIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
                            dir: String, queries: DataFrame, id: String,
                            emb: String, pred: Column, k: Int,
                            nProbe: Int): DataFrame = {
    val (post, cents) = readIvfIndex(spark, dir)
    annIvfPruned(post.filter(pred), cents, queries, id, emb, k, nProbe)
  }

  /** [[annIvfIndexed]]'s probe on caller-supplied frames — the same
    * static cell pruning (the probed cell list is |queries|·nProbe driver
    * values pushed as a filter; when `post` is a cell-partitioned parquet
    * scan it lands as the partition filter) for any stored layout, e.g.
    * [[graft.streaming.StreamingAnn.readPostings]]'s base ∪ increments. */
  def annIvfPruned(post: DataFrame, cents: DataFrame, queries: DataFrame,
                   id: String, emb: String, k: Int,
                   nProbe: Int): DataFrame = {
    graft.expressions.CosineSimilarity.register(post.sparkSession)
    val routed = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
    val cells = routed.select("cid").distinct().collect().map(_.get(0))
    annIvfStored(post.filter(col("cell").isInCollection(cells)), cents,
      queries, id, emb, k, nProbe)
  }

  /** RETRIEVAL QUALITY of a stored IVF index, as a metrics frame: search
    * the index ([[annIvfIndexed]] — cell-pruned probe), score against the
    * exhaustive cosine truth over the index's OWN posting lists
    * ([[knnBrute]], extremeK-routed), and emit [[rankingMetrics]]. The
    * truth depends only on the ingested vectors, not the quantizer, so
    * evaluating the SAME index before and after a recluster isolates
    * exactly the routing quality the recluster was meant to repair —
    * the readout [[ivfCellDrift]] predicts and
    * `Retrieval.retrievalDrift`-style rollups consume.
    *
    * Scale shape: one pruned probe (parameter-bounded cells), one brute
    * truth pass over the postings (queries are few by construction of an
    * eval battery), metric joins on k-per-query frames. */
  def annEvalStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, id: String, emb: String, k: Int,
                    nProbe: Int, truth: Option[DataFrame] = None): DataFrame = {
    val res = annIvfIndexed(spark, dir, queries, id, emb, k, nProbe)
      .select("q_id", "vec_id", "rank")
    rankingMetrics(res,
      truth.getOrElse(annEvalTruth(spark, dir, queries, id, emb, k)), k)
  }

  /** The exhaustive truth [[annEvalStored]] scores against — exposed so a
    * before/after comparison (q328's shape) computes it ONCE: it depends
    * only on the ingested vectors, which a recluster permutes but never
    * changes. */
  def annEvalTruth(spark: org.apache.spark.sql.SparkSession, dir: String,
                   queries: DataFrame, id: String, emb: String,
                   k: Int): DataFrame = {
    val (post, _) = readIvfIndex(spark, dir)
    knnBrute(
      post.select(col("vec_id"), col("v").as(emb)),
      queries.select(col(id).as("vec_id"), col(emb)), "vec_id", emb, k)
  }

  /** Per-cell drift of a maintained index against its FROZEN centroids:
    * for each cell, the cosine between the stored centroid and the
    * current fixed-point mean of the cell's members (the
    * [[ivfCentroids]] quantized-long trick, so the readout is
    * order-independent and engine-exact) plus the member count — the
    * [[embeddingDrift]] monitor pointed at the index itself. A cell
    * whose members have drifted from the centroid that routes queries
    * to it is a cell whose recall is decaying: this is the recluster
    * trigger for [[appendIvfBatch]]-maintained indexes. Emits
    * (cid, n_members, cos_sim@6dp, drift = 1 − cos). */
  def ivfCellDrift(assigned: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val cur = ivfCentroids(assigned.select(col("vec_id"),
        col("cell"), col("v")), "cell", "v")
      .select(col("cid"), col("cv").as("_mv"))
    val counts = assigned.groupBy(col("cell").as("cid"))
      .agg(count(lit(1)).as("n_members"))
    // LEFT join from the stored centroids: a cell whose members have all
    // drained away (zero current members) is the one state a recluster
    // trigger most needs to see — it surfaces as n_members = 0 with NULL
    // cos_sim/drift instead of silently vanishing from the report
    centroids.select(col("cid"), col("cv"))
      .join(cur, Seq("cid"), "left").join(counts, Seq("cid"), "left")
      .withColumn("cos_sim",
        when(col("_mv").isNotNull, round(expr("graft_cosine(cv, _mv)"), 6)))
      .select(col("cid"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("cos_sim"), round(lit(1.0) - col("cos_sim"), 6).as("drift"))
  }

  def annIvf(corpus: DataFrame, queries: DataFrame, id: String, emb: String,
             cell: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    // exact, engine-portable centroids (quantized like q36_centroids)
    val centroids = ivfCentroids(corpus, cell, emb)
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    // route each query to its nearest centroid (deterministic: rounded sim,
    // cid tiebreak), then exact-rank within that cell only
    val routed = q.crossJoin(broadcast(centroids))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") === 1)
      .select("q_id", "qv", "cid")
    val c = corpus.select(col(id).as("vec_id"), col(cell).as("cid"), asDouble(emb).as("v"))
    // binned top-k, not a rank window — one cell per query is still a
    // single-task sort of corpus/nCells rows at scale
    val cand = c.join(broadcast(routed), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "cid", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "cid", "vec_id", "sim", "rank")
  }

  /** Production-form IVF: learn the coarse quantizer with seeded KMeans
    * (deterministic for a fixed seed + partitioning of the training sample)
    * and search the `nProbe` nearest cells per query. Not oracle-checkable
    * (learned centroids aren't reproducible in another engine) — covered by
    * recall specs instead. Returns (assignments with `cell`, annSearch fn).
    */
  def ivfLearned(corpus: DataFrame, id: String, emb: String, nCells: Int,
                 seed: Long = 42L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.feature.VectorAssembler
    val spark = corpus.sparkSession
    val toVec = org.apache.spark.ml.functions.array_to_vector(asDouble(emb))
    val base = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"),
      toVec.as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setSeed(seed).setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(base)
    val assigned = model.transform(base).select(col("vec_id"), col("v"), col("cell"))
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    import spark.implicits._
    (assigned, centroids.toDF("cell", "cv"))
  }

  /** ANN over a learned IVF index: route each query to its `nProbe` nearest
    * centroids, exact-rerank only those cells' posting lists. */
  def annIvfLearned(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
                    id: String, emb: String, k: Int, nProbe: Int): DataFrame = {
    val spark = assigned.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    val routed = q.crossJoin(broadcast(centroids))
      .withColumn("csim", expr("graft_cosine(qv, cv)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rn") <= nProbe)
      .select("q_id", "qv", "cell")
    // binned top-k, not a rank window (see topKPerQuery): nProbe learned
    // cells per query still land one task per query under row_number
    val cand = assigned.join(broadcast(routed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** FILTERED ANN: top-k nearest neighbors among corpus rows satisfying a
    * metadata predicate — the retrieval shape behind "similar documents
    * from source X newer than T" (every production vector store exposes
    * it; the hard part is doing it without a full scan).
    *
    * Strategy = single-index pre-filter-in-cell: the coarse quantizer is
    * built over the FULL corpus (the index is built once; the predicate
    * changes per query and must not require re-indexing), each query
    * routes to its `nProbe` nearest cells, and the predicate is applied to
    * the probed posting lists BEFORE scoring — so the exact-rank cost is
    * |matching rows in probed cells|, never |corpus| (post-filtering) nor
    * |matching rows| (pre-filter brute force). `nProbe` is the recall
    * knob: a selective predicate thins each cell's survivors, so filtered
    * search probes MORE cells than unfiltered for the same recall (the
    * standard adaptive response).
    *
    * Selectivity fallback, IN CODE: when the predicate is so selective
    * that ≤ k·nCells rows survive in the whole corpus, cell routing can
    * no longer beat scoring the survivors directly — the operator then
    * routes itself to [[knnBrute]] over the filtered corpus, which is
    * both cheaper AND exact (recall 1.0 by construction, AnnSpec pins
    * the switch). The estimate is ONE tiny aggregate (survivor count +
    * cell count — at 100 TB, a predicate-pushed metadata scan); the
    * probed-cell path's results are unchanged when the fallback does not
    * fire.
    * At 100 TB the posting lists are the `cell`-partitioned parquet from
    * [[ivfLearned]]'s assignments, so cell routing becomes partition
    * pruning and the predicate pushes to the parquet scan — the filter
    * costs column-statistics, not compute. Deterministic like [[annIvf]]
    * (quantized exact-mean centroids, rounded sims, id tiebreaks), so the
    * whole path is oracle-checkable cross-engine. */
  def annIvfFiltered(corpus: DataFrame, queries: DataFrame, id: String,
                     emb: String, cell: String, pred: Column, k: Int,
                     nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val sel = corpus.agg(
      count(when(pred, 1)).as("_nsurv"),
      countDistinct(col(cell)).as("_ncells")).head()
    if (sel.getLong(0) <= k.toLong * sel.getLong(1))
      return knnBrute(corpus.filter(pred), queries, id, emb, k)
    val centroids = ivfCentroids(corpus, cell, emb)
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    val routed = q.crossJoin(broadcast(centroids))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
      .select("q_id", "qv", "cid")
    // predicate FIRST: at scale this is the parquet-pushed filter over the
    // pruned cell partitions; everything downstream sees survivors only
    val c = corpus.filter(pred)
      .select(col(id).as("vec_id"), col(cell).as("cid"), asDouble(emb).as("v"))
    // binned top-k over the probed survivors, not a per-query rank window
    val cand = c.join(broadcast(routed), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** ANN JOIN — top-k nearest neighbors for EVERY corpus vector at once,
    * by shared cell routing (the global near-dup-pairs shape: "for each of
    * N documents, its k most similar documents" — distinct from per-query
    * search, and the step every corpus-wide semantic-dedup / link-graph
    * build needs). Each vector plays BOTH roles: it sits in its assigned
    * cell's posting list, and as a query it routes to its `nProbe` nearest
    * centroids; candidates are the posting lists of probed cells, so total
    * pair work is Σ_cells |probes into cell|·|cell| — cell-bucketed, never
    * the N² cross join. The cid join is shuffle-hash on the cell key (both
    * sides corpus-sized — nothing broadcasts), so cells should number
    * ~√N at scale for both balance and candidate bound; the per-query
    * selection rides [[topKPerQuery]]'s binned two-pass extremeK — a raw
    * rank window would land every candidate of a query in ONE sorting
    * task, and a skewed hot cell repeats that |cell|-row sort for every
    * vector probing it.
    *
    * Deterministic like [[annIvf]] (quantized exact-mean centroids,
    * rounded sims, id tie-breaks) — the q260 oracle replays routing,
    * candidate generation, and ranking verbatim. Self-pairs excluded. */
  def annJoin(corpus: DataFrame, id: String, emb: String, cell: String,
              k: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    // feeds the centroid aggregate, the routing side, and the posting side
    // — lazy localCheckpoint so the scan + float→double runs once; unlike
    // persist, the blocks are ContextCleaner-freed when the returned
    // (lazy) plan is dropped, so repeated calls can't pin corpus-sized
    // caches in CacheManager for the session lifetime
    val base = cut(corpus.select(col(id).as("vec_id"), col(cell).as("cid"),
        asDouble(emb).as("v")), eager = false)
    val centroids = ivfCentroids(base, "cid", "v")
    val routed = base.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
      .select("q_id", "qv", "cid")
    val cand = base.join(routed, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** [[annJoin]] served off the STORED index — the corpus-wide top-k
    * neighbor join (semantic-dedup / link-graph build) without re-reading
    * or re-embedding the corpus: posting lists and centroids come from
    * [[writeIvfIndex]]'s on-disk layout (tombstones already anti-joined by
    * [[readIvfIndex]]), every stored vector routes to its `nProbe` nearest
    * stored centroids, candidates are the probed posting lists, ranking is
    * the shared binned selection. Identical results to [[annJoin]] over
    * the same (cells, vectors) — AnnSpec and the shared q260 oracle pin
    * it. Same cost shape: cell-bucketed, never N²; the routing side and
    * posting side are one persisted scan of the stored lists. */
  def annJoinIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     k: Int, nProbe: Int): DataFrame = {
    graft.expressions.CosineSimilarity.register(spark)
    val (post, cents) = readIvfIndex(spark, dir)
    // lazy localCheckpoint, not persist — same reason as [[annJoin]]:
    // a serving process calls this per maintenance cycle, and persist
    // would pin a never-unpersisted corpus-sized cache per call
    val base = cut(post.select(col("vec_id"), col("cell").as("cid"),
      col("v")), eager = false)
    val routed = base.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(expr("graft_cosine(qv, cv)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
      .select("q_id", "qv", "cid")
    val cand = base.join(routed, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** Corpus-wide SEMANTIC NEAR-DUP DECISIONS from the [[annJoin]]: every
    * pair with cosine ≥ `minSim` among each vector's top-k cell-routed
    * neighbors, canonicalized to (dup_id > keep_id) with the smaller id
    * kept — the global SemDeDup decision list at scale (where [[semDedup]]
    * prunes within coarse clusters, this emits the PAIRS, the auditable
    * artifact a curation run wants to log). Each unordered pair may be
    * discovered from either side (or both — mutual neighbors); `distinct`
    * collapses them, exact because sim is symmetric and pre-rounded.
    * Same cost shape as [[annJoin]]: cell-bucketed, never N². */
  def semDedupPairs(corpus: DataFrame, id: String, emb: String,
                    cell: String, k: Int, nProbe: Int,
                    minSim: Double): DataFrame =
    annJoin(corpus, id, emb, cell, k, nProbe)
      .filter(col("sim") >= minSim)
      .select(greatest(col("q_id"), col("vec_id")).as("dup_id"),
        least(col("q_id"), col("vec_id")).as("keep_id"), col("sim"))
      .distinct()

  /** Retrieval-quality metrics of an ANN result set against a ground-truth
    * ranking — recall@k, MRR@k, nDCG@k per query plus the macro averages
    * (the numbers an index-tuning loop optimizes; the AnnSpec recall
    * helper promoted to a first-class, oracle-checkable operator). Both
    * inputs are (q_id, vec_id, rank) frames (`rank` 1-based, e.g.
    * [[annIvfStored]] output and a [[knnBrute]] truth); rows beyond `k`
    * are ignored on both sides. Binary relevance: a result is a hit iff
    * its (q_id, vec_id) appears in the truth top-k. nDCG uses the
    * standard 1/log₂(r+1) gains with the ideal DCG over min(k, |truth_q|)
    * positions; per-term gains quantize to DECIMAL pre-sum so the tiny
    * per-query sums are partition-order-independent. Queries present in
    * truth but absent from results score 0 (they were not answered).
    * One key-partitioned join + two bounded aggregates; the macro row is
    * a query-count-sized window. */
  def rankingMetrics(results: DataFrame, truth: DataFrame,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dec = "decimal(28,12)"
    val t = truth.filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank").as("_trank"))
    val nT = t.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
      // ideal DCG: the best achievable ordering places all truth items
      // first — Σ_{r=1..n_truth} 1/log₂(r+1), exact per-term decimals
      .withColumn("_idcg", expr(
        "aggregate(sequence(1, int(n_truth)), CAST(0 AS DECIMAL(28,12)), " +
          "(acc, r) -> CAST(acc + CAST(1.0 / log2(r + 1) AS DECIMAL(28,12)) " +
          "AS DECIMAL(28,12)))"))
    val r = results.filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"))
    val hits = r.join(t, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(
        count(lit(1)).as("hits"),
        min(col("rank")).as("_first"),
        sum(expr(s"CAST(1.0 / log2(rank + 1) AS $dec)")).as("_dcg"))
    val perQ = nT.join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("hits"))
      .withColumn("recall",
        round(col("hits").cast("double") /
          least(lit(k.toLong), col("n_truth")).cast("double"), 6))
      .withColumn("mrr",
        round(coalesce(lit(1.0) / col("_first").cast("double"), lit(0.0)), 6))
      .withColumn("ndcg",
        round(coalesce(col("_dcg").cast("double"), lit(0.0)) /
          col("_idcg").cast("double"), 6))
    val wAll = Window.partitionBy(lit(1))
    def macroOf(c: String) = round(
      sum(col(c).cast(dec)).over(wAll).cast("double") /
        count(lit(1)).over(wAll), 6)
    perQ
      .withColumn("macro_recall", macroOf("recall"))
      .withColumn("macro_mrr", macroOf("mrr"))
      .withColumn("macro_ndcg", macroOf("ndcg"))
      .select("q_id", "n_truth", "hits", "recall", "mrr", "ndcg",
        "macro_recall", "macro_mrr", "macro_ndcg")
  }

  /** Multi-probe LSH: search the query's bucket plus all buckets at Hamming
    * distance 1 (flip each plane bit) — recall rises steeply for the cost of
    * (planes+1)× candidate fan-in, still ≪ brute force. */
  def annLshMultiProbe(corpus: DataFrame, queries: DataFrame, id: String, emb: String,
                       k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val planes = hyperplanes(nPlanes, dim)
    val c = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"))
      .withColumn("bucket", lshBucketNative(spark, "v", planes))
    val masks = 0L +: (0 until nPlanes).map(j => 1L << j)
    val maskArr = masks.map(m => s"CAST($m AS BIGINT)").mkString("array(", ",", ")")
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
      .withColumn("q_bucket", lshBucketNative(spark, "qv", planes))
      .withColumn("probe_bucket",
        explode(expr(s"transform($maskArr, m -> q_bucket ^ m)")))
    // binned top-k, not a rank window: (planes+1) probed buckets per
    // query are still corpus/2^planes-sized single-task partitions
    val cand = c.join(broadcast(q),
        col("bucket") === col("probe_bucket") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** ANN via LSH buckets: exact cosine ranking, but only within the query's
    * bucket (candidates shrink ~2^planes-fold; recall < 1 by design). */
  def annLsh(corpus: DataFrame, queries: DataFrame, id: String, emb: String,
             k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val spark = corpus.sparkSession
    val c = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"))
      .withColumn("bucket", lshBucketNative(spark, "v", planes))
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
      .withColumn("q_bucket", lshBucketNative(spark, "qv", planes))
    // binned top-k, not a rank window: one bucket per query is a
    // corpus/2^planes-row single-task partition at scale
    val cand = c.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(cosineNative(corpus.sparkSession, "qv", "v"), 6))
      .select("q_id", "vec_id", "sim")
    topKPerQuery(cand, "sim", k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  // ── graph ANN (navigable-small-world family) ────────────────────────────

  /** The q172 plane slices: one shared closed-form plane matrix, cut into
    * `fineTables` fine bucketings of `finePlanes` planes plus one coarse
    * 4-plane slice for the hub layer — both sides (Spark build, SQL
    * oracle) slice identically. `epoch` selects the
    * [[epochHyperplanes]] generation (0 = the pinned historical matrix;
    * a [[GraphAnnIndex.rebuildIndex]] bumps it to re-derive the frozen
    * LSH geometry from scratch). */
  private[graft] def nswPlaneSlices(dim: Int, finePlanes: Int,
                                    fineTables: Int, epoch: Int = 0)
      : (Seq[Seq[Seq[Int]]], Seq[Seq[Int]]) = {
    val all = epochHyperplanes(fineTables * finePlanes + 4, dim, epoch)
    ((0 until fineTables).map(t =>
      all.slice(t * finePlanes, (t + 1) * finePlanes)),
      all.slice(fineTables * finePlanes, fineTables * finePlanes + 4))
  }

  /** Two-layer degree-capped neighbor graph — the NSW/HNSW idea (Malkov &
    * Yashunin, arXiv:1603.09320) restated relationally:
    *
    *   - layer 0 (fine): every node links to its `degree` most-similar
    *     same-bucket neighbors in EACH of `fineTables` independent LSH
    *     bucketings (disjoint plane slices of one closed-form matrix —
    *     the classic multi-table LSH trick). One table's buckets are
    *     cliques of one space partition; the union of several partitions
    *     is what makes the graph navigable ACROSS buckets. Pairing stays
    *     bucket-local per table, never all-pairs.
    *   - layer 1 (coarse, long links): HNSW thins upper layers to a
    *     geometric subsample; here nodes with `vid % hubMod == 0` form the
    *     hub layer and link under a COARSER 4-plane bucketing (bigger
    *     buckets → longer-range edges). The quadratic pair join runs only
    *     over the 1/hubMod subsample, so its cost matches a fine-table
    *     join over the full corpus.
    *
    * All similarities are rounded cosine with (sim desc, id asc) ties, so
    * the graph — and everything searched over it — is deterministic and
    * an oracle engine can rebuild it edge for edge. Emits (src, dst). */
  def nswGraph(corpus: DataFrame, id: String, emb: String, dim: Int,
               degree: Int = 12, finePlanes: Int = 8, fineTables: Int = 3,
               hubMod: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    val c = corpus.select(col(id).as("vid"), asDouble(emb).as("v"))
    val (fine, coarse) = nswPlaneSlices(dim, finePlanes, fineTables)
    def layer(base: DataFrame, planes: Seq[Seq[Int]]): DataFrame = {
      val cc = base.withColumn("bucket", lshBucketNative(spark, "v", planes))
      val w = Window.partitionBy("src")
        .orderBy(col("sim").desc, col("dst").asc)
      cc.as("a").join(cc.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vid") =!= col("b.vid"))
        .select(col("a.vid").as("src"), col("b.vid").as("dst"),
          round(expr("graft_cosine(a.v, b.v)"), 6).as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= degree)
        .select("src", "dst")
    }
    val directed = fine.map(layer(c, _))
      .reduce(_.unionByName(_))
      .unionByName(layer(c.filter(pmod(col("vid"), lit(hubMod)) === 0),
        coarse))
    // NSW links are BIDIRECTIONAL (Malkov & Yashunin §4): a node's
    // out-edges alone form near-cliques of mutual nearest neighbours and
    // greedy search fixes-points inside them (measured: recall stalls);
    // the reverse edges — "nodes that chose me" — are what let the beam
    // leave a neighbourhood. Degree stays ≤ 2·(tables+1)·degree.
    directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Beam search over [[nswGraph]], as bounded relational rounds: start
    * from the `nEntries` lowest-id hub nodes, and each round expand the
    * current per-query beam along graph edges, score candidates exactly
    * (rounded cosine), and keep the best `beam` per query — one equi-join
    * plus one top-k window per round, `rounds` rounds total (the
    * level-synchronous restatement of NSW greedy descent; no per-query
    * driver loop, the whole query batch advances together). Deterministic
    * end to end, so the q172 oracle replays the identical search with
    * unrolled SQL rounds. Emits (q_id, vec_id, sim, rank ≤ k). */
  def annGraph(corpus: DataFrame, queries: DataFrame, id: String,
               emb: String, dim: Int, k: Int, beam: Int = 24,
               rounds: Int = 6, nEntries: Int = 16, degree: Int = 12,
               hubMod: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    graft.expressions.CosineSimilarity.register(spark)
    // lazy cut: referenced by every beam round (7+ beamOf calls)
    val c = cut(corpus.select(col(id).as("vec_id"), asDouble(emb).as("v")),
      eager = false)
    // the graph and the beam frame are each referenced twice per round —
    // materialize both (the iterative-plan-depth rule: un-checkpointed,
    // the plan tree doubles per round and the graph build re-executes
    // 2^r times)
    val g = cut(nswGraph(corpus, id, emb, dim, degree, hubMod = hubMod),
      eager = true)
    nswBeamSearch(c, g, queries, id, emb, k, beam, rounds, nEntries, hubMod)
  }

  /** The beam-search tail of [[annGraph]] over caller-supplied frames —
    * shared verbatim by the in-memory path and the stored/maintained
    * graph ([[GraphAnnIndex.search]]), so the two are value-identical by
    * construction. `c` is (vec_id, v); `g` is the BIDIRECTIONAL distinct
    * edge set, already materialized (it is referenced every round). */
  private[graft] def nswBeamSearch(c: DataFrame, g: DataFrame,
                                   queries: DataFrame, id: String,
                                   emb: String, k: Int, beam: Int,
                                   rounds: Int, nEntries: Int,
                                   hubMod: Int,
                                   entriesOverride: Option[DataFrame] = None)
      : DataFrame = {
    graft.expressions.CosineSimilarity.register(c.sparkSession)
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    // entriesOverride: the FILTERED search's hubless-tenant fallback —
    // the default hub-only entry pick is pinned by the q172/q346 oracles
    // and must not change, but a tenant predicate can exclude every hub,
    // which would strand the beam with zero entry points
    val entries = entriesOverride.getOrElse(
      c.filter(pmod(col("vec_id"), lit(hubMod)) === 0)
        .orderBy(col("vec_id").asc).limit(nEntries).select("vec_id"))
    val wBeam = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    // score a (q_id, vec_id) candidate set and keep the per-query beam
    def beamOf(cand: DataFrame): DataFrame =
      cand.join(c, "vec_id").join(broadcast(q), "q_id")
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
        .withColumn("rn", row_number().over(wBeam)).filter(col("rn") <= beam)
        .select("q_id", "vec_id", "sim")
    var best = beamOf(q.select("q_id").crossJoin(broadcast(entries)))
    for (r <- 1 to rounds) {
      val expand = best.join(g, col("vec_id") === col("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
      // ONE exchange per round, not two: hash-partitioning the candidate
      // set by q_id alone satisfies BOTH the distinct's clustering (q_id,
      // vec_id ⊇ q_id co-location) and beamOf's per-query window, so the
      // dedup aggregate and the top-beam window run in the same stage —
      // the candidate frame is (queries × beam × degree)-sized, the small
      // side of the round at any corpus scale
      best = beamOf(expand.unionByName(best.select("q_id", "vec_id"))
        .repartition(col("q_id")).distinct())
      // cut every 2nd round: the beam is referenced twice per round, so
      // un-cut plans double per round; a 2-round (4x) window amortizes the
      // eager-materialization job cost without letting the tree explode
      if (r % 2 == 0 && r < rounds)
        best = graft.ops.Jobs.labeled(c.sparkSession, s"beam round $r") {
          cut(best, eager = true)
        }
    }
    best.withColumn("rank", row_number().over(wBeam)).filter(col("rank") <= k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  // ── product quantization (Jégou, Douze, Schmid — TPAMI'11) ──────────────
  //
  // The compressed-codes scale path: m sub-quantizers of ksub codewords turn
  // a dim-float vector into m small ints (m bytes at ksub ≤ 256) — at 10⁹+
  // vectors the search scan reads codes + a driver-sized codebook, never the
  // raw embeddings. Codebooks are learned (seeded per-subspace KMeans), so
  // like `ivfLearned` this family is spec-verified (recall vs brute truth),
  // not DuckDB-oracle-checked.

  /** L2-normalize an array column (zero vectors pass through unscaled).
    * For cosine-metric PQ, normalize corpus and queries first: on unit
    * vectors the L2 (ADC) ranking equals the cosine ranking. */
  def l2Normalize(v: Column): Column = {
    val n = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    when(n > 0, transform(v, x => x / n)).otherwise(v)
  }

  /** Train per-subspace codebooks: `m` seeded KMeans fits over the
    * sub-vectors. Returns codebooks[sub][code] = codeword (m·ksub·dsub
    * doubles — driver/broadcast sized by construction).
    *
    * The training input is bounded IN CODE: a deterministic pre-sample of at
    * most `maxTrain` vectors (global top-k by (hash(v), v) —
    * TakeOrderedAndProject, fully distributed) is taken BEFORE anything is
    * pinned to one partition, so calling this on a 10⁹-vector corpus never
    * sorts the corpus in a single task. PQ codebooks converge on ~10⁵
    * vectors (Jégou et al. TPAMI'11 train on 10⁵-10⁶), so the default bound
    * loses nothing. The bounded sample is then coalesced to ONE
    * deterministically ordered partition so seeded init sees the same row
    * order regardless of scan parallelism; the sort key is the TOTAL order
    * (hash(v), v) — the vector itself breaks 32-bit hash collisions, which
    * are expected by ~77k rows — making codebooks bit-identical across
    * reruns and cluster layouts. */
  def pqTrain(corpus: DataFrame, emb: String, m: Int, ksub: Int,
              seed: Long = 42L, maxIter: Int = 10,
              maxTrain: Int = 100000): Array[Array[Array[Double]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val totalOrder = Seq(hash(col("v")).asc, col("v").asc)
    val v = corpus.select(asDouble(emb).as("v"))
      .orderBy(totalOrder: _*).limit(maxTrain)
      .coalesce(1).sortWithinPartitions(totalOrder: _*).cache()
    val dim = v.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // the m sub-quantizer fits are independent — submit them as concurrent
    // Spark jobs (each is a small job; serial execution would pay m× the
    // scheduling latency for no reason)
    val fits = (0 until m).map { s =>
      Future {
        val sub = v.select(
          org.apache.spark.ml.functions.array_to_vector(
            slice(col("v"), s * dsub + 1, dsub)).as("features"))
        // random init (seeded, deterministic) over k-means||: the parallel
        // init costs extra distributed passes per fit, which dominates at
        // m fits per train — and PQ sub-quantizers converge fine from
        // random starts (the standard PQ training recipe)
        val km = new org.apache.spark.ml.clustering.KMeans()
          .setK(ksub).setSeed(seed + s).setMaxIter(maxIter)
          .setInitMode("random")
          .setFeaturesCol("features")
        km.fit(sub).clusterCenters.map(_.toArray)
      }
    }
    val out = fits.map(Await.result(_, Duration.Inf)).toArray
    v.unpersist(blocking = false)
    out
  }

  /** Encode each vector as its per-subspace nearest-codeword index array
    * (ties break to the lowest code — deterministic). Pure per-row HOF
    * expression over a broadcast codebook literal: no shuffle, no UDF. */
  def pqEncode(corpus: DataFrame, id: String, emb: String,
               codebooks: Array[Array[Array[Double]]],
               carry: Seq[String] = Nil): DataFrame = {
    val m = codebooks.length; val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val cb: Seq[Seq[Seq[Double]]] = codebooks.toSeq.map(_.toSeq.map(_.toSeq))
    corpus
      .select(col(id).as("vec_id") +: asDouble(emb).as("v") +:
        carry.map(col): _*)
      .withColumn("_cb", typedlit(cb))
      // each codeword's distance is computed ONCE into a (bk, bd) struct
      // and the argmin folds over those structs — the pre-r17 form
      // evaluated the dsub-element distance fold TWICE per codeword (once
      // in the CASE condition, once in the THEN branch), doubling both
      // the per-row flops and the codegen tree. Values are bit-identical:
      // the distance fold is the same fixed-order sum, the scan runs in
      // the same ascending-cw order, and `<` keeps the earlier (lower)
      // code on ties exactly as before.
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
           |  aggregate(
           |    transform(sequence(0, ${ksub - 1}), cw -> struct(cw AS bk,
           |      aggregate(sequence(1, $dsub), CAST(0 AS DOUBLE), (a, i) ->
           |        a + (element_at(v, s * $dsub + i) - element_at(element_at(element_at(_cb, s + 1), cw + 1), i))
           |          * (element_at(v, s * $dsub + i) - element_at(element_at(element_at(_cb, s + 1), cw + 1), i))) AS bd)),
           |    struct(CAST(-1 AS INT) AS bk, CAST('Infinity' AS DOUBLE) AS bd),
           |    (acc, x) -> CASE WHEN x.bd < acc.bd THEN x ELSE acc END,
           |    acc -> acc.bk))""".stripMargin))
      .select(col("vec_id") +: col("codes") +: carry.map(col): _*)
  }

  /** ANN search over PQ codes with asymmetric distance (ADC): approximate
    * ‖q − x‖² = Σ_s ‖q_s − cb[s][code_s]‖², computed from the codes and the
    * broadcast codebook only — the raw corpus vectors are never read.
    *
    * Jégou et al.'s actual ADC recipe, not the naive form: each query
    * precomputes its m×ksub DISTANCE TABLE (‖q_s − cb[s][cw]‖² for every
    * codeword — m·ksub·dsub flops ONCE per query, a few KB), and the
    * per-pair distance is then m table LOOKUPS summed — dsub× less work
    * on the corpus-sized scan, where all the time goes. The inner per-sub
    * sums are the SAME fixed-order folds as the naive form and the outer
    * fold adds them in the same s order, so every distance is
    * bit-identical (q113b's hash and the AnnSpec recall goldens pin it).
    *
    * The per-query selection is [[topKPerQuery]]'s binned two-pass scheme
    * in ASCENDING order (smallest distances win) — the ADC scan is the
    * whole code table per query, so a raw `row_number` partition would be
    * the entire corpus sorted by one task, the exact shape [[knnBrute]]
    * retired. */
  /** Per-query ADC lookup table: (q_id, _lut) where _lut[s+1][cw+1] =
    * ‖q_s − cb[s][cw]‖² — the exact inner fold the naive per-pair ADC
    * evaluates, hoisted off the corpus scan ([[annPq]]'s LUT, shared
    * with [[PqIndex.searchIvfPq]]). */
  private[graft] def pqLutFrame(queries: DataFrame, id: String, emb: String,
                                codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length; val dsub = codebooks(0)(0).length
    val ksub = codebooks(0).length
    val cb: Seq[Seq[Seq[Double]]] = codebooks.toSeq.map(_.toSeq.map(_.toSeq))
    queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
      .withColumn("_cb", typedlit(cb))
      .withColumn("_lut", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
           |  transform(sequence(0, ${ksub - 1}), cw ->
           |    aggregate(sequence(1, $dsub), CAST(0 AS DOUBLE), (a2, i) ->
           |      a2 + (element_at(qv, s * $dsub + i)
           |          - element_at(element_at(element_at(_cb, s + 1), cw + 1), i))
           |        * (element_at(qv, s * $dsub + i)
           |          - element_at(element_at(element_at(_cb, s + 1), cw + 1), i)))))""".stripMargin))
      .select("q_id", "_lut")
  }

  /** The ADC distance from a code array and the query's `_lut` column —
    * the same per-sub sums the naive form computes, added in the same s
    * order, so values are bit-identical to it. */
  private[graft] def pqAdistCol(m: Int): Column = round(expr(
    s"""aggregate(sequence(0, ${m - 1}), CAST(0 AS DOUBLE), (a, s) ->
       |  a + element_at(element_at(_lut, s + 1),
       |        element_at(codes, s + 1) + 1))""".stripMargin), 6)

  def annPq(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
            queries: DataFrame, id: String, emb: String, k: Int): DataFrame = {
    val q = pqLutFrame(queries, id, emb, codebooks)
    val cand = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("adist", pqAdistCol(codebooks.length))
      .select("q_id", "vec_id", "adist")
    // the checkpointed selection wins even with the cheap LUT score:
    // extremeK rescans the cand frame three times, and re-evaluating the
    // broadcast join per pass measured ~30% slower end-to-end than one
    // materialization of the narrow scored rows
    topKPerQuery(cand, "adist", k, descending = false)
      .select("q_id", "vec_id", "adist", "rank")
  }

  /** PQ search with exact re-ranking (Jégou et al.'s ADC + R): the code
    * scan produces a `shortlist`-sized candidate set per query, then ONLY
    * those rows' raw vectors are fetched (a shortlist-sized join, ~k·queries
    * rows — negligible against the corpus) and re-ranked by exact cosine.
    * The standard production recipe: compressed scan for the heavy pass,
    * exact math on the tiny tail. */
  def annPqRerank(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
                  corpus: DataFrame, queries: DataFrame, id: String,
                  emb: String, k: Int, shortlist: Int): DataFrame = {
    val spark = corpus.sparkSession
    val cands = annPq(codes, codebooks, queries, id, emb, shortlist)
      .select("q_id", "vec_id")
    val c = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"))
    val q = queries.select(col(id).as("q_id"), asDouble(emb).as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    cands.join(c, "vec_id").join(broadcast(q), "q_id")
      .withColumn("sim", round(cosineNative(spark, "qv", "v"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id", "sim", "rank")
  }

  /** Johnson–Lindenstrauss sign random projection (Achlioptas 2003): each
    * output coordinate j is v·plane_j/√k over the SAME deterministic ±1
    * [[hyperplanes]] the LSH family uses, so any engine regenerates the
    * matrix from the closed form — no seed state to ship. The signed sums
    * are fixed left-to-right chains (bit-identical accumulation order in
    * both engines). Long-format output (id, dim, value) — k·n rows — keeps
    * the result hash-comparable and feeds the ANN stack directly as a
    * cheaper distance proxy. Per-row compute is O(dim·k), zero shuffle. */
  def jlProject(df: DataFrame, id: String, emb: String, dim: Int,
                k: Int = 16): DataFrame = {
    require(k >= 1 && dim >= 1, s"need k ≥ 1 and dim ≥ 1, got k=$k dim=$dim")
    val planes = hyperplanes(k, dim)
    val pairs = planes.zipWithIndex.map { case (p, j) =>
      s"named_struct('dim', $j, 'value', " +
        s"(${planeDot("v", p)}) / sqrt(cast($k as double)))"
    }.mkString("array(", ", ", ")")
    df.select(col(id), asDouble(emb).as("v"))
      .select(col(id), explode(expr(pairs)).as("_p"))
      .select(col(id), col("_p.dim").as("dim"),
        round(col("_p.value"), 6).as("value"))
  }

  /** Simplified (centroid-based) silhouette per cluster label: a = distance
    * to the own-label centroid, b = the nearest other centroid, s =
    * (b − a)/max(a, b) — the O(n·|labels|) clustering-quality score that
    * replaces the O(n²) pairwise silhouette at corpus scale (the standard
    * large-N approximation). Centroids come from exact-decimal per-dimension
    * means; the centroid frame is |labels|-sized and broadcast, so the plan
    * is one posexplode aggregate + one broadcast nested-loop + one
    * label-sized aggregate. Distance folds run in a fixed ascending
    * dimension order in both engines. */
  def silhouette(df: DataFrame, id: String, emb: String, label: String,
                 dim: Int): DataFrame = {
    val base = df.select(col(id), col(label).as("_lbl"), asDouble(emb).as("v"))
    val long = base
      .select(col("_lbl"), posexplode(col("v")).as(Seq("_d", "_x")))
    val cents = long.groupBy(col("_lbl"), col("_d"))
      .agg((sum(col("_x").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("_c"))
      .groupBy(col("_lbl"))
      .agg(array_sort(collect_list(struct(col("_d"), col("_c")))).as("_cs"))
      .withColumn("carr", expr("transform(_cs, p -> p._c)"))
      .select(col("_lbl").as("_clbl"), col("carr"))
    val dists = base.crossJoin(broadcast(cents))
      .withColumn("_dist", sqrt(expr(
        s"aggregate(sequence(1, $dim), cast(0 as double), (acc, i) -> " +
          "acc + (element_at(v, i) - element_at(carr, i)) * " +
          "(element_at(v, i) - element_at(carr, i)))")))
    val perVec = dists.groupBy(col(id), col("_lbl"))
      .agg(min(when(col("_clbl") === col("_lbl"), col("_dist"))).as("_a"),
        min(when(col("_clbl") =!= col("_lbl"), col("_dist"))).as("_b"))
      .withColumn("_s",
        when(greatest(col("_a"), col("_b")) > 0,
          (col("_b") - col("_a")) / greatest(col("_a"), col("_b"))))
    perVec.groupBy(col("_lbl").as(label))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("_s").cast("decimal(28,12)")).cast("double") /
          count(col("_s")), 6).as("mean_silhouette"))
  }

  /** Embedding-distribution drift between two corpus snapshots: per
    * `cell` (label/domain/source), the fixed-point centroid of the rows
    * where `isNew` is false vs true, and the cosine between the two
    * centroids — the cheap "did this slice's embedding distribution
    * move" monitor that gates re-training an ANN index or re-fitting
    * quantizers (the vector-space counterpart of the PSI score drift
    * check). Centroids use [[ivfCentroids]]' fixed-point trick — per-dim
    * sums of floor(x·10⁶ + 0.5) longs, order-independent and
    * engine-exact — so the whole readout hash-checks.
    *
    * Scale shape: one (cell, half, dim)-keyed aggregate over the
    * exploded corpus (map-side combined), then everything rides the
    * cells×2 centroid frame. Emits one row per cell present in BOTH
    * halves: (cell, n_old, n_new, cos_sim@6dp, drift = 1 − cos). */
  def embeddingDrift(df: DataFrame, cell: String, emb: String,
                     isNew: Column): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(cell).as("cid"), isNew.cast("int").as("_h"),
      asDouble(emb).as("v"))
    val cents = base
      .select(col("cid"), col("_h"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "_h", "pos")
      .agg((sum(floor(col("x") * 1e6 + 0.5).cast("long")).cast("double")
        / 1e6 / count(lit(1))).as("cx"))
      .groupBy("cid", "_h")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pcs"))
      .select(col("cid"), col("_h"), expr("transform(pcs, p -> p.cx)").as("cv"))
    val counts = base.groupBy("cid", "_h").agg(count(lit(1)).as("n"))
    val halves = cents.join(counts, Seq("cid", "_h"))
    halves.filter(col("_h") === 0)
      .select(col("cid"), col("cv").as("_c0"), col("n").as("n_old"))
      .join(halves.filter(col("_h") === 1)
        .select(col("cid"), col("cv").as("_c1"), col("n").as("n_new")),
        "cid")
      .withColumn("cos_sim", round(cosineNative(spark, "_c0", "_c1"), 6))
      .select(col("cid").as(cell), col("n_old"), col("n_new"),
        col("cos_sim"), round(lit(1.0) - col("cos_sim"), 6).as("drift"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): from each query's exact top-`topN` cosine candidates,
    * greedily pick `k` results maximizing λ·sim(q,d) − (1−λ)·max_{s∈S}
    * sim(d,s) — relevance traded against redundancy to the already-picked
    * set, the standard diversity pass between retrieval and a context
    * window. λ is a RATIONAL lamNum/lamDen and the score is evaluated as
    * (lamNum·sim − (lamDen−lamNum)·pen)/lamDen — one integer-weighted
    * combination and one pinned division, so no 0.7-style literal ever
    * needs to round-trip between engines; sims are the 6-dp [[knnBrute]]
    * values.
    *
    * Scale shape: the corpus is touched ONCE (the knnBrute scan); the
    * greedy loop runs on the (queries × topN) candidate frame and its
    * (queries × topN²) pairwise-sim frame — both bounded by parameters,
    * never by corpus size — with each of the k steps one small join +
    * argmax window, localCheckpoint'ed so the k-step lineage stays flat.
    * Emits (q_id, pick, vec_id, mmr_score@6dp), pick = 1..k. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, id: String,
                emb: String, k: Int, topN: Int, lamNum: Int = 7,
                lamDen: Int = 10): DataFrame = {
    require(k >= 1 && topN >= k && lamNum >= 0 && lamNum <= lamDen,
      s"bad mmr params (k=$k, topN=$topN, lam=$lamNum/$lamDen)")
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(id).as("vec_id"), asDouble(emb).as("v"))
    val cand = knnBrute(corpus, queries, id, emb, topN)
      .join(vecs, "vec_id")
      .select(col("q_id"), col("vec_id"), col("sim"), col("v"))
      .transform(df => cut(df, eager = true))
    val pw = cand.select(col("q_id"), col("vec_id").as("_va"), col("v").as("_x"))
      .join(cand.select(col("q_id"), col("vec_id").as("_vb"), col("v").as("_y")),
        "q_id")
      .filter(col("_va") =!= col("_vb"))
      .withColumn("_psim", round(cosineNative(spark, "_x", "_y"), 6))
      .select(col("q_id"), col("_va"), col("_vb"), col("_psim"))
      .transform(df => cut(df, eager = true))
    val base = cand.select(col("q_id"), col("vec_id"), col("sim"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("_score").desc, col("vec_id").asc)
    def score(pen: Column): Column =
      (lit(lamNum) * col("sim") - lit(lamDen - lamNum) * pen) /
        lit(lamDen.toDouble)
    var sel = base.withColumn("_score", score(lit(0.0)))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("q_id"), col("vec_id"), lit(1).as("pick"), col("_score"))
      .transform(df => cut(df, eager = true))
    for (step <- 2 to k) {
      val rem = base.join(sel.select("q_id", "vec_id"),
        Seq("q_id", "vec_id"), "left_anti")
      val pen = pw
        .join(sel.select(col("q_id"), col("vec_id").as("_vb")),
          Seq("q_id", "_vb"))
        .groupBy(col("q_id"), col("_va").as("vec_id"))
        .agg(max(col("_psim")).as("_pen"))
      sel = sel.unionByName(rem.join(pen, Seq("q_id", "vec_id"))
          .withColumn("_score", score(col("_pen")))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col("q_id"), col("vec_id"), lit(step).as("pick"),
            col("_score")))
        .transform(df => cut(df, eager = true))
    }
    sel.select(col("q_id"), col("pick"), col("vec_id"),
      round(col("_score"), 6).as("mmr_score"))
  }

  /** Top-k by the int8-quantized INTEGER dot product — the quantized
    * candidate ranking on its own: (q_id, vec_id, rank). Engine-portable
    * by construction (integer sums, smaller-id ties); the broadcast-
    * queries/corpus-streams contract of [[knnBrute]], including its
    * extremeK-routed per-query selection (no corpus-sized rank-window
    * partitions — see the knnBrute scaladoc). */
  def quantTopK(corpus: DataFrame, queries: DataFrame, id: String,
                emb: String, k: Int): DataFrame = {
    val c = quantizeInt8(corpus, id, emb)
      .select(col(id).as("vec_id"), col("codes"))
    val q = quantizeInt8(queries, id, emb)
      .select(col(id).as("q_id"), col("codes").as("_qc"))
    val cand = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("_dot", expr(
        "aggregate(zip_with(_qc, codes, (x, y) -> CAST(x AS BIGINT) * y), " +
          "0L, (a, x) -> a + x)"))
      .select("q_id", "vec_id", "_dot")
    graft.ops.Stats.extremeK(cand, "_dot", Seq("q_id"), k,
        descending = true, tie = Seq(col("vec_id").asc))
      .select(col("q_id"), col("vec_id"), col("_rn").as("rank"))
  }

  /** Recall@k of int8-quantized dot-product retrieval against the exact
    * float cosine top-k — the accuracy-vs-footprint readout that decides
    * whether the [[quantizeInt8]] 4× compression is safe for the
    * candidate stage. The quantized ranking orders by the INTEGER code
    * dot product (engine-portable by construction: int sums, no floats
    * anywhere), ties toward the smaller id; the reference ranking is
    * [[knnBrute]].
    *
    * Scale shape: ONE broadcast-queries pass scores every pair with both
    * scorers and lands a narrow checkpointed frame; the two rankings are
    * [[fusedTopKPair]]'s shared binned selection (identical ranks to
    * independent knnBrute/quantTopK runs by construction) and the recall
    * join touches only the two k-row-per-query result sets. Emits
    * (q_id, n_hit, recall@6dp). */
  def quantRecall(corpus: DataFrame, queries: DataFrame, id: String,
                  emb: String, k: Int): DataFrame = {
    val (bySim, byDot) = fusedTopKPair(
      bruteQuantCand(corpus, queries, id, emb), k)
    val hits = byDot.select("q_id", "vec_id")
      .join(bySim.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    queries.select(col(id).as("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse any number of per-query rankings by score(d) = Σ_r
    * 1/(k0 + rank_r(d)) — the robust rank-only ensemble that needs no
    * score calibration between retrievers (the standard hybrid-search
    * combiner for lexical + vector lists). A document missing from one
    * ranking simply contributes nothing for it.
    *
    * Each 1/(k0+rank) term is one pinned double division quantized to
    * DECIMAL(28,12) before the cross-ranking sum; the fused rank breaks
    * score ties toward the smaller id. Scale shape: the inputs are
    * already k-bounded per query, so everything here rides
    * |queries|·k·|rankings| rows — one union, one sum aggregate, one
    * bounded per-query window. Emits (q_id, vec_id, rrf_score@6dp,
    * rank ≤ topK). */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty && k0 >= 0, s"bad rrf params")
    val terms = rankings.map(_.select(col("q_id"), col("vec_id"),
        (lit(1.0) / (lit(k0) + col("rank"))).cast("decimal(28,12)")
          .as("_t")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy("q_id")
      .orderBy(col("_s").desc, col("vec_id").asc)
    terms.groupBy("q_id", "vec_id")
      .agg(sum(col("_t")).as("_s"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("q_id"), col("vec_id"),
        round(col("_s").cast("double"), 6).as("rrf_score"), col("rank"))
  }

  /** The standard hybrid-retrieval RRF — exact float-cosine and
    * int8-quantized-dot rankings fused by [[rrfFuse]] — with the candidate
    * frame computed ONCE. Running [[knnBrute]] and [[quantTopK]]
    * independently re-derives the (query, vector) scores per selection
    * pass (four corpus rescans, each re-widening floats and re-quantizing
    * codes); here one pass scores every pair with BOTH scorers and lands
    * the results as a narrow (q_id, vec_id, sim, dot) frame — two scalars
    * per pair, ~1% the bytes of the embeddings that produced them — which
    * is then eagerly materialized (localCheckpoint; ContextCleaner-freed)
    * so all four binned-selection scans read scored pairs instead of
    * recomputing them. Rankings, ties, and therefore the fused output are
    * value-identical to the compose-it-yourself form (the q298 oracle is
    * unchanged). */
  def rrfBruteQuant(corpus: DataFrame, queries: DataFrame, id: String,
                    emb: String, k: Int, k0: Int = 60,
                    topK: Int = 10): DataFrame = {
    val (bySim, byDot) = fusedTopKPair(
      bruteQuantCand(corpus, queries, id, emb), k)
    rrfFuse(Seq(bySim, byDot), k0, topK)
  }

  /** The shared scored-candidate frame of [[rrfBruteQuant]] and
    * [[quantRecall]]: every (query, vector) pair scored by BOTH the exact
    * rounded cosine and the int8-quantized integer dot (the same
    * expressions as [[knnBrute]]/[[quantizeInt8]], so downstream rankings
    * are value-identical to independent runs), landed as a narrow
    * (q_id, vec_id, sim, dot) frame — two scalars per pair, ~1% the bytes
    * of the embeddings that produced them — and eagerly materialized
    * (localCheckpoint; ContextCleaner-freed) so every selection pass reads
    * scored pairs instead of re-widening floats, re-quantizing codes, and
    * re-running the dot products. */
  private def bruteQuantCand(corpus: DataFrame, queries: DataFrame,
                             id: String, emb: String): DataFrame = {
    graft.expressions.CosineSimilarity.register(corpus.sparkSession)
    // same expressions as quantizeInt8, keeping the raw doubles alongside
    def withCodes(df: DataFrame, idAs: String, vAs: String, cAs: String) =
      df.select(col(id).as(idAs), asDouble(emb).as(vAs))
        .withColumn("_mx", expr(
          s"aggregate($vAs, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
        .withColumn(cAs, expr(
          s"CASE WHEN _mx = 0 THEN transform($vAs, x -> 0) " +
            s"ELSE transform($vAs, x -> CAST(floor(x * 127.0 / _mx + 0.5) AS INT)) END"))
        .drop("_mx")
    val c = withCodes(corpus, "vec_id", "v", "codes")
    val qf = withCodes(queries, "q_id", "qv", "_qc")
    c.crossJoin(broadcast(qf))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr("graft_cosine(qv, v)"), 6))
      .withColumn("_dot", expr(
        "aggregate(zip_with(_qc, codes, (x, y) -> CAST(x AS BIGINT) * y), " +
          "0L, (a, x) -> a + x)"))
      .select("q_id", "vec_id", "sim", "_dot")
      // LAZY checkpoint: the frame materializes inside the first pass that
      // scans it (no separate eager job) and every later selection pass
      // reads the stored narrow blocks
      .transform(df => cut(df, eager = false))
  }

  /** Both per-query top-k selections of [[rrfBruteQuant]] fused over one
    * scored frame: the two scorers share ONE stats aggregate, ONE
    * histogram shuffle (rows stack into (scorer, bin) pairs, map-side
    * combined to ≤ queries·2·bins records), and ONE window shuffle whose
    * partitions hold only the union of both threshold-bin survivor sets
    * (~2·(k + n/bins) rows per query) — [[graft.ops.Stats.extremeK]]'s
    * exact semantics (same bins, same thresholds, same
    * (value desc, vec_id asc) ties ⇒ identical ranks by construction),
    * at half its pass count. `cand` must be non-null in both scores. */
  private def fusedTopKPair(cand: DataFrame, k: Int,
                            bins: Int = 1001): (DataFrame, DataFrame) = {
    val stats = cand.groupBy("q_id").agg(
        min(col("sim")).as("_loS"), max(col("sim")).as("_hiS"),
        min(col("_dot")).as("_loD"), max(col("_dot")).as("_hiD"),
        count(lit(1)).as("_n"))
      .withColumn("_wS", (col("_hiS") - col("_loS")) / bins)
      .withColumn("_wD",
        (col("_hiD") - col("_loD")).cast("double") / bins)
      .withColumn("_keff", least(lit(k.toLong), col("_n")))
      .select("q_id", "_loS", "_wS", "_loD", "_wD", "_keff")
    def binOf(v: Column, lo: Column, w: Column) =
      when(w === 0, lit(0L))
        .otherwise(least(floor((v - lo) / w), lit(bins - 1L)))
    val binned = cand.join(broadcast(stats), Seq("q_id"))
      .withColumn("_binS", binOf(col("sim"), col("_loS"), col("_wS")))
      .withColumn("_binD",
        binOf(col("_dot").cast("double"), col("_loD"), col("_wD")))
    val cumW = Window.partitionBy("q_id", "_sc").orderBy(col("_bin").desc)
    val targets = binned
      .select(col("q_id"), col("_keff"),
        expr("stack(2, 'S', _binS, 'D', _binD)").as(Seq("_sc", "_bin")))
      .groupBy("q_id", "_sc", "_bin")
      .agg(count(lit(1)).as("_c"), first(col("_keff")).as("_tk"))
      .withColumn("_cum", sum(col("_c")).over(cumW))
      .withColumn("_blw", col("_cum") - col("_c"))
      .filter(col("_blw") < col("_tk") && col("_tk") <= col("_cum"))
      .groupBy("q_id").agg(
        max(when(col("_sc") === "S", col("_bin"))).as("_tbinS"),
        max(when(col("_sc") === "D", col("_bin"))).as("_tbinD"))
    val kept = binned.join(broadcast(targets), Seq("q_id"))
      .withColumn("_ksS", col("_binS") >= col("_tbinS"))
      .withColumn("_ksD", col("_binD") >= col("_tbinD"))
      .filter(col("_ksS") || col("_ksD"))
    // survivors-first orderings: scorer-i ranks over exactly its own
    // survivor set (non-survivors sort after all survivors, then fall to
    // the rank/flag filter), so both rankings ride one window shuffle
    val wS = Window.partitionBy("q_id")
      .orderBy(col("_ksS").desc, col("sim").desc, col("vec_id").asc)
    val wD = Window.partitionBy("q_id")
      .orderBy(col("_ksD").desc, col("_dot").desc, col("vec_id").asc)
    val ranked = kept
      .withColumn("_rnS", row_number().over(wS))
      .withColumn("_rnD", row_number().over(wD))
    (ranked.filter(col("_ksS") && col("_rnS") <= col("_keff"))
       .select(col("q_id"), col("vec_id"), col("_rnS").as("rank")),
     ranked.filter(col("_ksD") && col("_rnD") <= col("_keff"))
       .select(col("q_id"), col("vec_id"), col("_rnD").as("rank")))
  }
}
