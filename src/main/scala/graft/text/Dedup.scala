package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design: exact dedup is one hash aggregate on a digest (map-side
  * combine, no text shuffled). MinHash/LSH turns all-pairs O(n²) similarity
  * into a band-bucket equi-join: signature computation is per-row scalar work
  * (ONE md5 per shingle, then cheap affine permutations); only
  * (doc_id, band_key, signature) rows shuffle — at 100 TB the shuffled bytes
  * are ~1% of the corpus. Hot-key safety: every pair-producing join caps its
  * key fan-out (band-bucket size cap, shingle document-frequency cap) because
  * one degenerate key (boilerplate docs, a stopword shingle) is otherwise
  * quadratic no matter how good the plan shape is. The caps are parameters,
  * mirrored in the DuckDB oracles, and the dropped keys are reportable via
  * `minhashOverflow` / `ngramHotShingles` — no silent truncation.
  */
object Dedup {

  import TextOps.h64Sql

  val NumHashes   = 16
  val NumBands    = 8 // 2 rows per band: high recall for near-dups (J≈0.8 →
  // per-band hit J², any-band ≈ 1-(1-J²)^8 ≈ 0.999); est_jaccard filters the
  // extra low-similarity candidates downstream
  val RowsPerBand: Int = NumHashes / NumBands

  /** Mersenne prime 2^31−1: the minhash permutation modulus. Keeping hashes
    * below 2^31 means every `a·h + b` stays under 2^62, so the affine
    * permutations run in plain 64-bit integer arithmetic — exactly
    * reproducible in any engine (no 128-bit / decimal widening needed).
    * 31-bit minhash space is ample: collision odds within one document's
    * shingle set (~10⁴) are ~10⁻⁵ per permutation. */
  val MinhashP = 2147483647L

  /** Deterministic affine-permutation constants (aᵢ ∈ [1,P), bᵢ ∈ [0,P)) from
    * a fixed-seed SplitMix-style integer sequence. The classic one-hash
    * scheme (Broder '97): instead of k independent expensive hashes per
    * shingle, compute ONE base hash and k cheap universal-family permutations
    * `(aᵢ·h + bᵢ) mod P`. The DuckDB oracle SQL is generated from these same
    * values, so both engines agree by construction. */
  val Perms: IndexedSeq[(Long, Long)] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 3 }
    (0 until NumHashes).map(_ => (next() % (MinhashP - 1) + 1, next() % MinhashP))
  }

  /** Default hot-bucket cap for the LSH band join: a band bucket larger than
    * this (identical boilerplate across >1000 docs) would contribute
    * >500k pairs on its own; such groups are better served by exact dedup.
    * Dropped buckets are listed by `minhashOverflow`. */
  val DefaultMaxBucket = 1000

  /** Default shingle document-frequency cap for exact n-gram Jaccard: a
    * shingle shared by >100 docs in a scope carries no discriminating signal
    * (it's corpus boilerplate) but costs O(df²) join fan-out. */
  val DefaultMaxDf = 100

  /** Exact dedup groups: digest of normalized text → canonical (min) id +
    * multiplicity. Downstream `keep` = semi-join on (digest, canonical_id). */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(lower(trim(col(text)))).as("text_hash"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures over word 3-gram shingles + LSH band keys.
    * Output: id, mh0..mh15, band0..band{NumBands-1}.
    *
    * One md5 per shingle (the irreducible text-hash cost), then 16 affine
    * permutations in 64-bit integer arithmetic — vs 16 md5s per shingle in
    * the naive per-permutation form (16× less hashing, same LSH quality). */
  def minhashSignatures(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id), TextOps.tokens(col(text)).as("w"))
      .withColumn("sh", TextOps.wordShingles("w", 3))
      .withColumn("bh", expr(s"transform(sh, x -> ${h64Sql("x")} % ${MinhashP}L)"))
    val withMh = (0 until NumHashes).foldLeft(toks) { (d, i) =>
      val (a, b) = Perms(i)
      d.withColumn(s"mh$i",
        expr(s"array_min(transform(bh, h -> (${a}L * h + ${b}L) % ${MinhashP}L))"))
    }
    // band key = h64 of the band's hash tuple: an 8-byte join key instead of
    // a 32-char md5 hex string — 4× narrower shuffle rows in the band join
    val withBands = (0 until NumBands).foldLeft(withMh) { (d, b) =>
      val cols = (RowsPerBand * b until RowsPerBand * (b + 1))
        .map(i => s"cast(mh$i AS STRING)").mkString(", ',', ")
      d.withColumn(s"band$b", expr(TextOps.h64Sql(s"concat($cols)")))
    }
    withBands.drop("w", "sh", "bh")
  }

  /** One row per (doc, band): id, mh (16-element signature array), band_idx,
    * band_key. The signature travels WITH the band row so candidate scoring
    * needs no join back to the signature table. Package-visible so a caller
    * running BOTH a from-scratch pairing and an incremental pass over the
    * same corpus (q155's shape) can compute + cache the corpus band rows
    * once and feed the `FromBands` variants below. */
  private[graft] def bandRows(sig: DataFrame, id: String): DataFrame =
    sig.select(col(id),
      array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("mh"),
      posexplode(array((0 until NumBands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_key")))

  /** Drop band rows whose bucket exceeds `maxBucket`: sizes via groupBy
    * (map-side combine, bytes ∝ #buckets) + join — NOT a count window,
    * which would buffer the very bucket the cap exists to drop. */
  private def capBuckets(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.join(
      bands.groupBy("band_idx", "band_key").agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= maxBucket),
      Seq("band_idx", "band_key"))

  /** (id_a, id_b, mh_a, mh_b) → distinct (id_a, id_b, est_jaccard): match
    * count from one zip_with over the two 16-long signature arrays. */
  private def estimatePairs(joined: DataFrame): DataFrame =
    joined.select(col("id_a"), col("id_b"),
      (expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v))")
        .cast("double") / NumHashes).as("est_jaccard"))
      .distinct()

  /** LSH candidate pairs: docs sharing any band bucket (bucket ≤ maxBucket),
    * with the MinHash Jaccard estimate (matching hashes / 16).
    *
    * Shape, in shuffle order: bucket sizes, hot-bucket cap (`capBuckets`),
    * in-bucket self-join — signatures ride along, so the old "join the
    * signature table twice" (two extra shuffles of sig) is gone. Dropped
    * buckets: `minhashOverflow` (same cap value).
    *
    * The band frame is persisted: it feeds the size aggregate and both join
    * sides, and recomputing it re-hashes the corpus per consumer. At 100 TB
    * it is ~1% of corpus bytes — exactly the index you'd materialize. The
    * cache entry is freed by Spark's ContextCleaner once the result plan is
    * dropped (MEMORY_AND_DISK also evicts LRU under pressure); long-lived
    * sessions doing many dedup passes should materialize the band index to
    * a table instead. */
  def minhashCandidates(sig: DataFrame, id: String,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashCandidatesFromBands(
      bandRows(sig, id)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      id, maxBucket)

  /** [[minhashCandidates]] over pre-computed (and caller-cached)
    * [[bandRows]] — for pipelines where the band frame feeds more than one
    * pass (e.g. from-scratch pairing AND the corpus side of an incremental
    * refresh); the caller owns the cache lifecycle. */
  def minhashCandidatesFromBands(bands: DataFrame, id: String,
                                 maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val ok = capBuckets(bands, maxBucket)
    estimatePairs(
      ok.as("a").join(ok.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col(s"a.$id") < col(s"b.$id"))
        .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
          col("a.mh").as("mh_a"), col("b.mh").as("mh_b")))
  }

  /** Incremental LSH candidates: near-dup pairs between a NEW batch and an
    * existing corpus, plus pairs within the new batch — but never
    * corpus × corpus pairs, which were found when the corpus was built. This
    * is the daily-refresh path at scale: the corpus side is the materialized
    * signature index (store `minhashSignatures` output partitioned/bucketed
    * by band key and read it back), so each refresh costs O(|new batch| +
    * touched buckets), not a re-pair of the full corpus.
    *
    * Pair shape: one side of the join is restricted to new-batch band rows;
    * corpus×new pairs emit in either orientation (normalized via
    * least/greatest), new×new pairs dedup on id order. The bucket cap counts
    * BOTH sides — a new doc landing in an already-hot corpus bucket must not
    * re-trigger the quadratic fan-out the cap exists to stop. Cache
    * lifecycle: as in `minhashCandidates` (ContextCleaner + LRU eviction;
    * materialize the index for long refresh loops). */
  def incrementalCandidates(corpusSig: DataFrame, newSig: DataFrame, id: String,
                            maxBucket: Int = DefaultMaxBucket): DataFrame =
    incrementalFromBands(bandRows(corpusSig, id), bandRows(newSig, id), id, maxBucket)

  /** Core of the incremental path, over pre-computed band rows — shared by
    * the recompute-both-sides form above, the stored-index form below, and
    * callers that cache the corpus band frame across passes. */
  private[graft] def incrementalFromBands(corpusBands: DataFrame, newBands: DataFrame,
                                          id: String, maxBucket: Int): DataFrame = {
    val all = corpusBands.withColumn("is_new", lit(false))
      .union(newBands.withColumn("is_new", lit(true)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = capBuckets(all, maxBucket)
    estimatePairs(
      ok.as("a").join(ok.filter(col("is_new")).as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col(s"a.$id") =!= col(s"b.$id") &&
            (!col("a.is_new") || col(s"a.$id") < col(s"b.$id")))
        .select(least(col(s"a.$id"), col(s"b.$id")).as("id_a"),
          greatest(col(s"a.$id"), col(s"b.$id")).as("id_b"),
          col("a.mh").as("mh_a"), col("b.mh").as("mh_b")))
  }

  /** A materialized LSH signature index: `bands` is one row per (doc, band)
    * — id, mh (full 16-hash signature), band_idx, band_key, bucket — stored
    * as parquet hash-partitioned on `bucket = pmod(band_key, nBuckets)`.
    * `nBuckets` is recorded alongside the data so reader and writer cannot
    * disagree (a mismatched modulus would silently prune the WRONG buckets). */
  final case class SignatureIndex(bands: DataFrame, nBuckets: Int)

  /** Default partition count for the stored signature index: enough that a
    * daily batch prunes most of the corpus scan, few enough that the
    * partition directories stay coarse (at 100 TB corpus ≈ 1 TB index ≈ 4 GB
    * per bucket directory — healthy parquet file sizes). */
  val DefaultIndexBuckets = 256

  /** Materialize the LSH band index for `sig` (= `minhashSignatures` output)
    * at `path`: band rows partitioned by `bucket`, plus a 1-row `meta`
    * parquet pinning (nBuckets, NumHashes, NumBands). This is the stored
    * side of the daily-refresh dedup loop — write once when the corpus is
    * built, then each refresh joins only the buckets the new batch touches
    * (see `incrementalCandidatesIndexed`) instead of re-hashing the corpus. */
  def writeSignatureIndex(sig: DataFrame, id: String, path: String,
                          nBuckets: Int = DefaultIndexBuckets): Unit = {
    // null band keys (docs too short to produce a single shingle) can never
    // satisfy the band equi-join, so they'd be dead weight in the index
    val bands = bandRows(sig, id).filter(col("band_key").isNotNull)
    publishBands(bands, bands.isEmpty, nBuckets, path, -1L)
  }

  /** Publish `bands` bucketed at width `nBuckets` with the meta row
    * pinning that width, as ONE generation (a new modulus routing over
    * old bucket directories would probe garbage); `wm` is the folded
    * watermark the new base subsumes (-1 for a seed). */
  private def publishBands(bands: DataFrame, isEmpty: Boolean,
                           nBuckets: Int, path: String, wm: Long): Unit = {
    val spark = bands.sparkSession
    import spark.implicits._
    val bucketed = bands.withColumn("bucket",
      pmod(col("band_key"), lit(nBuckets.toLong)).cast("int"))
    graft.streaming.Compaction.publish(spark, path, Seq("bands", "meta")) {
      out =>
        // A dynamic-partitioned write of an EMPTY frame emits zero data
        // files, leaving an index that fails schema inference on read — a
        // cold-start stream seeds its index over an empty corpus, so that
        // case writes one plain empty parquet file (schema preserved;
        // `bucket` rides as a data column, which every reader filter also
        // accepts). Otherwise repartition on bucket so each writer task
        // owns whole buckets — one file per bucket directory instead of
        // (tasks × buckets) small files.
        if (isEmpty)
          bucketed.coalesce(1).write.mode("overwrite").parquet(out("bands"))
        else
          bucketed.repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(out("bands"))
        graft.streaming.Compaction.stampWatermark(spark, out("bands"), wm)
        Seq((nBuckets, NumHashes, NumBands))
          .toDF("n_buckets", "num_hashes", "num_bands")
          .coalesce(1).write.mode("overwrite").parquet(out("meta"))
    }
  }

  /** Write one batch's band rows as an index INCREMENT at
    * `path/increments/batch=<batchId>`, bucket-partitioned like the corpus
    * bands. Overwrites only its own batch directory, so a retried streaming
    * micro-batch restates itself instead of duplicating band rows — the
    * idempotence contract `streaming.StreamingDedup` relies on. */
  def appendSignatureIndex(sig: DataFrame, id: String, path: String,
                           batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = sig.sparkSession
    // a batch replayed AFTER compaction folded its increment would
    // re-land band rows the base already owns — drop it
    if (graft.streaming.Compaction.isFolded(spark, path, batchId, "bands"))
      return
    val nBuckets = readIndexMeta(spark, path).getInt(0)
    val bands = bandRows(sig, id).filter(col("band_key").isNotNull)
      .withColumn("bucket", pmod(col("band_key"), lit(nBuckets.toLong)).cast("int"))
    // A batch whose docs are all too short yields zero band rows; writing
    // its empty increment partitioned would leave a file-less batch dir
    // that breaks the union read in readSignatureIndex. Land into a hidden
    // `_tmp` sibling (ONE job — no separate isEmpty pass recomputing the
    // signatures), then promote it iff the write produced bucket dirs;
    // restatement overwrites this batch's own dir either way.
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$path/increments/_tmp_batch_$batchId")
    bands.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    val dst = new Path(s"$path/increments/batch=$batchId")
    if (fs.listStatus(tmp).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("bucket="))) {
      fs.delete(dst, true)
      require(fs.rename(tmp, dst),
        s"appendSignatureIndex: rename $tmp -> $dst failed")
    } else fs.delete(tmp, true): Unit
  }

  /** The caller-chosen id column of a bands frame — everything else in
    * the schema is the fixed band-row machinery. */
  private def bandsIdCol(bands: DataFrame): String =
    bands.columns
      .filterNot(Set("mh", "band_idx", "band_key", "bucket", "batch")).head

  /** DELETE documents from the stored signature index (takedown/opt-out) —
    * a tombstone increment ([[graft.streaming.Tombstones]]): the deleted
    * docs' band rows are logically gone from the next probe (so a future
    * near-dup of a deleted doc is assigned exactly as if the index had
    * been built from the filtered corpus — it becomes its own keeper),
    * physically gone at the next [[compactSignatureIndex]], and terminal
    * against re-ingest. Assignment SNAPSHOTS of other docs are untouched:
    * a cluster id that happens to be a deleted doc's id is a label, not
    * the doc's content — re-electing keepers historically would rewrite
    * decisions training runs already consumed. */
  def deleteFromSignatureIndex(ids: DataFrame, path: String,
                               batchId: Long): Boolean =
    graft.streaming.Tombstones.append(ids, path, batchId)

  /** Fold all streaming increments into the base bands: one
    * bucket-partitioned rewrite of base ∪ increments, then the increment
    * directories are dropped — [[graft.streaming.Compaction.foldIncrements]]
    * with `bands` as the live directory, so the fold gets the shared
    * crash-safe protocol (pointer-committed generations, the
    * folded-batch watermark that makes replay-after-fold single-count).
    * Tombstones fold first and apply inside the data fold (the physical
    * erasure of deleted docs' band rows); a pure deletion campaign gets
    * the vacuum arm. Probe results are identical before and after
    * (StreamingDedupSpec proves it); run any time no stream is mid-batch.
    * Returns the number of increments folded. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String): Int = {
    import graft.streaming.{Compaction, Tombstones}
    Tombstones.compact(spark, path)
    val writeBands = (df: DataFrame, out: String) =>
      df.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
    val folded = Compaction.foldIncrements(spark, path, "bands") {
      (base, incs) =>
        // the id column's name is caller-chosen — the base's schema is the
        // authority (readSignatureIndex's own convention)
        val baseDf = spark.read.parquet(base.getOrElse(
          sys.error(s"no bands base under $path")))
        val cols = baseDf.columns.toSeq.map(col)
        Tombstones.applyTo(
          (baseDf +: incs.map(p => spark.read.parquet(p).select(cols: _*)))
            .reduce(_.unionByName(_)), path, bandsIdCol(baseDf))
    } (writeBands)
    if (folded == 0) Compaction.resolve(spark, path, "bands").foreach { b =>
      val baseDf = spark.read.parquet(b)
      if (Tombstones.needsVacuum(baseDf, path, bandsIdCol(baseDf)))
        Compaction.rewriteBase(spark, path, "bands")(df =>
          Tombstones.applyTo(df, path, bandsIdCol(df))
            .select(baseDf.columns.map(col): _*))(writeBands)
    }
    folded
  }

  /** Compaction trigger: fold iff more than `maxIncrements` LIVE
    * increment directories have accumulated. */
  def compactSignatureIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                    path: String, maxIncrements: Int): Int =
    if (graft.streaming.Compaction.incrementCount(spark, path, "bands") >
          maxIncrements ||
        graft.streaming.Tombstones.incrementCount(spark, path) > maxIncrements)
      compactSignatureIndex(spark, path)
    else 0

  /** Read a stored signature index (base bands plus any streaming
    * increments); refuses an index written under different MinHash geometry
    * (band keys would be incomparable garbage). Bucket partition pruning
    * applies to base and increment directories alike. */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): SignatureIndex = {
    val meta = readIndexMeta(spark, path)
    require(meta.getInt(1) == NumHashes && meta.getInt(2) == NumBands,
      s"signature index at $path was written with ${meta.getInt(1)} hashes / " +
        s"${meta.getInt(2)} bands; this build uses $NumHashes / $NumBands")
    val bands = rawBands(spark, path)
    // tombstoned docs' band rows are anti-joined out — a future near-dup
    // of a deleted doc probes as if the index never held it
    SignatureIndex(graft.streaming.Tombstones.applyTo(bands, path,
      bandsIdCol(bands)), meta.getInt(0))
  }

  /** The physical band rows (base ∪ live increments) WITHOUT the
    * tombstone anti-join — the erasure audit's read. Snapshot-isolated:
    * one view resolves the bands generation and its watermark together
    * (the id column's name is caller-chosen, so the base's own schema
    * drives the column list). */
  private def rawBands(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    val v = graft.streaming.Compaction.view(spark, path)
    val base = v.readBase(Seq("*"), "bands").getOrElse(
      sys.error(s"no bands base under $path"))
    v.read(base.columns.toSeq, "bands").get
  }

  /** ERASURE AUDIT for the stored signature index
    * ([[graft.text.LexIndex.erasureAudit]]'s readout on the dedup axis):
    * tombstone count plus the physical band rows — MinHash signatures are
    * DERIVED CONTENT of the deleted docs, so an attestation needs them
    * gone from the bytes too ([[compactSignatureIndex]] gets them there).
    */
  def erasureAudit(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    import graft.streaming.Tombstones
    val raw = rawBands(spark, path)
    // ONE lazy plan (broadcast cross join of one-row aggregates) — a
    // single action when consumed, unionable into the one-job
    // five-family attest (see LexIndex.erasureAudit)
    Tombstones.countDf(spark, path, "n_tombstones")
      .crossJoin(broadcast(Tombstones.hiddenRowCountDf(raw, path,
        bandsIdCol(raw), "band_rows_hidden")))
      .select(col("n_tombstones"), col("band_rows_hidden"),
        (col("band_rows_hidden") === 0L).as("physically_clean"))
  }

  /** BAND-OCCUPANCY DRIFT of the stored signature index — the aging
    * monitor for the dedup family ([[graft.sim.PqIndex.codeUsageDrift]]'s
    * contract on the MinHash axis), computed from the stored band rows
    * alone: per band, the L1 distance between the base's and the live
    * increments' bucket-occupancy distributions. New data that hashes
    * into buckets the way the base corpus did scores ~0; a domain shift
    * piles band keys onto few buckets (candidate buckets fatten toward
    * the cap, dedup recall thins) and the distance grows toward 2.
    * Output is NumBands-sized and each band's support is ≤ the index's
    * nBuckets (parameter-bounded). With no live increment the comparison
    * is against an empty distribution (drift = 1 per band) — gate on
    * [[graft.streaming.Compaction.incrementCount]] as the other
    * monitors' callers do. Same decimal-quantized, coalesced-key
    * arithmetic as the PQ/graph monitors, so the q353 oracle replays it
    * term for term. */
  def bandOccupancyDrift(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = graft.streaming.Compaction.view(spark, path)
    val cols = Seq("band_idx", "bucket")
    def usage(df: DataFrame, name: String): DataFrame = {
      val tot = df.groupBy("band_idx").agg(count(lit(1)).as(s"n_$name"))
      df.groupBy("band_idx", "bucket").agg(count(lit(1)).as(s"c_$name"))
        .join(tot, "band_idx")
    }
    val base = usage(v.readBase(cols, "bands").getOrElse(
      sys.error(s"no signature index under $path")), "base")
    val inc = usage(v.readIncrements(cols, "bands")
      .orElse(v.readBase(cols, "bands").map(_.limit(0)))
      .getOrElse(sys.error(s"no signature index under $path")), "inc")
    val joined = base.join(
        inc.withColumnRenamed("band_idx", "band_i")
          .withColumnRenamed("bucket", "bucket_i"),
        col("band_idx") <=> col("band_i") && col("bucket") <=> col("bucket_i"),
        "full")
      .select(coalesce(col("band_idx"), col("band_i")).as("band_idx"),
        coalesce(col("c_base"), lit(0L)).as("cb"),
        coalesce(col("c_inc"), lit(0L)).as("ci"),
        col("n_base"), col("n_inc"))
    joined
      .select(col("band_idx"), col("cb"), col("ci"),
        max(col("n_base")).over(Window.partitionBy("band_idx")).as("nb"),
        max(col("n_inc")).over(Window.partitionBy("band_idx")).as("ni"))
      .withColumn("_d",
        abs(coalesce(col("cb").cast("double") / col("nb").cast("double"),
              lit(0.0)) -
            coalesce(col("ci").cast("double") / col("ni").cast("double"),
              lit(0.0)))
          .cast("decimal(28,12)"))
      .groupBy("band_idx")
      .agg(round(sum(col("_d")).cast("double"), 6).as("l1_drift"))
  }

  /** RETENTION TRIM of the signature index's tombstone set — refuses
    * while the audit shows hidden band rows (trimming then would
    * resurrect them at the next probe); after a trim, deleted doc_ids
    * are re-ingestable (terminality consciously waived — see
    * [[graft.text.LexIndex.trimTombstones]]). */
  def trimTombstones(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit = {
    val audit = erasureAudit(spark, path).head()
    require(audit.getBoolean(audit.fieldIndex("physically_clean")),
      s"trimTombstones($path): erasure not yet physical — " +
        s"${audit.getLong(1)} band rows still hidden; run " +
        "compactSignatureIndex first")
    graft.streaming.Tombstones.clear(spark, path)
  }

  /** The index meta row (n_buckets, num_hashes, num_bands), resolved
    * through the root's pointer — meta is published WITH the bands (the
    * bucket modulus must match the layout). */
  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): org.apache.spark.sql.Row =
    spark.read.parquet(graft.streaming.Compaction.view(spark, path)
        .path("meta"))
      .select("n_buckets", "num_hashes", "num_bands").head()

  /** Target band rows per bucket directory for [[deriveBuckets]]: at
    * ~40 B/row this keeps bucket directories near healthy parquet sizes
    * (the [[DefaultIndexBuckets]] Scaladoc's arithmetic, solved for width
    * instead of assumed from it). */
  val DefaultRowsPerBucket: Long = 25L * 1000 * 1000

  /** Re-derive the bucket-partition width from the LIVE band-row volume —
    * the signature index's one frozen layout knob. [[writeSignatureIndex]]
    * sizes it once at seed time; a corpus that has since grown 100× leaves
    * every probe opening bucket directories 100× fatter than the layout
    * promised (pruning still works, but each pruned-in scan does 100× the
    * IO). Rule: rows / `targetRowsPerBucket` rounded UP to the next power
    * of two, clamped to [[[DefaultIndexBuckets]], 2²⁰] — power-of-two so a
    * rebuild at the same scale reproduces the same width (no flapping),
    * clamped so a seed corpus keeps the documented default and a
    * pathological row count cannot explode the directory listing. */
  def deriveBuckets(liveBandRows: Long,
                    targetRowsPerBucket: Long = DefaultRowsPerBucket): Int = {
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    val want = math.max(1L,
      (liveBandRows + targetRowsPerBucket - 1) / targetRowsPerBucket)
    val p2 = if (want <= 1L) 1L
             else java.lang.Long.highestOneBit(want - 1L) << 1
    math.min(1L << 20, math.max(DefaultIndexBuckets.toLong, p2)).toInt
  }

  /** REBUILD the stored signature index under a FRESH LAYOUT — the act
    * arm behind [[bandOccupancyDrift]]'s monitor ([[graft.sim
    * .GraphAnnIndex.rebuildIndex]]'s contract on the dedup axis). MinHash
    * geometry (hash count, band count) is content-addressed and never
    * changes — what ages is the LAYOUT: the bucket width was sized for
    * the seed corpus ([[deriveBuckets]]), and the monitor's reference
    * distribution is the stale base, so a grown or shifted corpus reads
    * as permanent drift. The rebuild folds base ∪ increments ∪ tombstones
    * into one new base at the re-derived width and re-baselines the
    * monitor (increments empty → the gate holds until new data streams).
    *
    * Atomicity: meta and the bands base flip TOGETHER in one
    * [[graft.streaming.Compaction.publish]] pointer commit (a new
    * modulus routing over old bucket directories would probe garbage),
    * with the whole rebuild serialized on this root's write lease — the
    * same lease every fold takes, so no append/fold can interleave.
    * Tombstone TERMINALITY survives: the new base is the tombstone-
    * filtered live read and the tombstone set itself is untouched.
    * Subsumed increments die under the watermark stamped into the new
    * base. Run between streams. */
  def rebuildSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            targetRowsPerBucket: Long =
                              DefaultRowsPerBucket): Unit = {
    import graft.streaming.{Compaction, Tombstones}
    Compaction.withWriteLease(spark, path) {
      spark.catalog.refreshByPath(path)
      Tombstones.compact(spark, path)
      val subsumed = (Compaction.foldedWatermark(spark, path, "bands") +:
        Compaction.incrementIds(spark, path)).max
      // live membership: tombstone-filtered base ∪ increments — exactly
      // the frame every probe reads; one materialization feeds the width
      // count and the rewrite
      val live = graft.ops.Checkpoint.cut(
        readSignatureIndex(spark, path).bands.drop("bucket"), eager = false)
      val liveRows = live.count()
      publishBands(live, liveRows == 0L,
        deriveBuckets(liveRows, targetRowsPerBucket), path, subsumed)
      Compaction.gcIncrements(spark, path, "bands")
      spark.catalog.refreshByPath(path)
    }
  }

  /** The closed drift loop on the dedup axis ([[graft.sim.GraphAnnIndex
    * .rebuildIfDrifted]] / [[graft.sim.PqIndex.retrainIndexIfDrifted]] /
    * [[graft.streaming.StreamingAnn.reclusterIfDrifted]]'s contract):
    * when any band's [[bandOccupancyDrift]] L1 breaches `maxDrift`,
    * rebuild under the re-derived layout via [[rebuildSignatureIndex]]
    * and return true; below threshold (or with no live increments to
    * compare — the just-compacted state) the index is untouched. The
    * report is NumBands-sized, so the check costs one band-column
    * aggregate. */
  def rebuildSignatureIndexIfDrifted(spark: org.apache.spark.sql.SparkSession,
                                     path: String, maxDrift: Double,
                                     targetRowsPerBucket: Long =
                                       DefaultRowsPerBucket): Boolean = {
    if (graft.streaming.Compaction.incrementCount(spark, path, "bands") == 0)
      return false
    val breached = bandOccupancyDrift(spark, path)
      .filter(col("l1_drift") > maxDrift).limit(1).count() > 0
    if (breached) rebuildSignatureIndex(spark, path, targetRowsPerBucket)
    breached
  }

  /** `incrementalCandidates` against a STORED corpus index: identical pairs,
    * but the corpus side is a partition-pruned parquet scan of only the
    * buckets the new batch lands in — the corpus text is never re-read and
    * untouched buckets are never even opened. The touched-bucket list is
    * collected to the driver, but it is bounded by `nBuckets` ints (not by
    * batch or corpus size), so this stays O(hundreds of bytes) at any scale. */
  def incrementalCandidatesIndexed(index: SignatureIndex, newSig: DataFrame,
                                   id: String,
                                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val newBands = bandRows(newSig, id)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched = newBands
      .filter(col("band_key").isNotNull)
      .select(pmod(col("band_key"), lit(index.nBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val corpusBands = index.bands
      .filter(col("bucket").isin(touched: _*))
      .drop("bucket")
    incrementalFromBands(corpusBands, newBands, id, maxBucket)
  }

  /** Band buckets the candidate join drops at `maxBucket`: (band_idx,
    * band_key, bucket_n). Emit/log this alongside minhashCandidates — the
    * members of a mega-bucket are near-identical boilerplate and should be
    * routed to exact dedup, not silently ignored. */
  def minhashOverflow(sig: DataFrame, id: String,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandRows(sig, id)
      .groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket && col("band_key").isNotNull)

  /** LSH health report: per band, the distribution of bucket sizes —
    * (band_idx, bucket_n, n_buckets). The operational dashboard for tuning
    * band count / bucket cap: a healthy corpus shows mass at bucket_n=1-2;
    * a fat tail means boilerplate flooding the band join. Output is bounded
    * by distinct bucket sizes (tiny), so it is always safe to compute. */
  def bucketHistogram(sig: DataFrame, id: String): DataFrame =
    bandRows(sig, id)
      .groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .groupBy("band_idx", "bucket_n")
      .agg(count(lit(1)).as("n_buckets"))

  /** Cross-document duplicate n-gram fraction per doc (RefinedWeb-style
    * "fraction of my n-grams that appear elsewhere in the corpus"): for each
    * doc, the share of its distinct word n-grams with corpus document
    * frequency ≥ 2. Unlike `ngramJaccard` this never forms pairs — one
    * groupBy for df counts on hashed 8-byte keys (map-side combined, bytes
    * ∝ distinct shingles), one join back, one per-doc count. Linear at
    * corpus scale. */
  def sharedNgramStats(df: DataFrame, id: String, text: String,
                       n: Int): DataFrame = {
    val grams = df.select(col(id), TextOps.tokens(col(text)).as("w"))
      .withColumn("g", explode(array_distinct(TextOps.wordShingles("w", n))))
      .select(col(id), expr(h64Sql("g")).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("_ndoc"))
    grams.join(dfreq, Seq("g"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_ndoc") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
  }

  /** 32-bit SimHash over word unigram hashes: bit j set when at least half
    * the token hashes have bit j set (Charikar, STOC'02). One md5 per token,
    * then a single fused native loop (graft.expressions.SimHash) — the HOF
    * reference formulation `simhashHof` computes the identical value with 32
    * interpreted aggregate passes and exists as the cross-check. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    graft.expressions.SimHash.register(df.sparkSession)
    df.select(col(id), TextOps.tokens(col(text)).as("w"))
      .withColumn("hs", expr(s"transform(w, t -> ${h64Sql("t")})"))
      .select(col(id), expr("graft_simhash(hs)").as("simhash"))
  }

  /** Reference HOF formulation of simhash (one aggregate per bit) — kept for
    * the DedupSpec equivalence check against the native expression; do not
    * use in hot paths. */
  def simhashHof(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id), TextOps.tokens(col(text)).as("w"))
      .withColumn("hs", expr(s"transform(w, t -> ${h64Sql("t")})"))
      .withColumn("n", size(col("w")))
    val bits: Column = (0 until 32).map { j =>
      when(expr(s"2 * aggregate(hs, 0L, (acc, h) -> acc + (shiftright(h, $j) & 1)) >= n"),
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.withColumn("simhash", bits).drop("w", "hs", "n")
  }

  /** Exact n-gram Jaccard similarity for pairs within a scope column (e.g.
    * same source/bucket): explode distinct shingles, self-join per scope,
    * |A∩B| / |A∪B| with exact per-doc set sizes.
    *
    * Hot-shingle safety: shingles with document frequency above `maxDf`
    * inside a scope are dropped BEFORE the self-join — a shingle in df docs
    * fans out O(df²) pairs, and high-df shingles ("of the") carry no
    * discriminating signal (standard near-dup practice; mirrored in the
    * oracle). df=1 shingles are also dropped — they cannot form a pair, so
    * this is pure pruning. Union sizes |A|,|B| are computed on the FULL
    * shingle sets, so the Jaccard denominator is exact; only the
    * intersection count can undercount, by at most the dropped-shingle
    * overlap. `ngramHotShingles` lists what was dropped. Full-corpus use
    * should feed LSH candidates instead of a scope column. */
  def ngramJaccard(df: DataFrame, id: String, text: String, scope: String,
                   n: Int, minJaccard: Double,
                   maxDf: Int = DefaultMaxDf): DataFrame = {
    // persist the exploded shingle frame: it feeds the size aggregate, the
    // df aggregate, and both self-join sides — recomputing re-shingles the
    // corpus 4×. Cache lifecycle as in minhashCandidates (ContextCleaner).
    val grams = ngrams(df, id, text, scope, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy(col(id)).agg(count(lit(1)).as("n_g"))
    val dfreq = grams.groupBy(col(scope), col("g")).agg(count(lit(1)).as("ndoc"))
    val keep = grams.join(dfreq.filter(col("ndoc").between(2, maxDf)), Seq(scope, "g"))
    val inter = keep.as("a").join(keep.as("b"),
        col("a.g") === col("b.g") && col(s"a.$scope") === col(s"b.$scope") &&
          col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("na"), col("id_a") === col(s"na.$id"))
      .join(sizes.as("nb"), col("id_b") === col(s"nb.$id"))
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double") /
          (col("na.n_g") + col("nb.n_g") - col("n_inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Asymmetric n-gram CONTAINMENT for pairs within a scope (Broder 1997's
    * second resemblance measure): C(A→B) = |A∩B|/|A| — near 1 when A is
    * quoted or wholly embedded inside a larger B even though the Jaccard
    * resemblance is tiny, which is exactly the subset/quote-detection case
    * [[ngramJaccard]] misses. Same plan and hot-shingle cap as the Jaccard
    * join (denominators |A|,|B| stay exact on the FULL sets); keeps pairs
    * where EITHER direction reaches `minContainment`. */
  def ngramContainment(df: DataFrame, id: String, text: String,
                       scope: String, n: Int, minContainment: Double,
                       maxDf: Int = DefaultMaxDf): DataFrame = {
    val grams = ngrams(df, id, text, scope, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy(col(id)).agg(count(lit(1)).as("n_g"))
    val dfreq = grams.groupBy(col(scope), col("g")).agg(count(lit(1)).as("ndoc"))
    val keep = grams.join(dfreq.filter(col("ndoc").between(2, maxDf)),
      Seq(scope, "g"))
    val inter = keep.as("a").join(keep.as("b"),
        col("a.g") === col("b.g") && col(s"a.$scope") === col(s"b.$scope") &&
          col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("na"), col("id_a") === col(s"na.$id"))
      .join(sizes.as("nb"), col("id_b") === col(s"nb.$id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        round(col("n_inter").cast("double") / col("na.n_g"), 6)
          .as("containment_a"),
        round(col("n_inter").cast("double") / col("nb.n_g"), 6)
          .as("containment_b"))
      .filter(col("containment_a") >= minContainment ||
        col("containment_b") >= minContainment)
  }

  /** Shingles the Jaccard join drops at `maxDf`: (scope, g, ndoc). Human-
    * facing report, so g stays the readable string (the join path hashes). */
  def ngramHotShingles(df: DataFrame, id: String, text: String, scope: String,
                       n: Int, maxDf: Int = DefaultMaxDf): DataFrame =
    df.select(col(id), col(scope), TextOps.tokens(col(text)).as("w"))
      .withColumn("g", explode(array_distinct(TextOps.wordShingles("w", n))))
      .groupBy(col(scope), col("g")).agg(count(lit(1)).as("ndoc"))
      .filter(col("ndoc") > maxDf)

  /** Dedup clusters: connected components over candidate near-dup pairs.
    * Every doc is labeled with the minimum doc id reachable through the
    * pair graph (`cluster_id`), plus the cluster size and a `keep` flag
    * (1 on the canonical min-id member) — the final step of a dedup
    * pipeline: pairs → clusters → keep one representative per cluster.
    *
    * Algorithm: iterative min-label propagation. Each round every vertex
    * adopts the minimum label among itself and its neighbors; converged when
    * no label changes (checked with a driver-side scalar count — the data
    * never leaves the cluster). Rounds = eccentricity of the min vertex
    * within its component; LSH components are unions of band-bucket cliques,
    * so chains are short and convergence is a handful of rounds. Per round
    * the shuffle carries (vertex, label) pairs — 16 bytes per doc — plus the
    * edge list. Each round's label set is materialized with an eager
    * `localCheckpoint`, which TRUNCATES the logical plan: a round references
    * the previous label set twice (the neighbor-min join and the update
    * join), so without truncation the plan tree doubles per round and
    * Catalyst analysis time — not the data — becomes the bottleneck within a
    * few dozen rounds. Old checkpoint blocks are freed by the
    * ContextCleaner as each round's frame goes unreachable. On a cluster
    * where executor loss must be survivable, swap for reliable `checkpoint`.
    * For adversarial path-shaped graphs the alternating
    * large-star/small-star formulation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) converges in O(log²)
    * rounds with the same per-round shape — see `starClusters`.
    *
    * `docs` supplies the vertex universe, so docs with no near-dup pair come
    * out as singleton clusters (keep = 1).
    *
    * `maxRounds` bounds the driver loop: a path-shaped component needs one
    * round per hop, so a pathological 10⁵-hop chain would otherwise spin
    * 10⁵ shuffle rounds. On hitting the cap the computation falls back to
    * `starClusters` (alternating large-star/small-star, O(log² n) rounds on
    * any graph shape) rather than throwing or — worse — silently returning
    * the not-yet-converged WRONG labels. Set `fallbackToStar = false` to get
    * the old throwing behavior (e.g. when a deep component indicates corrupt
    * pair input rather than a legitimately chain-shaped corpus). */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, id: String,
                    idA: String = "id_a", idB: String = "id_b",
                    maxRounds: Int = 100,
                    fallbackToStar: Boolean = true): DataFrame = {
    val edges = pairs.select(col(idA).as("v"), col(idB).as("u"))
      .union(pairs.select(col(idB).as("v"), col(idA).as("u")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = docs.select(col(id).as("v")).distinct()
      .withColumn("lbl", col("v"))
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= maxRounds) {
        edges.unpersist()
        if (fallbackToStar)
          return starClusters(docs, pairs, id, idA, idB)
        throw new IllegalStateException(
          s"dedupClusters: not converged after $maxRounds rounds — a component " +
            "deeper than the cap exists; use starClusters for such graphs")
      }
      val nbrMin = edges
        .join(labels.select(col("v").as("u"), col("lbl").as("ulbl")), "u")
        .groupBy("v").agg(min("ulbl").as("nmin"))
      // the changed-label count rides the checkpoint's own job as an
      // observed metric (§1 action-count) — the old shape ran a separate
      // probe action over the just-checkpointed blocks every round
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(nbrMin, Seq("v"), "left_outer")
        .select(col("v"), col("lbl"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("nlbl"))
        .observe(obs, sum(when(col("nlbl") =!= col("lbl"), 1L)
          .otherwise(0L)).as("_chg"))
        .transform(graft.ops.Checkpoint.cut(_, eager = true)) // materialize + truncate lineage
      changed = Option(obs.get("_chg")).map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next.select(col("v"), col("nlbl").as("lbl"))
      rounds += 1
    }
    edges.unpersist()
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("v").as(id), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("v") === col("lbl")).cast("int").as("keep"))
  }

  /** Incremental cluster maintenance: fold a NEW batch into an EXISTING
    * cluster assignment without re-pairing or re-clustering the corpus —
    * the clustering counterpart of `incrementalCandidates` (q80/q83),
    * closing the daily-refresh loop end to end. The old assignment is
    * already a forest of depth-1 stars (doc → min label), so it re-enters
    * label propagation as edges that converge in one round; only the
    * incremental candidate pairs (old×new and new×new) add real rounds. A
    * new doc bridging two old clusters merges them, and labels converge to
    * the GLOBAL min id per merged component — the output is IDENTICAL to
    * re-clustering the full corpus from scratch (q155's oracle is exactly
    * the from-scratch clustering), while the work done is ∝ new-batch
    * pairs + one label pass over the vertex set. Caveat shared with q80:
    * hot-bucket caps are evaluated on the union frame, so a bucket that
    * only overflows once the new batch lands drops its pairs in BOTH the
    * incremental and from-scratch runs — the two stay equal. */
  def incrementalClusters(oldAssign: DataFrame, newDocs: DataFrame,
                          newPairs: DataFrame, id: String,
                          idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val docs = oldAssign.select(col(id)).union(newDocs.select(col(id)))
    val starEdges = oldAssign.filter(col(id) =!= col("cluster_id"))
      .select(col(id).as(idA), col("cluster_id").as(idB))
    dedupClusters(docs, starEdges.union(newPairs.select(col(idA), col(idB))),
      id, idA, idB)
  }

  /** Cross-snapshot cluster diff: classify every cluster of the NEW
    * assignment against the OLD one — the change-report that tells an
    * incremental-dedup pipeline ([[incrementalClusters]]) what the last
    * batch actually did to the duplicate structure. Per new cluster:
    * member count, how many members are new docs (absent from the old
    * assignment), how many DISTINCT old clusters it absorbed, and a
    * status — `new` (all members new), `merged` (a new doc bridged ≥ 2
    * old clusters), `grown` (one old cluster gained members), or
    * `unchanged`. Under append-only snapshots old edges persist, so old
    * clusters never split and these four cases are exhaustive.
    *
    * Scale shape: one doc-keyed left join of the two assignment frames
    * and one cluster-keyed aggregate (count-distinct over the bounded
    * per-cluster old-label set) — both assignment-sized, no pair joins,
    * no text. Emits (cluster_id, n_docs, n_new_docs, n_old_clusters,
    * status). */
  def clusterDiff(oldAssign: DataFrame, newAssign: DataFrame,
                  id: String): DataFrame =
    newAssign.select(col(id), col("cluster_id"))
      .join(oldAssign.select(col(id), col("cluster_id").as("_oc")),
        Seq(id), "left")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("_oc").isNull, 1)).as("n_new_docs"),
        countDistinct(col("_oc")).as("n_old_clusters"))
      .withColumn("status",
        when(col("n_old_clusters") === 0, lit("new"))
          .when(col("n_old_clusters") > 1, lit("merged"))
          .when(col("n_new_docs") > 0, lit("grown"))
          .otherwise(lit("unchanged")))

  /** Soft dedup: duplication-aware sampling weights over a
    * [[dedupClusters]]/[[starClusters]] frame. Every doc gets weight
    * 1/|cluster| and a deterministic salted-hash keep decision with
    * P(keep) = weight, so each near-dup cluster survives with ~1 doc in
    * expectation WITHOUT hard-dropping — the down-weighting alternative to
    * keep-one-representative (common when duplicates correlate with
    * quality and outright dropping biases the corpus). Singletons are
    * always kept (bucket·1 < 10⁶ for every bucket). The sampling compare
    * is integer-exact (bucket·size < 10⁶), so it's engine-portable and
    * repartition/re-run stable like every other mixing decision here. */
  def softDedupWeights(clusters: DataFrame, id: String): DataFrame =
    clusters
      .withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
      .withColumn("_bucket", TextOps.h64(
        concat(col(id).cast("string"), lit(":dw"))) % lit(1000000L))
      .withColumn("sampled",
        (col("_bucket") * col("cluster_size") < lit(1000000L)).cast("int"))
      .select(col(id), col("cluster_id"), col("cluster_size"),
        col("weight"), col("sampled"))

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Same output contract as `dedupClusters` — cluster_id = min
    * reachable doc id, cluster_size, keep — but converges in O(log² n)
    * rounds on ANY graph shape, where min-label propagation needs one round
    * per hop (a crawl-chain component 10⁴ docs deep = 10⁴ shuffle rounds).
    *
    * Large-star: each vertex u connects its strictly-larger neighbors to
    * m = min(Γ(u) ∪ {u}). Small-star: each vertex u connects its
    * smaller neighbors and itself to m = min(Γ≤(u)). Both are one
    * groupBy + one join over the edge set; edges only ever move toward
    * component minima, and the fixpoint is a star forest centered on each
    * component's minimum vertex. Per-round shuffle ∝ current edge set
    * (2 longs/edge) — same scale shape as one label-propagation round.
    *
    * Convergence is detected by an order-insensitive fingerprint of the
    * canonical edge set — (count, Σ xxhash64(lo, hi)) — repeating; one
    * cheap aggregate per round, nothing collected but two longs. The paper's
    * potential argument rules out oscillation, so fingerprint-repeat means
    * fixpoint.
    *
    * Each round's edge set is materialized with an eager `localCheckpoint`,
    * which TRUNCATES the logical plan: one round references the previous
    * edge set ~5 times (symmetrize ×2, the min-join, the star join), so
    * without truncation the plan tree grows ~5× per round and Catalyst
    * analysis — not the data — becomes the bottleneck by round ~10. On a
    * cluster where executor loss must be survivable, swap for reliable
    * `checkpoint` (same call shape, writes to the checkpoint dir). */
  def starClusters(docs: DataFrame, pairs: DataFrame, id: String,
                   idA: String = "id_a", idB: String = "id_b",
                   maxRounds: Int = 100): DataFrame = {
    // the hash sum aggregates through decimal(38,0): exact, order-insensitive,
    // and immune to the long overflow ANSI mode would throw on (the sum of n
    // 63-bit hashes needs ~log10(n)+19 digits — 38 covers any edge count).
    // The fingerprint rides each round's CHECKPOINT job as an observed
    // metric (§1 action-count): the old shape ran a separate aggregate
    // action per round over the just-checkpointed blocks — one job per
    // round of pure probe, now zero (both Checkpoint.cut modes execute
    // through Dataset.withAction, which completes observed metrics).
    def fpMetrics: Seq[Column] = Seq(count(lit(1)).as("_n"),
      sum(xxhash64(col("lo"), col("hi"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("_h"))
    def fpOf(obs: org.apache.spark.sql.Observation): (Long, String) = {
      val m = obs.get
      (m("_n").asInstanceOf[Long],
        Option(m("_h")).map(_.asInstanceOf[java.math.BigDecimal]
          .toBigInteger.toString).getOrElse("0"))
    }
    val obs0 = org.apache.spark.sql.Observation()
    var edges = pairs
      .select(least(col(idA), col(idB)).as("lo"), greatest(col(idA), col(idB)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .observe(obs0, fpMetrics.head, fpMetrics.tail: _*)
      .transform(graft.ops.Checkpoint.cut(_, eager = true))
    var fp = fpOf(obs0)
    var converged = fp._1 == 0L
    var rounds = 0
    // SMALL-TAIL DRIVER FINISH: the star rounds shrink the edge set
    // monotonically, and the last few rounds of a distributed CC are the
    // classic latency sink — k more rounds of tiny shuffles to converge a
    // graph that now fits in one task. Once the edge count (already on the
    // driver from the convergence fingerprint) drops under the cutoff,
    // finish with a driver union-find instead: the collect is BOUNDED by
    // the cutoff (default 10⁶ edges = 16 MB — the codebook/Gram-moment
    // family of parameter-bounded driver reads, tunable/disable-able via
    // spark.graft.ccDriverFinishEdges), and the labels are identical (min
    // reachable id — union always roots at the smaller id), so outputs are
    // byte-equal with or without it. Integral-id graphs only: the driver
    // comparison must reproduce Spark's ordering exactly, which UTF-16
    // String.compareTo does not guarantee against UTF-8 binary order.
    val smallTail = docs.sparkSession.conf
      .get("spark.graft.ccDriverFinishEdges", "1000000").toLong
    val integralIds = pairs.schema(idA).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    while (!converged) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"starClusters: not converged after $maxRounds rounds (edge count ${fp._1})")
      if (integralIds && fp._1 <= smallTail) {
        val idDt = pairs.schema(idA).dataType
        val es = edges.select(col("lo").cast("long"), col("hi").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        val verts = es.iterator.flatMap(t => Iterator(t._1, t._2)).toSet
        val star = verts.iterator.map(v => (find(v), v))
          .filter { case (m, v) => m != v }.toSeq
        import docs.sparkSession.implicits._
        edges = star.toDF("lo", "hi")
          .select(col("lo").cast(idDt).as("lo"),
            col("hi").cast(idDt).as("hi"))
        converged = true
      } else {
      // large-star: attach each vertex's larger neighbors to its closed-
      // neighborhood minimum m; emitted edges (m, v) keep lo < hi since m ≤ u < v
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mn = sym.groupBy("u").agg(min("v").as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val ls = sym.join(mn, "u").filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
      // small-star: orient hi→lo (so every neighbor v of u here has v < u),
      // attach v's and u itself to m = min of u's smaller neighbors (m ≤ v < u)
      val or = ls.select(col("hi").as("u"), col("lo").as("v"))
      val mn2 = or.groupBy("u").agg(min("v").as("m"))
      val obs = org.apache.spark.sql.Observation()
      val ss = or.join(mn2, "u")
        .select(col("m").as("lo"), col("v").as("hi"))
        .union(mn2.select(col("m").as("lo"), col("u").as("hi")))
        .filter(col("lo") =!= col("hi")).distinct()
        .observe(obs, fpMetrics.head, fpMetrics.tail: _*)
        .transform(graft.ops.Checkpoint.cut(_, eager = true)) // materialize + truncate lineage
      val nfp = fpOf(obs)
      edges = ss
      converged = nfp == fp
      fp = nfp
      rounds += 1
      }
    }
    // fixpoint edge set is a star forest (lo = component min, hi = member);
    // the groupBy-min is belt and braces, not a requirement
    val member = edges.groupBy(col("hi").as("v")).agg(min("lo").as("lbl"))
    val labels = docs.select(col(id).as("v")).distinct()
      .join(member, Seq("v"), "left_outer")
      .select(col("v"), coalesce(col("lbl"), col("v")).as("lbl"))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("v").as(id), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("v") === col("lbl")).cast("int").as("keep"))
  }

  /** Distinct shingles per doc, hashed to 60-bit longs: the join/groupBy key
    * is 8 bytes instead of an n-word string (shuffle bytes ∝ key width; the
    * distinct-THEN-hash order keeps per-doc set sizes exact regardless of
    * hash collisions, and both engines hash identically so results agree). */
  private def ngrams(df: DataFrame, id: String, text: String, scope: String,
                     n: Int): DataFrame =
    df.select(col(id), col(scope), TextOps.tokens(col(text)).as("w"))
      .withColumn("g", explode(array_distinct(TextOps.wordShingles("w", n))))
      .select(col(id), col(scope), expr(TextOps.h64Sql("g")).as("g"))

  /** MinHash estimator calibration ("measure, don't guess" for the dedup
    * pipeline): for every LSH candidate pair, compute the TRUE Jaccard of
    * the exact hashed-3-shingle sets (the estimator's own universe —
    * [[minhashSignatures]]'s `bh` stream, deduplicated) and bucket the
    * 16-hash estimate into `bins` reliability bins: per bin, pair count,
    * mean estimate, mean truth, and mean absolute error. This is the
    * evidence for choosing the candidate threshold: it tells you what an
    * est_jaccard of 0.5 actually MEANS on this corpus.
    *
    * Scale shape: signatures/candidates are the production pipeline
    * (shuffles bounded by the LSH bucket cap); the truth pass streams
    * each candidate doc's shingle set once through a semi-restricted
    * (pair, gram) join — candidates × doc-size rows, never corpus² —
    * with map-side-combined intersection counts. Truth and error terms
    * quantize to DECIMAL(28,12) pre-sum; divisions pinned. Emits one row
    * per non-empty bin: (bin, n_pairs, mean_est, mean_true,
    * mean_abs_err) at 6 dp. */
  def minhashEval(df: DataFrame, id: String, text: String,
                  bins: Int = 10): DataFrame = {
    val cand = minhashCandidates(minhashSignatures(df, id, text), id)
    val grams = df.select(col(id), TextOps.tokens(col(text)).as("w"))
      .withColumn("sh", TextOps.wordShingles("w", 3))
      .select(col(id), explode(array_distinct(
        expr(s"transform(sh, x -> ${TextOps.h64Sql("x")} % ${MinhashP}L)")))
        .as("g"))
    val sizes = grams.groupBy(col(id)).agg(count(lit(1)).as("_ng"))
    val inter = cand.select("id_a", "id_b")
      .join(grams.withColumnRenamed(id, "id_a"), "id_a")
      .join(grams.withColumnRenamed(id, "id_b"), Seq("id_b", "g"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_ni"))
    val scored = cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.withColumnRenamed(id, "id_a").withColumnRenamed("_ng", "_na"),
        "id_a")
      .join(sizes.withColumnRenamed(id, "id_b").withColumnRenamed("_ng", "_nb"),
        "id_b")
      .withColumn("_ni", coalesce(col("_ni"), lit(0L)))
      .withColumn("_true", col("_ni").cast("double") /
        (col("_na") + col("_nb") - col("_ni")))
      .withColumn("bin", least(floor(col("est_jaccard") * bins).cast("long"),
        lit(bins - 1L)))
    scored.groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("est_jaccard").cast("decimal(28,12)")).as("_se"),
        sum(col("_true").cast("decimal(28,12)")).as("_st"),
        sum(abs(col("est_jaccard") - col("_true")).cast("decimal(28,12)"))
          .as("_sa"))
      .select(col("bin"), col("n_pairs"),
        round(col("_se").cast("double") / col("n_pairs"), 6).as("mean_est"),
        round(col("_st").cast("double") / col("n_pairs"), 6).as("mean_true"),
        round(col("_sa").cast("double") / col("n_pairs"), 6)
          .as("mean_abs_err"))
  }
}
