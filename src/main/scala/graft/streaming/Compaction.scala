package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared maintenance protocol for the maintained parquet artifacts
  * ([[StreamingAnn]] posting lists, [[StreamingSketch]] count-min and
  * DDSketch counters, [[StreamingLm]] bigram counts, [[StreamingMerge]]
  * snapshots, [[graft.text.LexIndex]] postings/doclens,
  * [[graft.text.Dedup]] signature bands, [[graft.sim.PqIndex]] code
  * tables, [[graft.sim.GraphAnnIndex]] vectors/edges, the IVF store of
  * [[graft.sim.Similarity]], [[Tombstones]]).
  *
  * Why it exists: every foreachBatch sink in this family lands one
  * `increments/batch=<id>` directory per micro-batch, forever — correct
  * (the merge contracts are additive / union-distributive), but the read
  * path's file listing and union width grow linearly with batch count; at
  * hourly cadence a reader unions thousands of directories within months.
  * Folds, vacuums and reclusters rewrite the base — and at 100 TB a
  * serving fleet queries these indexes CONTINUOUSLY, so the rewrite must
  * never require a read outage.
  *
  * == Versioned roots: snapshot isolation for readers ==
  *
  * Nothing mutates or renames a directory a reader could be holding.
  * Every maintained root has ONE layout:
  * {{{
  *   <root>/_pointer/p<NNNN>       one file per committed generation,
  *                                 lines of "name<TAB>versioned-dir"
  *   <root>/<name>_v<K>            immutable content generations
  *   <root>/increments/batch=<id>  per-batch landings
  * }}}
  * A reader resolves the pointer ONCE per query ([[view]]): the highest
  * `p<N>` file names the live directory of every maintained artifact
  * under the root. Every write — the seed build of a fresh index as much
  * as a fold, vacuum or rebuild — goes through [[publish]]: the new
  * `<name>_v<K>` directories are written in full, then a finished pointer
  * file is renamed into place — one atomic create is the commit point. A
  * crash before it leaves unreferenced `_v<K>` directories no reader
  * resolves (reaped by GC, overwritten by the next writer); a crash after
  * it leaves the new generation fully live, its GC done by the next op.
  * Multi-directory flips (recluster: centroids + postings; retrain:
  * codebook + codes; rebuild: meta + base) commit in ONE pointer file, so
  * the artifact SET is always all-old or all-new. A fresh root starts at
  * generation 1. No staging directory and no recovery pass exist.
  *
  * == Grace period ==
  *
  * GC keeps the directories referenced by the LAST TWO pointers, and
  * keeps every increment directory whose batch id exceeds the OLDEST
  * in-grace base's folded watermark. So a reader that resolved the
  * previous generation keeps a complete, consistent view — base plus the
  * increments that base has not folded — throughout the next maintenance
  * op. The isolation contract: a query is safe so long as it finishes
  * before TWO subsequent maintenance ops land on the same root (at any
  * plausible fold cadence, hours of slack). SnapshotIsolationSpec
  * interleaves reader execution with concurrent fold/recluster/vacuum on
  * all four index families to pin exactly this.
  *
  * == Watermarks ==
  *
  * The folded-batch watermark is stamped INSIDE each base generation as
  * `_folded_watermark` (hidden from parquet readers) and travels with the
  * directory: readers prune `batch <= watermark` increment directories
  * (partition-column filter — stale dirs never open), sinks drop a
  * replayed landing ([[isFolded]]), and folds skip batches a prior fold
  * owns. Because watermark and content commit together, replay is
  * single-count in every crash state.
  *
  * Single-writer contract: maintenance ops (fold / vacuum / publish) on
  * one root must not run concurrently with each other — run them between
  * streams (this family's sinks use AvailableNow triggers, which
  * terminate between runs). Readers need no coordination at all.
  */
private[graft] object Compaction {

  /** Name of the watermark stamp inside a base directory. Underscore
    * prefix: parquet readers ignore it as a hidden file. */
  private val WmFile = "_folded_watermark"

  /** Pointer directory under a versioned root. */
  private val PtrDir = "_pointer"

  private def fsFor(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ─────────────────────────────── write lease ──

  /** Roots whose lease the current thread holds — a nested acquisition
    * by the holder (a rebuild publishing into the root it serializes on)
    * runs its body under the outer lease. */
  private val heldLeases = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Run `body` holding the root's exclusive MAINTENANCE LEASE — the
    * mechanical form of the single-writer contract: a second maintenance
    * op (fold / vacuum / publish / graph restate) on the same root fails
    * fast with a clear error instead of racing the pointer commit (the
    * `commitPointer` expect-check would catch the race only at commit
    * time, after both writers burned their rewrite). Re-entrant within
    * the holding thread.
    *
    * Implementation: one create-exclusive `_lease` file under the root
    * (atomic on HDFS and local FS), holder token = host:pid:nonce, released
    * on completion. A lease left by a CRASHED writer is broken once it is
    * older than `spark.graft.leaseTtlMinutes` (default 60 — longer than
    * any plausible fold). Ownership is VERIFIED at every destructive step:
    * the break renames the stale lease aside first (rename is atomic, so
    * of two racing breakers exactly one wins — the loser falls through to
    * the create-exclusive acquire and fails fast on the winner's fresh
    * lease), and the release re-reads the lease and deletes it only if it
    * still carries THIS call's token — a writer whose lease was TTL-broken
    * mid-body (a fold outliving the TTL, clock skew) must not delete the
    * new holder's lease on its way out. A root that does not exist yet is
    * not leased: there is nothing to protect before the first write, and
    * the commitPointer expectation stays as the backstop for two
    * concurrent first builds. Readers never touch the lease. */
  private[graft] def withWriteLease[T](spark: SparkSession, root: String)
                                      (body: => T): T = {
    val fs = fsFor(spark, root)
    val key = new Path(root).toString
    if (heldLeases.get()(key) || !fs.exists(new Path(root))) return body
    val p = new Path(s"$root/_lease")
    val ttlMs = (spark.conf.get("spark.graft.leaseTtlMinutes", "60")
      .toDouble * 60000).toLong
    val token = java.net.InetAddress.getLocalHost.getHostName + ":" +
      ProcessHandle.current.pid + ":" + java.util.UUID.randomUUID
    def readLease(): String =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case _: Throwable => "unknown" }
    if (fs.exists(p) && System.currentTimeMillis -
          fs.getFileStatus(p).getModificationTime > ttlMs) {
      // stale lease of a crashed writer: break it by renaming it ASIDE —
      // one atomic step only one racing breaker can win, so two breakers
      // can never each delete-then-create and both believe they hold it
      val aside = new Path(s"$root/_lease_broken_${java.util.UUID.randomUUID}")
      if (fs.rename(p, aside)) fs.delete(aside, false): Unit
      // reap aside files a breaker crashed between rename and delete
      fs.listStatus(new Path(root))
        .filter(_.getPath.getName.startsWith("_lease_broken_"))
        .foreach(st => fs.delete(st.getPath, false))
    }
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"maintenance lease at $root is held by [${readLease()}] — a " +
              "concurrent maintenance op is running on this root " +
              "(single-writer contract); a crashed holder's lease " +
              "expires after spark.graft.leaseTtlMinutes", e)
      }
    try out.write(token.getBytes("UTF-8"))
    finally out.close()
    heldLeases.set(heldLeases.get() + key)
    try body
    finally {
      heldLeases.set(heldLeases.get() - key)
      if (readLease() == token) fs.delete(p, false): Unit
    }
  }

  // ─────────────────────────────── pointer machinery ──

  /** An immutable resolution of a maintained root, taken ONCE — every
    * directory a single query touches must come from the same view, or a
    * concurrent multi-directory publish could hand it mixed generations
    * (fresh centroids over stale posting lists). Cheap: one directory
    * listing of `_pointer/`. */
  final class RootView private[Compaction] (
      val spark: SparkSession, val root: String,
      private[Compaction] val mapping: Map[String, String]) {

    private val fs = fsFor(spark, root)

    /** The live directory for `name`; None when no committed generation
      * names it. */
    def dir(name: String): Option[String] =
      mapping.get(name).map(d => s"$root/$d")

    /** [[dir]] for a name the index cannot be read without. */
    def path(name: String): String = dir(name).getOrElse(
      throw new IllegalStateException(
        s"no committed generation of '$name' under $root"))

    /** The folded watermark stamped inside [[dir]](name); -1 when the
      * directory (or the stamp) is absent. */
    def watermark(name: String): Long =
      dir(name).map(d => readWm(fs, new Path(d))).getOrElse(-1L)

    /** Snapshot-isolated union read of this root's artifact: resolved
      * base generation ∪ increments above ITS watermark. None when
      * neither exists. `cols` also prunes the increment scan's schema
      * (partition column `batch` is dropped unless requested). */
    def read(cols: Seq[String], baseName: String = "base"): Option[DataFrame] =
      (readBase(cols, baseName), readIncrements(cols, baseName)) match {
        case (Some(b), Some(i)) => Some(b.unionByName(i))
        case (b, i)             => b.orElse(i)
      }

    /** The base generation alone (no increments) — drift monitors compare
      * it against [[readIncrements]]. */
    def readBase(cols: Seq[String], baseName: String = "base"): Option[DataFrame] =
      dir(baseName).map(p => spark.read.parquet(p).select(cols.map(col): _*))

    /** The live increments alone (batch > the base's watermark); None
      * when none exist. */
    def readIncrements(cols: Seq[String],
                       baseName: String = "base"): Option[DataFrame] = {
      val wm = watermark(baseName)
      val incP = new Path(s"$root/increments")
      if (fs.exists(incP) && incrementIds(spark, root).exists(_ > wm))
        Some(spark.read.parquet(incP.toString)
          .filter(col("batch") > wm).select(cols.map(col): _*))
      else None
    }
  }

  /** Resolve a root's pointer ONCE. See [[RootView]]. */
  def view(spark: SparkSession, root: String): RootView = {
    val fs = fsFor(spark, root)
    new RootView(spark, root,
      pointerIds(fs, root).lastOption.map(readPointer(fs, root, _))
        .getOrElse(Map.empty))
  }

  /** The live directory for `name` under `root` (one-shot [[view]]).
    * Queries touching a SINGLE directory may use this; anything touching
    * two maintained directories must share one [[view]]. */
  def resolve(spark: SparkSession, root: String, name: String): Option[String] =
    view(spark, root).dir(name)

  /** Committed generation ids under `root`, ascending; empty before the
    * first commit. */
  private def pointerIds(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new Path(s"$root/$PtrDir")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("p") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).toSeq.sorted
  }

  /** The name → versioned-dir map committed as generation `id`. */
  private def readPointer(fs: FileSystem, root: String,
                          id: Long): Map[String, String] = {
    val in = fs.open(new Path(s"$root/$PtrDir/${ptrName(id)}"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap
    finally in.close()
  }

  private def ptrName(id: Long): String = f"p$id%012d"

  /** Commit generation `expect` with `updates` merged over the previous
    * pointer's map. The rename of a fully-written temp file is the atomic
    * commit point — a reader never observes a torn pointer. `expect` is
    * the id the caller reserved via [[nextGenId]]; a mismatch means a
    * concurrent maintenance op violated the single-writer contract. */
  private def commitPointer(spark: SparkSession, root: String,
                            updates: Map[String, String],
                            expect: Long): Unit = {
    val fs = fsFor(spark, root)
    val ids = pointerIds(fs, root)
    val id = ids.lastOption.getOrElse(0L)
    require(id + 1 == expect,
      s"pointer commit at $root: expected generation $expect but the " +
        s"latest is $id — a concurrent maintenance op ran (single-writer " +
        "contract violated)")
    val cur = if (ids.isEmpty) Map.empty[String, String]
              else readPointer(fs, root, id)
    val dir = new Path(s"$root/$PtrDir")
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp_${ptrName(expect)}")
    val out = fs.create(tmp, true)
    try out.write((cur ++ updates).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(dir, ptrName(expect))
    require(!fs.exists(dst) && fs.rename(tmp, dst),
      s"pointer commit at $root: rename $tmp -> $dst failed")
  }

  /** The generation id the next commit will use; also the `_v<K>` suffix
    * of the directories that commit publishes. */
  private def nextGenId(fs: FileSystem, root: String): Long =
    pointerIds(fs, root).lastOption.getOrElse(0L) + 1

  private val VersionedDir = "^(.+)_v(\\d+)$".r

  /** Wall-clock GC grace: in ADDITION to the last-two-pointers rule,
    * superseded generations, old pointer files and folded increments
    * survive until they are at least this old — so a long analytical
    * reader that outlives TWO quick maintenance ops on the same root
    * still cannot chase deleted files within the window. 0 disables the
    * floor (generation-counting alone, the pre-r15 behavior — what the
    * unit-test session uses so rapid-fire fold specs stay meaningful). */
  private def graceMs(spark: SparkSession): Long =
    (spark.conf.get("spark.graft.gcGraceMinutes", "30").toDouble * 60000)
      .toLong

  private def agedOut(fs: FileSystem, p: Path, grace: Long): Boolean =
    System.currentTimeMillis - fs.getFileStatus(p).getModificationTime >= grace

  /** The pointers in grace: the last two plus any older one still inside
    * the wall-clock floor (a reader may have resolved it). */
  private def keptPointers(fs: FileSystem, root: String,
                           grace: Long): Seq[Long] = {
    val ids = pointerIds(fs, root)
    val last2 = ids.takeRight(2).toSet
    ids.filter(i => last2(i) ||
      !agedOut(fs, new Path(s"$root/$PtrDir/${ptrName(i)}"), grace))
  }

  /** Reap everything outside the grace window: pointer files no longer
    * kept and `_v<K>` directories referenced by no kept pointer
    * (including uncommitted crash leftovers) — each only once it is also
    * older than the wall-clock floor ([[graceMs]]). Never touches
    * `increments/`, `tombstones/`, or any live generation. */
  private def gcVersions(spark: SparkSession, root: String): Unit = {
    val fs = fsFor(spark, root)
    val grace = graceMs(spark)
    val kept = keptPointers(fs, root, grace)
    if (kept.isEmpty) return
    pointerIds(fs, root).filterNot(kept.contains).foreach(i =>
      fs.delete(new Path(s"$root/$PtrDir/${ptrName(i)}"), false))
    val referenced = kept.flatMap(readPointer(fs, root, _).values).toSet
    fs.listStatus(new Path(root)).foreach { st =>
      st.getPath.getName match {
        case n @ VersionedDir(_, _) if st.isDirectory && !referenced(n) &&
            agedOut(fs, st.getPath, grace) =>
          fs.delete(st.getPath, true): Unit
        case _ => ()
      }
    }
  }

  /** Delete the increment directories every in-grace snapshot prunes:
    * batch id at or below the OLDEST kept generation's watermark. Called
    * by folds and by rebuilds after their publish; deferred deletion is
    * what lets a reader of the previous base keep unioning the
    * increments that base has not folded. */
  private[graft] def gcIncrements(spark: SparkSession, root: String,
                                  baseName: String = "base"): Unit = {
    val fs = fsFor(spark, root)
    val grace = graceMs(spark)
    val incDir = new Path(s"$root/increments")
    if (!fs.exists(incDir)) return
    val kept = keptPointers(fs, root, grace)
    // no committed generation yet: nothing is folded
    val horizon = if (kept.isEmpty) -1L else kept.map { id =>
      readPointer(fs, root, id).get(baseName)
        .map(d => readWm(fs, new Path(s"$root/$d"))).getOrElse(-1L)
    }.min
    incrementIds(spark, root).filter(_ <= horizon).foreach { b =>
      val p = new Path(s"$root/increments/batch=$b")
      if (agedOut(fs, p, grace)) fs.delete(p, true): Unit
    }
    if (fs.listStatus(incDir).isEmpty) fs.delete(incDir, true): Unit
  }

  // ─────────────────────────────── watermarks & signals ──

  /** Max batch id ever folded into `root`'s live base generation; -1 when
    * no fold has happened (or no base exists). Readers prune
    * `batch <= watermark` increment directories; sinks drop replayed
    * landings via [[isFolded]]. One-shot resolution — reads sharing a
    * base scan must take the watermark from the same [[view]]. */
  def foldedWatermark(spark: SparkSession, root: String,
                      baseName: String = "base"): Long =
    view(spark, root).watermark(baseName)

  /** True iff `batchId`'s rows are already owned by `root`'s base — the
    * sink-side replay guard: a batch retried AFTER its increment was
    * folded must NOT re-land its directory. */
  def isFolded(spark: SparkSession, root: String, batchId: Long,
               baseName: String = "base"): Boolean =
    batchId <= foldedWatermark(spark, root, baseName)

  private def readWm(fs: FileSystem, baseDir: Path): Long = {
    val p = new Path(baseDir, WmFile)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64)
      val n = in.read(buf)
      new String(buf, 0, math.max(n, 0), "UTF-8").trim.toLong
    } finally in.close()
  }

  private def writeWm(fs: FileSystem, baseDir: Path, wm: Long): Unit = {
    val out = fs.create(new Path(baseDir, WmFile), true)
    try out.write(wm.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Stamp a freshly-written, not yet committed generation (inside a
    * [[publish]] body) with the watermark it subsumes — the stamp goes
    * live with the directory, atomically. */
  private[graft] def stampWatermark(spark: SparkSession, dir: String,
                                    wm: Long): Unit =
    writeWm(fsFor(spark, dir), new Path(dir), wm)

  /** Batch ids of the increment directories currently under `root`
    * (live AND folded-but-in-grace — see [[incrementCount]] for the
    * trigger signal, which counts live only). */
  private[graft] def incrementIds(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsFor(spark, root)
    val incDir = new Path(s"$root/increments")
    if (!fs.exists(incDir)) Nil
    else fs.listStatus(incDir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).toSeq.sorted
  }

  /** Count of LIVE increment directories under `root` (batch id above the
    * current base's watermark) — the trigger signal every family's
    * `compact*IfNeeded` gate reads. Folded-but-in-grace directories are
    * excluded: they are already pruned by every current reader and would
    * otherwise re-trigger a no-op fold each call. */
  def incrementCount(spark: SparkSession, root: String,
                     baseName: String = "base"): Int = {
    val wm = foldedWatermark(spark, root, baseName)
    incrementIds(spark, root).count(_ > wm)
  }

  // ─────────────────────────────── maintenance ops ──

  /** Make a new generation of `names` live under `root` — the one way any
    * maintained directory is written, seed builds and rebuilds alike.
    * Reserves the next generation id `K`, hands `write` the map
    * name → `<root>/<name>_v<K>` to fill (an uncommitted crash leftover at
    * those paths is cleared first), then commits ONE pointer file naming
    * them all and runs GC. A crash before the commit leaves `_v<K>`
    * directories no pointer references — never read, reaped by a later
    * GC, overwritten by the next writer; after it the whole set is live
    * at once (fresh centroids never route over stale posting lists).
    * Callers whose new base subsumes increments stamp its watermark
    * inside `write` ([[stampWatermark]]) and run [[gcIncrements]] after.
    * Holds the root's write lease. */
  private[graft] def publish[T](spark: SparkSession, root: String,
                                names: Seq[String])
                               (write: Map[String, String] => T): T =
    withWriteLease(spark, root) {
      require(names.nonEmpty, "publish needs at least one directory name")
      val fs = fsFor(spark, root)
      val gen = nextGenId(fs, root)
      val dirs = names.map(n => n -> s"${n}_v$gen").toMap
      dirs.values.foreach(d => fs.delete(new Path(s"$root/$d"), true))
      val out = write(dirs.map { case (n, d) => n -> s"$root/$d" })
      commitPointer(spark, root, dirs, gen)
      gcVersions(spark, root)
      out
    }

  /** Fold the current increments of the artifact rooted at `root` into a
    * NEW base generation. `fold(basePath, incrementPaths)` builds the
    * merged frame (basePath is None when no base exists yet);
    * `write(df, outPath)` materializes it with the family's layout.
    * The new generation commits via [[publish]]; the previous generation
    * and the increments it still needs survive one grace round for
    * in-flight readers. Returns the number of increment directories
    * folded (0 = nothing to do — GC may still have reaped out-of-grace
    * debris). */
  def foldIncrements(spark: SparkSession, root: String,
                     baseName: String = "base")
                    (fold: (Option[String], Seq[String]) => DataFrame)
                    (write: (DataFrame, String) => Unit): Int =
    withWriteLease(spark, root) {
      val v = view(spark, root)
      val wm = v.watermark(baseName)
      val fresh = incrementIds(spark, root).filter(_ > wm)
      if (fresh.isEmpty) {
        gcVersions(spark, root)
        gcIncrements(spark, root, baseName)
      } else graft.ops.Jobs.labeled(spark, s"fold $root/$baseName") {
        // the shared FileStatusCache may hold listings from earlier reads
        // of these paths (a restated increment rewrites its part files
        // under the same directory) — refresh before folding
        spark.catalog.refreshByPath(root)
        rewrite(spark, root, baseName, math.max(wm, fresh.max))(write(
          fold(v.dir(baseName), fresh.map(b => s"$root/increments/batch=$b")),
          _))
      }
      fresh.size
    }

  /** Rewrite the live base generation WITHOUT folding increments — the
    * vacuum arm: physically removing tombstoned rows when no data
    * increments are pending (a pure deletion campaign would otherwise
    * never rewrite the base). The folded watermark is preserved verbatim —
    * a vacuum folds nothing, so it must not change which increment
    * directories readers prune. No-op when no base exists. */
  private[graft] def rewriteBase(spark: SparkSession, root: String,
                                 baseName: String = "base")
                                (transform: DataFrame => DataFrame)
                                (write: (DataFrame, String) => Unit): Unit =
    withWriteLease(spark, root) {
      val v = view(spark, root)
      v.dir(baseName).foreach { basePath => graft.ops.Jobs.labeled(spark,
          s"vacuum $root/$baseName") {
        spark.catalog.refreshByPath(root)
        rewrite(spark, root, baseName, v.watermark(baseName))(
          write(transform(spark.read.parquet(basePath)), _))
      } }
    }

  /** Publish `write`'s output as the next `baseName` generation stamped
    * with watermark `wm`, then reap the increments no in-grace snapshot
    * needs. */
  private def rewrite(spark: SparkSession, root: String, baseName: String,
                      wm: Long)(write: String => Unit): Unit = {
    publish(spark, root, Seq(baseName)) { out =>
      write(out(baseName))
      stampWatermark(spark, out(baseName), wm)
    }
    gcIncrements(spark, root, baseName)
    spark.catalog.refreshByPath(root)
  }
}
