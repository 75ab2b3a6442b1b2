package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Memoized scratch-index fixtures for the stored/maintained-artifact
  * queries.
  *
  * Why: the lifecycle/audit queries each need an on-disk index to probe,
  * and many of them need the SAME deterministic build — the lexical
  * base-80%+delta index is the starting state of six queries, the graph
  * index of three, the IVF and PQ stores of four each. Rebuilding the
  * identical artifact per query dominated full-catalog `graft.Verify`
  * wall-time (the round-14 driver correctness gate timed out on exactly
  * this). Every build here is deterministic (pinned by
  * `tools/determinism.py` across parallelism), so sharing one build —
  * or file-copying it for queries that then mutate their index — yields
  * byte-identical artifacts and hash-identical query outputs while each
  * expensive Spark build runs ONCE per JVM.
  *
  * Rules of use:
  *  - queries that only READ an index take [[shared]] — one lazily-built
  *    directory per (key, data dir), never mutated afterwards;
  *  - queries that MUTATE their index (delete / fold / recluster /
  *    retrain) take [[mutableCopy]] — a plain recursive file copy of the
  *    shared build into a private scratch dir (copying parquet bytes is
  *    orders of magnitude cheaper than re-running the Spark build);
  *  - a fixture key must FULLY determine the build (same splits, same
  *    parameters); two recipes that differ in any input use two keys.
  *
  * All directories live under the JVM temp dir and are removed by the
  * same shutdown hook as every other scratch index
  * ([[ExtensionQueries.scratchDir]]).
  */
private[queries] object Fixtures {

  private val cache = scala.collection.mutable.HashMap[(String, String), String]()

  /** The shared read-only build for `key` over `sfDir`: built on first
    * use, reused verbatim afterwards. The coarse lock is deliberate AND
    * load-bearing — Verify runs the catalog on a multi-thread pool
    * (`Verify.scala`'s 4-thread default), so this lock is what serializes
    * fixture builds across those threads (and across concurrently-started
    * test suites); do not narrow it. */
  def shared(key: String, sfDir: String)(build: String => Unit): String =
    synchronized {
      cache.getOrElseUpdate((key, sfDir), {
        val dir = ExtensionQueries.scratchDir(s"graft_fx_$key")
        build(dir)
        dir
      })
    }

  /** A private copy of the shared build, for queries that mutate their
    * index — file-tree copy, so the starting bytes are exactly the
    * shared build's. */
  def mutableCopy(key: String, sfDir: String)(build: String => Unit): String = {
    val dst = ExtensionQueries.scratchDir(s"graft_fx_${key}_mut")
    copyTree(Paths.get(shared(key, sfDir)(build)), Paths.get(dst))
    dst
  }

  /** NIO directory streams hold OS directory handles until closed — a
    * full catalog run copies dozens of fixture trees, so leaving them to
    * GC leaks file descriptors for the JVM's lifetime. */
  private def using[A <: AutoCloseable, B](r: A)(f: A => B): B =
    try f(r) finally r.close()

  private def copyTree(src: Path, dst: Path): Unit =
    using(Files.walk(src))(_.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING): Unit
    })
}
