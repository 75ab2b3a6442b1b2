package graft

import graft.sim.{GraphAnnIndex, PqIndex, Similarity}
import graft.streaming.{Compaction, Maintenance, StreamingAnn, Takedown}
import graft.text.{Dedup, LexIndex}
import org.apache.spark.sql.functions._

/** The fleet maintenance campaign: [[Maintenance.foldIfNeeded]] drives
  * every targeted family's own fold trigger, [[Maintenance.driftReport]]
  * is the normalized union of the five aging monitors, and
  * [[Maintenance.driftSweep]] closes every monitor→act loop in one call —
  * with the per-family outcomes RETURNED (the Takedown.land lesson),
  * never discarded. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 64
  private lazy val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))
  private val cb: Array[Array[Array[Double]]] =
    Array.tabulate(4, 4, 16)((s, c, i0) =>
      ((s * 131 + c * 37 + (i0 + 1) * 17) % 19 - 9) / 10.0)

  /** All five families under one root, each with its base on one slice
    * and the delta as a frozen increment — the hot starting state. */
  private def buildFleet(): Takedown.Targets = {
    val root = java.nio.file.Files.createTempDirectory("graft_maint")
      .toString
    val lex = s"$root/lex"; val ann = s"$root/ann"; val pq = s"$root/pq"
    val ded = s"$root/dedup"; val gr = s"$root/graph"
    LexIndex.writeIndex(docs.filter(col("doc_id") % 5 =!= 4), "doc_id",
      "text", lex)
    LexIndex.appendBatch(docs.filter(col("doc_id") % 5 === 4), "doc_id",
      "text", lex, 0L)
    StreamingAnn.writeBaseIndex(e.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", "label", ann)
    Similarity.ivfAssign(e.filter(col("vec_id") % 10 === 0), "vec_id",
        "embedding", spark.read.parquet(
          Compaction.view(spark, ann).path("centroids")))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$ann/increments/batch=0")
    PqIndex.writeIndex(e.filter(col("vec_id") % 10 =!= 0), "vec_id",
      "embedding", cb, pq)
    PqIndex.appendBatch(e.filter(col("vec_id") % 10 === 0), "vec_id",
      "embedding", pq, 0L)
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
      .localCheckpoint(true)
    Dedup.writeSignatureIndex(sig.filter(col("doc_id") % 5 =!= 4),
      "doc_id", ded)
    Dedup.appendSignatureIndex(sig.filter(col("doc_id") % 5 === 4),
      "doc_id", ded, 0L)
    GraphAnnIndex.writeIndex(e.filter(col("vec_id") % 10 =!= 0), "vec_id",
      "embedding", Dim, gr)
    GraphAnnIndex.appendBatch(e.filter(col("vec_id") % 10 === 0), "vec_id",
      "embedding", gr, 0L)
    Takedown.Targets(lex = Some(lex), ann = Some(ann), pq = Some(pq),
      dedup = Some(ded), graph = Some(gr))
  }

  private def pqr = Some(Maintenance.PqRetrain(e, "vec_id", "embedding",
    m = 4, ksub = 4))

  test("foldIfNeeded: calm thresholds leave every family untouched; a " +
       "zero threshold folds exactly the families with live increments") {
    val t = buildFleet()
    assert(Maintenance.foldIfNeeded(spark, t, maxIncrements = 10) ===
      Map("lex" -> false, "ann" -> false, "pq" -> false,
        "dedup" -> false, "graph" -> false))
    assert(Compaction.incrementCount(spark, s"${t.lex.get}/postings") == 1)
    val acted = Maintenance.foldIfNeeded(spark, t, maxIncrements = 0)
    assert(acted.size == 5 && acted.values.forall(identity), s"got $acted")
    assert(Compaction.incrementCount(spark, s"${t.lex.get}/postings") == 0)
    assert(Compaction.incrementCount(spark, t.ann.get) == 0)
    assert(Compaction.incrementCount(spark, t.dedup.get, "bands") == 0)
    // a just-folded fleet folds nothing more
    assert(Maintenance.foldIfNeeded(spark, t, maxIncrements = 0)
      .values.forall(!_))
  }

  test("driftReport: one normalized frame carrying each targeted " +
       "family's own monitor values; untargeted families are absent") {
    val t = buildFleet()
    val rep = Maintenance.driftReport(spark, t)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq
    assert(rep.map(_._1).toSet ===
      Set("lex", "ann", "pq", "dedup", "graph"))
    // the dedup rows ARE bandOccupancyDrift, row for row
    val bands = Dedup.bandOccupancyDrift(spark, t.dedup.get)
      .collect().map(r => (s"band:${r.getInt(0)}", Some(r.getDouble(1))))
      .toSet
    assert(rep.filter(_._1 == "dedup").map(x => (x._2, x._3)).toSet
      === bands)
    // the lexical growth axis is the increments' share of the base
    val growth = rep.find(x => x._1 == "lex" && x._2 == "growth_frac").get
    assert(growth._3.exists(g => g > 0.2 && g < 0.3),
      s"the %5=4 delta is 25% growth, got ${growth._3}")
    // a partial fleet reports only its targets
    assert(Maintenance.driftReport(spark,
        Takedown.Targets(dedup = t.dedup, graph = t.graph))
      .select("family").distinct().collect().map(_.getString(0)).toSet
      === Set("dedup", "graph"))
  }

  test("driftSweep: disarmed knobs sweep all-calm and touch nothing; " +
       "armed knobs act on every drifted family; PQ without its retrain " +
       "inputs is refused") {
    val t = buildFleet()
    intercept[IllegalArgumentException] {
      Maintenance.driftSweep(spark, t, Maintenance.DriftPolicy())
    }
    // disarmed (all +∞): calm everywhere, increments still live
    assert(Maintenance.driftSweep(spark, t, Maintenance.DriftPolicy(),
      pqr).values.forall(!_))
    assert(Compaction.incrementCount(spark, s"${t.lex.get}/postings") == 1)
    // armed at 0.0 on every axis: every family's delta breaches → acted
    val acted = Maintenance.driftSweep(spark, t,
      Maintenance.DriftPolicy(lexGrowthFrac = 0.0, annMaxDrift = 0.0,
        pqMaxL1 = 0.0, dedupMaxDrift = 0.0, graphMaxDrift = 0.0), pqr)
    assert(acted.size == 5 && acted.values.forall(identity), s"got $acted")
    // the four increment-gated rebuilds subsumed their increments (the
    // monitors re-baselined), so they sweep calm on an immediate repeat.
    // The ann monitor is FIT-based (stored centroids vs current member
    // means), not increment-based: each recluster is one Lloyd step, so
    // at a tight threshold it legitimately keeps refining — asserted as
    // MAY-act, and excluded from the re-baseline claim by design
    val again = Maintenance.driftSweep(spark, t,
      Maintenance.DriftPolicy(lexGrowthFrac = 0.0, annMaxDrift = 0.0,
        pqMaxL1 = 0.0, dedupMaxDrift = 0.0, graphMaxDrift = 0.0), pqr)
    assert((again - "ann") === Map("lex" -> false, "pq" -> false,
      "dedup" -> false, "graph" -> false), s"got $again")
  }
}
