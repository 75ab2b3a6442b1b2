package graft

import graft.sim.{PqIndex, Similarity}
import org.apache.spark.sql.functions._

/** The stored PQ index's maintained-artifact contract: frozen-codebook
  * appends search exactly like a from-scratch encode (codes distribute
  * over union), restatement and replay-after-fold are single-count, the
  * codebook round-trips bit-exactly, the drift monitor moves in the
  * right direction, and the retrain promotes codebook+codes together. */
class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val cb: Array[Array[Array[Double]]] =
    Array.tabulate(4, 4, 16)((s, c, i0) =>
      ((s * 131 + c * 37 + (i0 + 1) * 17) % 19 - 9) / 10.0)

  test("maintained code table ≡ from-scratch encode; search before ≡ " +
       "after the fold; replay drops; codebook round-trips exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    PqIndex.writeIndex(e.filter(col("vec_id") % 3 =!= 0), "vec_id",
      "embedding", cb, s"$dir/idx")
    PqIndex.appendBatch(e.filter(col("vec_id") % 3 === 0), "vec_id",
      "embedding", s"$dir/idx", 0L)

    // codebook round-trip is bit-exact (parquet doubles)
    val rt = PqIndex.readCodebook(spark, s"$dir/idx")
    assert(rt.length == 4 && rt(0).length == 4 && rt(0)(0).length == 16)
    for (s <- 0 until 4; c <- 0 until 4; i <- 0 until 16)
      assert(rt(s)(c)(i) == cb(s)(c)(i))

    // maintained codes = from-scratch encode of everything ingested
    def codeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val maintained = codeMap(PqIndex.readCodes(spark, s"$dir/idx"))
    val scratch = codeMap(
      Similarity.pqEncode(e, "vec_id", "embedding", cb)
        .select("vec_id", "codes"))
    assert(maintained == scratch)

    val q = e.filter(col("vec_id") < 3)
    def searchSet() = PqIndex.search(spark, s"$dir/idx", q, "vec_id",
      "embedding", k = 5).collect().toSet
    val before = searchSet()
    assert(before.nonEmpty)
    assert(PqIndex.compactIndexIfNeeded(spark, s"$dir/idx", 5) == 0,
      "below threshold the trigger must not fold")
    assert(PqIndex.compactIndexIfNeeded(spark, s"$dir/idx", 0) == 1)
    assert(searchSet() == before, "the fold must not move a result")

    // a replayed folded batch must neither re-land nor double-count
    // (the folded increment dir itself stays on disk for one grace round
    // — the replay guard is that nothing NEW lands and reads are stable)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def incListing() = {
      val ip = new org.apache.hadoop.fs.Path(graft.streaming.Compaction
        .view(spark, s"$dir/idx").path("codes") + "/increments")
      if (!fs.exists(ip)) Set.empty[String]
      else fs.listStatus(ip).map(_.getPath.getName).toSet
    }
    val beforeListing = incListing()
    PqIndex.appendBatch(e.filter(col("vec_id") % 3 === 0), "vec_id",
      "embedding", s"$dir/idx", 0L)
    assert(incListing() == beforeListing,
      "a replayed folded batch must not re-land its increment")
    assert(codeMap(PqIndex.readCodes(spark, s"$dir/idx")) == scratch)
  }

  test("IVF-PQ: probing every cell equals the flat ADC ranking; the " +
       "posting scan partition-prunes on the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    PqIndex.writeIvfPq(e, "vec_id", "embedding", "label", cb, s"$dir/idx")
    val q = e.filter(col("vec_id") < 3)
    val v = graft.streaming.Compaction.view(spark, s"$dir/idx")
    val nCells = spark.read.parquet(v.path("centroids")).count().toInt
    // with nProbe = every cell the candidate set is the whole corpus —
    // the ranking must equal flat annPq over the same codes
    val viaIvf = PqIndex.searchIvfPq(spark, s"$dir/idx", q, "vec_id",
      "embedding", k = 5, nProbe = nCells).collect().toSet
    val flat = Similarity.annPq(
      spark.read.parquet(v.path("postings")).select("vec_id", "codes"),
      cb, q, "vec_id", "embedding", k = 5).collect().toSet
    assert(viaIvf == flat)
    // narrow probe returns k rows per query and the scan is cell-pruned
    assert(PqIndex.searchIvfPq(spark, s"$dir/idx", q, "vec_id",
      "embedding", k = 5, nProbe = 1).count() == 3 * 5)
    val plan = spark.read.parquet(v.path("postings"))
      .filter(col("cell").isInCollection(Seq(0, 1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
  }

  test("IVF-PQ low-selectivity brute fallback: the routing is dropped and " +
       "the ADC runs over every surviving code (exact w.r.t. the codes); " +
       "above the threshold the probed path is untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_b").toString
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    PqIndex.writeIvfPq(e, "vec_id", "embedding", "label", cb, s"$dir/idx")
    val q = e.filter(col("vec_id") < 3)
    // ~3% tenant: even nProbe = 1 must reach ALL its codes via the
    // routing-dropped exact scan
    val tiny = col("vec_id") < 16
    val brute = PqIndex.searchIvfPqFiltered(spark, s"$dir/idx", q,
      "vec_id", "embedding", tiny, k = 5, nProbe = 1,
      bruteThreshold = 32).collect().toSet
    val flat = Similarity.annPq(
      Similarity.pqEncode(e.filter(tiny), "vec_id", "embedding", cb)
        .select("vec_id", "codes"),
      cb, q, "vec_id", "embedding", k = 5).collect().toSet
    assert(brute == flat,
      "the brute arm must equal the flat exact ADC over the survivors")
    // above the threshold the probed IVFADC path is value-identical to
    // the unarmed call
    val wide = col("vec_id") % 3 === 0
    assert(PqIndex.searchIvfPqFiltered(spark, s"$dir/idx", q, "vec_id",
        "embedding", wide, k = 5, nProbe = 2, bruteThreshold = 32)
        .collect().toSet ==
      PqIndex.searchIvfPqFiltered(spark, s"$dir/idx", q, "vec_id",
        "embedding", wide, k = 5, nProbe = 2).collect().toSet)
  }

  test("codeUsageDrift ~0 for same-distribution appends, large for " +
       "shifted data; the trigger retrains codebook+codes together") {
    // base: vectors near the first codeword direction of every subspace;
    // shifted batch: constant 0.9 — a region the base never occupies
    def vec(seed: Long, shift: Double) = (1 to 64).map(j =>
      (((seed * 31 + j * 7) % 11).toDouble / 55.0 + shift).toFloat)
    val base = (0L to 59L).map(i => (i, vec(i, 0.0))).toDF("vec_id", "embedding")
    val same = (100L to 119L).map(i => (i, vec(i, 0.0))).toDF("vec_id", "embedding")
    val far  = (200L to 219L).map(i => (i, vec(i, 0.9))).toDF("vec_id", "embedding")

    val d1 = java.nio.file.Files.createTempDirectory("graft_pqd1").toString
    PqIndex.writeIndex(base, "vec_id", "embedding", cb, s"$d1/idx")
    PqIndex.appendBatch(same, "vec_id", "embedding", s"$d1/idx", 0L)
    val calm = PqIndex.codeUsageDrift(spark, s"$d1/idx")
      .agg(max("l1_drift")).head().getDouble(0)

    val d2 = java.nio.file.Files.createTempDirectory("graft_pqd2").toString
    PqIndex.writeIndex(base, "vec_id", "embedding", cb, s"$d2/idx")
    PqIndex.appendBatch(far, "vec_id", "embedding", s"$d2/idx", 0L)
    val stormy = PqIndex.codeUsageDrift(spark, s"$d2/idx")
      .agg(max("l1_drift")).head().getDouble(0)
    assert(calm < stormy,
      s"same-distribution drift $calm must be below shifted drift $stormy")

    // trigger: below threshold untouched, above it the retrain promotes
    // codebook and codes together and the result searches like a fresh
    // train over everything ingested (pqTrain is deterministic)
    val all = base.unionByName(far)
    assert(!PqIndex.retrainIndexIfDrifted(spark, s"$d2/idx", all,
      "vec_id", "embedding", m = 4, ksub = 4, maxL1 = 10.0))
    assert(PqIndex.retrainIndexIfDrifted(spark, s"$d2/idx", all,
      "vec_id", "embedding", m = 4, ksub = 4, maxL1 = stormy / 2))
    // the retrain must subsume the old-codebook increments: the LIVE
    // codes tree (the published generation) starts with no increments at
    // all — the pre-retrain tree keeps its own for its grace round
    val liveCodes = graft.streaming.Compaction
      .resolve(spark, s"$d2/idx", "codes").get
    val fs = new org.apache.hadoop.fs.Path(d2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$liveCodes/increments")),
      "the retrain must subsume the old-codebook increments")
    val fresh = Similarity.pqTrain(all.select(col("vec_id"), col("embedding")),
      "embedding", m = 4, ksub = 4)
    val expect = Similarity.pqEncode(all, "vec_id", "embedding", fresh)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val got = PqIndex.readCodes(spark, s"$d2/idx").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got == expect,
      "retrained store must equal a from-scratch train+encode")

    // maintenance-loop order: after a fold removed every increment, the
    // drift trigger must report false, not crash on the missing tree
    val d3 = java.nio.file.Files.createTempDirectory("graft_pqd3").toString
    PqIndex.writeIndex(base, "vec_id", "embedding", cb, s"$d3/idx")
    PqIndex.appendBatch(far, "vec_id", "embedding", s"$d3/idx", 0L)
    assert(PqIndex.compactIndex(spark, s"$d3/idx") == 1)
    assert(!PqIndex.retrainIndexIfDrifted(spark, s"$d3/idx", all,
      "vec_id", "embedding", m = 4, ksub = 4, maxL1 = 0.0))
  }

  test("codeUsageDrift counts the FULL mass of one-sided codewords — a " +
       "codeword used only by the increments lands under its real " +
       "subspace, not a NULL key") {
    import spark.implicits._
    // publish the code tables directly: drift reads only the code
    // table's base and increments, so the layout can be planted exactly
    import graft.streaming.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_pq1s").toString
    Compaction.publish(spark, s"$dir/idx", Seq("codes")) { out =>
      Compaction.publish(spark, out("codes"), Seq("base")) { c =>
        Seq((0L, Seq(0, 0, 0, 0)), (1L, Seq(1, 1, 1, 1)))
          .toDF("vec_id", "codes").write.parquet(c("base"))
      }
    }
    Seq((2L, Seq(3, 3, 3, 3))).toDF("vec_id", "codes").write.parquet(
      Compaction.view(spark, s"$dir/idx").path("codes") +
        "/increments/batch=0")
    val rows = PqIndex.codeUsageDrift(spark, s"$dir/idx").collect()
    // base probs {0: 1/2, 1: 1/2}, inc {3: 1}: true L1 = 1/2 + 1/2 + 1
    // per subspace; dropping the inc-only codeword would read 1.0
    assert(rows.length == 4, rows.mkString(","))
    assert(rows.forall(!_.isNullAt(0)), "no NULL-subspace row")
    assert(rows.forall(_.getDouble(1) == 2.0), rows.mkString(","))
  }
}
