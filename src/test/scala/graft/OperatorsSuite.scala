package graft

import org.apache.spark.sql.functions._

import graft.operators.{MinHash, Multimodal, Similarity}

/** Behavioral tests for the dedup/similarity/multimodal operators on
  * in-memory corpora with planted structure (the parquet fixtures carry no
  * true near-dups at every similarity level these operators target). */
class OperatorsSuite extends GraftSuite {

  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river shore"), // near-dup of 0
    (2L, "completely different words about spark query engines and columnar data"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (4L, "spark streaming watermarks sessionize grouped state for event pipelines"))
    .toDF("doc_id", "text")

  test("minhash-LSH finds planted near-dup and exact-dup pairs, nothing else") {
    val docs = corpus.select(col("doc_id"),
      MinHash.shingles(col("text"), 3).as("sh"))
    val sigs = MinHash.signatures(docs, "doc_id", 64)
    val banded = MinHash.bandize(sigs, "doc_id", "sig", 16, 4)
    val cands = MinHash.candidatePairs(banded, "doc_id")
    val verified = MinHash.verifyJaccard(cands, docs, "doc_id", 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(verified.contains((0L, 1L)))
    assert(verified.contains((0L, 3L)))
    assert(verified.contains((1L, 3L)))
    assert(!verified.exists(p => p._1 == 2L || p._2 == 2L))
    assert(!verified.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("hot LSH bucket above the cap is dropped, small buckets survive") {
    // 100 docs share one (band, band_hash) bucket; 3 docs share another.
    val hot = (0L until 100L).map(id => (0, 42L, id))
    val small = Seq((1, 7L, 200L), (1, 7L, 201L), (1, 7L, 202L))
    val banded = (hot ++ small).toDF("band", "band_hash", "doc_id")
    val capped = MinHash.candidatePairs(banded, "doc_id", maxBucketSize = 50)
      .as[(Long, Long)].collect().toSet
    // hot bucket contributes nothing; the small bucket's 3 pairs remain
    assert(capped == Set((200L, 201L), (200L, 202L), (201L, 202L)))
    // default cap leaves everything intact: C(100,2) + 3 pairs
    val uncapped = MinHash.candidatePairs(banded, "doc_id").count()
    assert(uncapped == 100L * 99 / 2 + 3)
  }

  test("exact dup has jaccard 1.0; near-dup below 1") {
    val docs = corpus.select(col("doc_id"),
      MinHash.shingles(col("text"), 3).as("sh"))
    val cands = Seq((0L, 1L), (0L, 3L)).toDF("a_id", "b_id")
    val rows = MinHash.verifyJaccard(cands, docs, "doc_id", 0.0)
      .select("a_id", "b_id", "jac").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(rows((0L, 3L)) == 1.0)
    assert(rows((0L, 1L)) < 1.0 && rows((0L, 1L)) > 0.5)
  }

  test("simhash: exact dups collide at hamming 0") {
    val docs = corpus.select(col("doc_id"),
      MinHash.shingles(col("text"), 3).as("sh"))
    val chunked = MinHash.simhashChunks(docs, "doc_id")
    val pairs = MinHash.simhashCandidates(chunked, "doc_id", maxHamming = 0)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("similarity planeWeight is deterministic and in [-1, 1]") {
    val w1 = Similarity.planeWeight(3, 17)
    val w2 = Similarity.planeWeight(3, 17)
    assert(w1 == w2)
    assert((0 until 8).forall(p => (0 until 64).forall { i =>
      val w = Similarity.planeWeight(p, i); w >= -1.0 && w <= 1.0
    }))
  }

  test("identical vectors share an LSH bucket; negation lands elsewhere") {
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => 1.0 / (i + 1))),
      (1L, Array.tabulate(8)(i => 1.0 / (i + 1))),
      (2L, Array.tabulate(8)(i => -1.0 / (i + 1))))
      .toDF("vec_id", "e")
    val b = Similarity.buckets(vecs, "vec_id", "e", 6, 8)
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // all 6 sign bits flip for the negated vector
  }

  test("fake decoder histogram: counts and norm") {
    val h = Multimodal.FakeDecoder.decode("aaa bb".getBytes("UTF-8"))
    assert(h.sum == 6)
    assert(h(6) == 5) // 'a','b' in 0x60 block
    assert(h(2) == 1) // space in 0x20 block
  }

  test("filters and projections push into the parquet scan") {
    val plan = SparkEntry.queries("q02_scan_filter_project")(spark, SfDir)
      .queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    assert(plan.contains("PushedFilters: ["), s"no pushdown in:\n$plan")
    assert(!plan.contains("PushedFilters: []"),
      "filter list empty — predicate not reaching the scan")
    // projection pruning: the scan's ReadSchema must exclude untouched
    // lineitem columns
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("l_tax"),
      s"scan appears unpruned: $readSchema")
  }

  test("CTAS partitioned output prunes partitions on read") {
    SparkEntry.queries("qa8_ctas_roundtrip")(spark, SfDir).count()
    val out = graft.queries.Storage.ctasPath(spark, SfDir)
    val pruned = spark.read.parquet(out).filter(col("ship_year") === 1995)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") &&
      scan.contains("ship_year"), s"no partition pruning in:\n$scan")
    assert(pruned.count() > 0)
  }

  test("frame sampling covers all bytes with stride 1, half with stride 2") {
    val media = Multimodal.mediaTable(spark, SfDir).filter(col("doc_id") < 5)
    val full = Multimodal.sampleFrames(media, 64, 1)
      .groupBy(col("doc_id"), col("n_bytes"))
      .agg(sum(length(col("frame"))).as("tot"))
      .select((col("tot") === col("n_bytes")).as("ok")).as[Boolean].collect()
    assert(full.forall(identity))
    val sampled = Multimodal.sampleFrames(media, 64, 2)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"),
        max(col("n_frames")).as("nf"))
      .select((col("n") === ceil(col("nf") / 2.0)).as("ok"))
      .as[Boolean].collect()
    assert(sampled.nonEmpty)
  }

  test("connected components: chain needs multiple rounds, labels converge") {
    import graft.operators.ConnectedComponents
    // 1-2-3-4-5 chain (diameter 4, so one propagation round is NOT
    // enough) plus a separate 10-11 pair; labels must reach the global
    // component min either way.
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val got = ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(v => got(v) == 1L), got.toString)
    assert(got(10L) == 10L && got(11L) == 10L)
    // maxIter cap: a single round leaves the far chain end unconverged —
    // proves the loop is actually iterating to fixpoint above
    val one = ConnectedComponents.run(edges, maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(5L) != 1L)
  }

  test("star-contraction components: 1000-chain converges in O(log n) rounds") {
    import graft.operators.ConnectedComponents
    // adversarial high-diameter graph: a 1000-vertex chain. Min-label
    // propagation needs diameter (~999) rounds; the alternating
    // large-star/small-star contraction must finish inside 15 double-
    // rounds (O(log n), Kiveris et al. SoCC'14) — maxIter enforces it:
    // an unconverged run leaves wrong labels and the assert fails.
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.runStar(chain, maxIter = 15)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 1000)
    assert(got.forall(_._2 == 1L),
      got.filter(_._2 != 1L).take(5).toString)
    // same (v, c) contract as run(): agree on a multi-component graph
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val a = ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap
    val b = ConnectedComponents.runStar(edges).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("kmeans: convergence on separated clusters; assignment plan shape") {
    import graft.operators.KMeans
    import spark.implicits._
    // two well-separated direction clusters; seeds = stride 3 (ids 0, 3)
    val e = Seq(
      (0L, Seq(1.0, 0.1, 0.0)), (1L, Seq(1.0, -0.1, 0.0)),
      (2L, Seq(0.9, 0.0, 0.1)),
      (3L, Seq(-0.1, 1.0, 0.0)), (4L, Seq(0.1, 1.0, 0.0)),
      (5L, Seq(0.0, 0.9, 0.1))).toDF("vec_id", "e")
    val trained = KMeans.train(e, 3L, 2)
    val got = KMeans.assign(e, trained)
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)]
      .collect().toMap
    // each cluster maps to one centroid, clusters map to different ones
    assert(Set(got(0L), got(1L), got(2L)).size == 1)
    assert(Set(got(3L), got(4L), got(5L)).size == 1)
    assert(got(0L) != got(3L))
    // plan shape (r17): the argmax is ROW-LOCAL against the collected
    // model-sized centroid set — no join of any kind, no window sort of
    // an n*k cross product, no exchange; the assignment scan is one pass
    // (on this LocalRelation input Catalyst folds the projection into a
    // LocalTableScan — the row-local form is constant-foldable where the
    // old join form planned a BroadcastNestedLoopJoin + HashAggregate)
    val plan = KMeans.assign(e, trained).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("semdedup: drops the high-centroid-similarity twin, keeps across clusters") {
    import graft.operators.{KMeans, SemDeDup}
    import spark.implicits._
    // cluster A: 1 and 2 are near-dups of 0 (centroid seed); the paper's
    // keep rule retains the LOWEST-cd member of the dup group.
    // cluster B (seed 3): 4 is orthogonal-ish to nothing — no dups.
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.99, 0.14, 0.0)), // near-dup of 0
      (2L, Seq(0.99, -0.14, 0.0)), // near-dup of 0 and 1
      (3L, Seq(0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 0.9, 0.44))).toDF("vec_id", "e")
    val assigned = KMeans.assign(e, KMeans.seeds(e, 3L))
    val kept = SemDeDup.dedup(assigned, 0.95)
      .select(col("vec_id")).as[Long].collect().toSet
    // cluster A: all three pairwise >= 0.95 cosine; exactly one survives,
    // and it is the lowest-cd one (1 or 2, both cd≈0.990 < cd(0)=1.0; tie
    // breaks to smaller vec_id → 1).
    // cluster B: cos(3,4) = 0.9/sqrt(0.81+0.1936) ≈ 0.898 < 0.95 — no
    // dup, both kept.
    assert(kept == Set(1L, 3L, 4L))
  }

  test("semdedup √n invariant keeps pair work subquadratic at 10x") {
    import graft.operators.SemDeDup
    import spark.implicits._
    // deterministic 8-dim embeddings (hash-derived, no RNG)
    def emb(n: Int) = spark.range(0, n)
      .select(col("id").as("vec_id"),
        array((0 until 8).map(d =>
          (pmod(hash(col("id"), lit(d)).cast("long"), lit(1000)) / 500.0
            - 1.0)): _*).as("e"))
    def pairWork(n: Int): (Long, Long) = {
      val sizes = SemDeDup.assignSqrt(emb(n), n.toLong)
        .groupBy(col("cent_id")).count()
        .agg(sum(col("count") * col("count")).as("pairs"),
          count(lit(1)).as("k")).head()
      (sizes.getLong(0), sizes.getLong(1))
    }
    val (p1, k1) = pairWork(1000)
    val (p10, k10) = pairWork(10000)
    // k tracks ⌈√n⌉ (stride seeds: k = ceil(n / ⌊√n⌋))
    assert(math.abs(k1 - 32) <= 1, s"k(1000)=$k1, want ≈ √1000")
    assert(math.abs(k10 - 100) <= 1, s"k(10000)=$k10, want ≈ √10000")
    // the invariant's bound: Σ sizeᵢ² ≈ n²/k = n^1.5 — pair work grows
    // ~10^1.5 ≈ 31.6× per 10× corpus, never 100× (quadratic). Slack 2x
    // absorbs cluster-size imbalance of the stride seeding.
    val growth = p10.toDouble / p1
    assert(growth < math.pow(10, 1.5) * 2,
      s"pair work grew ${growth}x per 10x corpus — quadratic regression")
    assert(growth > 10.0,
      s"pair growth ${growth}x implausibly sublinear — test premise broke")
  }

  test("pca: Jacobi on a known matrix; fit/project variance identity") {
    import graft.operators.Pca
    // [[2,1],[1,2]] -> eigenvalues {3,1}, eigenvectors (1,1)/√2, (1,-1)/√2
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = vals.sorted.reverse
    assert(math.abs(sorted(0) - 3.0) < 1e-12 && math.abs(sorted(1) - 1.0) < 1e-12)
    val hi = if (vals(0) >= vals(1)) 0 else 1
    assert(math.abs(math.abs(vecs(0)(hi)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(vecs(0)(hi) - vecs(1)(hi)) < 1e-12) // (1,1) direction

    // fit on a deterministic 3-dim set: variance along pc1 equals λ1,
    // components are orthonormal, eigenvalues descend
    val df = (0 until 200).map { i =>
      val t = i * 0.1
      (i.toLong, Seq(3.0 * math.sin(t), math.cos(t), 0.25 * math.sin(2 * t)))
    }.toDF("id", "v")
    val model = Pca.fit(df, col("v"), 3)
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    for (i <- model.components.indices; j <- model.components.indices) {
      val d = model.components(i).zip(model.components(j)).map(p => p._1 * p._2).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9, s"orth $i $j: $d")
    }
    val proj = Pca.project(df, col("v"), model)
    val vars = proj.agg(var_pop(col("pc1")), var_pop(col("pc2")),
      avg(col("pc1"))).head()
    assert(math.abs(vars.getDouble(0) - model.eigenvalues(0)) <
      1e-9 * math.max(model.eigenvalues(0), 1.0))
    assert(math.abs(vars.getDouble(1) - model.eigenvalues(1)) <
      1e-9 * math.max(model.eigenvalues(1), 1.0))
    // projections are centered
    assert(math.abs(vars.getDouble(2)) < 1e-9)
  }

  test("compaction set planning follows the CompactionSetCreator rules") {
    import graft.operators.Compaction
    import graft.operators.Compaction.FileInfo
    def f(name: String, bytes: Long, rows: Long) =
      FileInfo(name, bytes, rows)
    // rows bound: 4 near-equal files pack, a 5th would exceed
    val files = (1 to 8).map(i => f(s"f$i", 100, 10))
    val byRows = Compaction.planSets(files, maxBytes = Long.MaxValue,
      maxRows = 40)
    assert(byRows.size == 2 && byRows.forall(_.size == 4))
    // bytes bound triggers independently
    val byBytes = Compaction.planSets(files, maxBytes = 250, maxRows = 999)
    assert(byBytes.forall(_.size == 2) && byBytes.size == 4)
    // single-file sets never organize (reference: addToCompactionSets
    // only takes sets with >1 shard) — a big file stands alone and
    // DROPS OUT; idempotence on already-compacted output
    val mixed = Seq(f("big", 1000, 100), f("s1", 10, 1), f("s2", 10, 1))
    val sets = Compaction.planSets(mixed, maxBytes = 1001, maxRows = 101)
    assert(sets.size == 1 && sets.head.map(_.path) == Seq("s1", "s2"))
    assert(Compaction.planSets(Seq(f("only", 50, 5)), 100, 10).isEmpty)
    // ascending-size order: smalls pack together first, like the
    // reference's sorted shard stream
    val skew = Seq(f("a", 90, 9), f("b", 10, 1), f("c", 10, 1),
      f("d", 10, 1))
    val packed = Compaction.planSets(skew, maxBytes = 100, maxRows = 100)
    assert(packed.head.map(_.path).toSet == Set("b", "c", "d"),
      s"smalls should pack together: $packed")
  }

  test("concurrent set execution matches the serial path, both arms") {
    import graft.operators.Compaction
    // two identical 9-small-file directories: one compacts with the
    // bounded pool, one serially (pool of 1) — summaries and data must
    // be identical, and more than one set must have compacted
    def mkDir(tag: String): String = {
      val d = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_cmpc_$tag")
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      (0 until 9).foreach { i =>
        Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
          .write.mode("append").parquet(d.getAbsolutePath)
      }
      d.getAbsolutePath
    }
    val (parDir, serDir) = (mkDir("par"), mkDir("ser"))
    val expected = spark.read.parquet(parDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val planned = Compaction.planSets(
      Compaction.fileInfos(spark, parDir), maxBytes = Long.MaxValue,
      maxRows = 3)
    assert(planned.size == 3) // 9 files, 3 rows/set bound
    val par = Compaction.compact(spark, parDir, Long.MaxValue, 3,
      maxConcurrentSets = 4)
    val ser = Compaction.compact(spark, serDir, Long.MaxValue, 3,
      maxConcurrentSets = 1)
    assert(par == ser && par.setsCompacted == 3)
    assert(par.filesAfter == 3 && par.rowsAfter == 9)
    def data(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(data(parDir) == expected && data(serDir) == expected)
    // no scratch directories survive
    assert(!new java.io.File(parDir).listFiles()
      .exists(_.getName.startsWith("_graft_compact_")))
    // idempotence: a second pass finds only single-file sets... which
    // re-pack under the same bound? No: 3 files of 3 rows each cannot
    // pack under maxRows = 3, so nothing rewrites
    val again = Compaction.compact(spark, parDir, Long.MaxValue, 3,
      maxConcurrentSets = 4)
    assert(again.setsCompacted == 0 && again.filesAfter == 3)
    // temporal arm through the same concurrent executor
    val td = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_cmpc_temporal")
    org.apache.commons.io.FileUtils.deleteQuietly(td)
    val priorTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try (0 until 6).foreach { i =>
      val day = i % 2 // two day buckets, three files each
      Seq((java.sql.Timestamp.valueOf(
        s"2024-01-0${day + 1} 0$i:00:00"), i.toLong))
        .toDF("ts", "n").coalesce(1)
        .write.mode("append").parquet(td.getAbsolutePath)
    } finally spark.conf.set(
      "spark.sql.parquet.outputTimestampType", priorTs)
    val t = Compaction.compactTemporal(spark, td.getAbsolutePath, "ts",
      Long.MaxValue, Long.MaxValue, maxConcurrentSets = 4)
    assert(t.setsCompacted == 2 && t.filesAfter == 2 &&
      t.rowsBefore == 6 && t.rowsAfter == 6)
    assert(spark.read.parquet(td.getAbsolutePath)
      .agg(sum(col("n"))).head().getLong(0) == 15L)
  }

  test("temporal compaction: determineDay arms and day-bucketed sets") {
    import graft.operators.Compaction
    import graft.operators.Compaction.TemporalFileInfo
    val day = 86400000L
    // TemporalFunction.determineDay:83-100 — all three arms
    assert(Compaction.determineDay(10 * day + 1, 10 * day + 100) == 10)
    // spans >1 day -> the first FULL day
    assert(Compaction.determineDay(10 * day + 100, 13 * day - 1) == 11)
    // two-day straddle -> the larger share; ties go to the start day
    assert(Compaction.determineDay(10 * day + 20 * 3600000L,
      11 * day + 3600000L) == 10) // 4h before vs 1h after
    assert(Compaction.determineDay(10 * day + 23 * 3600000L,
      11 * day + 6 * 3600000L) == 11) // 1h before vs 6h after
    assert(Compaction.determineDay(10 * day + 23 * 3600000L,
      11 * day + 3600000L) == 10) // exact tie -> start (>=)
    // sets form per day bucket and never cross the boundary even when
    // the combined size would fit
    def tf(name: String, d: Long, off: Long, rows: Long = 10) =
      TemporalFileInfo(name, 100, rows, d * day + off,
        d * day + off + 1000)
    val files = Seq(tf("a1", 10, 1000), tf("a2", 10, 2000),
      tf("b1", 11, 1000), tf("b2", 11, 2000))
    val sets = Compaction.planSetsTemporal(files,
      maxBytes = Long.MaxValue, maxRows = Long.MaxValue)
    assert(sets.size == 2)
    assert(sets.map(_.map(_.path)) ==
      Seq(Seq("a1", "a2"), Seq("b1", "b2")), sets)
    // within a day the RANGE comparator orders (min, max), not size —
    // getShardIndexInfoComparator:110-118
    val ranged = Seq(
      TemporalFileInfo("late", 1, 1, 10 * day + 9000, 10 * day + 9900),
      TemporalFileInfo("early", 999, 1, 10 * day + 100, 10 * day + 200),
      TemporalFileInfo("mid", 500, 1, 10 * day + 5000, 10 * day + 5100))
    val ordered = Compaction.planSetsTemporal(ranged,
      maxBytes = Long.MaxValue, maxRows = Long.MaxValue)
    assert(ordered.head.map(_.path) == Seq("early", "mid", "late"))
    // a single-file day bucket never rewrites
    val single = Compaction.planSetsTemporal(
      Seq(tf("solo", 12, 0)), Long.MaxValue, Long.MaxValue)
    assert(single.isEmpty)
  }

  test("compaction fileInfos reads row counts from parquet footers") {
    import spark.implicits._
    withTempDir("graft_fileinfos") { tmp =>
      val dir = tmp.toString
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(3).write.mode("overwrite").parquet(dir)
      val infos = graft.operators.Compaction.fileInfos(spark, dir)
      assert(infos.size == 3)
      assert(infos.map(_.rows).sum == 10L)
      assert(infos.forall(f => f.rows > 0 && f.bytes > 0))
      assert(infos.forall(_.path.endsWith(".parquet")))
    }
  }

  test("IncrementalDedup: index suppression, within-delta first-wins, idempotent replay") {
    import graft.operators.IncrementalDedup
    withTempDir("graft_inc_test") { dir =>
      val idx = dir.resolve("idx").toString
      // run 1 on a MISSING index path (first run): dup text within the
      // delta -> first id wins
      val d1 = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
        .toDF("doc_id", "text")
      val a1 = IncrementalDedup.ingest(spark, idx, d1, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(a1 == Set(1L, 3L)) // 2 is a within-delta dup of 1
      // run 2: overlap with the index ("beta") suppressed, a new
      // within-delta dup pair resolves first-wins, fresh text admits
      val d2 = Seq((4L, "beta"), (5L, "gamma"), (6L, "gamma"),
        (7L, "delta")).toDF("doc_id", "text")
      val a2 = IncrementalDedup.ingest(spark, idx, d2, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(a2 == Set(5L, 7L))
      // run 3: replaying run 2 admits nothing (idempotent retry)
      val a3 = IncrementalDedup.ingest(spark, idx, d2, "doc_id", "text")
      assert(a3.count() == 0L)
      // the index accumulated exactly the admitted fingerprints
      assert(spark.read.parquet(idx).count() == 4L)
    }
  }

  test("ingestNearDup composes: incremental runs equal the batch twin on the union") {
    // The cross-run leg's defining property (no planted texts needed):
    // with deltas ordered by id, claims persisted by run 1 (including
    // DROPPED docs' bands — insert-all) suppress exactly what the
    // batch algebra's global first-per-band would, so the union of
    // per-run kept sets equals StreamingNearDup.firstArrivalBatch
    // over all docs. A full replay then admits nothing.
    import graft.operators.IncrementalDedup
    import graft.streaming.StreamingNearDup
    withTempDir("graft_ndinc") { dir =>
      val idx = dir.resolve("claims").toString
      val docs = Tables.view(spark, SfDir, "documents")
        .filter(col("doc_id") < 40)
      val batchKept = StreamingNearDup
        .firstArrivalBatch(docs, "doc_id", "text")
        .filter(col("kept")).select("doc_id").as[Long].collect().toSet
      val k1 = IncrementalDedup.ingestNearDup(spark, idx,
        docs.filter(col("doc_id") < 20), "doc_id", "text")
        .filter(col("kept")).select("doc_id").as[Long].collect().toSet
      val k2 = IncrementalDedup.ingestNearDup(spark, idx,
        docs.filter(col("doc_id") >= 20), "doc_id", "text")
        .filter(col("kept")).select("doc_id").as[Long].collect().toSet
      assert((k1 ++ k2) == batchKept)
      assert(k1.forall(_ < 20) && k2.forall(_ >= 20))
      // idempotent replay: every band of every doc is now claimed
      // (the fixture has no shingle-less docs below id 40)
      val k3 = IncrementalDedup.ingestNearDup(spark, idx,
        docs, "doc_id", "text").filter(col("kept")).count()
      assert(k3 == 0L)
    }
  }
}
