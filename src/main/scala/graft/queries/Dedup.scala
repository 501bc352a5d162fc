package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ConnectedComponents, MinHash}

/** Deduplication operators over the `documents` corpus — the
  * training-data-pipeline surface: exact dedup, MinHash-LSH and SimHash
  * near-dup pair detection, and inverted-index n-gram Jaccard probe search.
  *
  * Reference building blocks: `presto-main/.../scalar/ArrayFunctions`
  * (intersect/union set ops), `StringFunctions.java` (ngrams/split); the
  * LSH composition is the standard MMDS construction.
  *
  * Oracle strategy: LSH internals (xxhash64 signatures) are not
  * reproducible in DuckDB, but the *verified* output — candidate pairs
  * confirmed by exact shingle-Jaccard >= 0.8 — equals the brute-force
  * exact answer whenever LSH recall is 1, which holds deterministically on
  * the fixture (planted near-dups sit at jac >= 0.96; 16 bands x 4 rows
  * miss such a pair with p ~= 2e-7, and the seeds are fixed). DuckDB
  * computes the brute-force answer as the oracle, so any recall loss
  * fails loudly rather than silently.
  *
  * Scale: candidate generation is an equi-join on (band, band_hash) /
  * (chunk idx, chunk value) — shuffle grows linearly with corpus size,
  * never an all-pairs crossJoin. Verification touches candidates only.
  */
object Dedup extends QueryPack {

  private val JacThreshold = 0.8
  // q3c seed-key position stride: doc_id*stride+wpos must be unique
  // across documents, so wpos must stay below it — guarded loudly in
  // the query (raise_error) and mirrored literally in the oracle.
  private val SeedStride = 100000L

  /** Runs `body` against a fresh directory under the scratch root and
    * deletes the directory afterwards, also when `body` throws. The
    * cross-run ingest gates keep their index there. */
  private def withTempDir[T](s: org.apache.spark.sql.SparkSession,
      prefix: String)(body: Path => T): T = {
    val dir = new Path(graft.Scratch.root,
      s"${prefix}_${java.util.UUID.randomUUID}")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    try body(dir) finally fs.delete(dir, true)
  }

  override def defs: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on content, keep the smallest doc_id.
    // At 100 TB one would group on a content digest (md5 below) instead of
    // the full text to keep shuffle rows narrow — both shown here.
    "q90_exact_dedup" -> ((s, dir) =>
      s.table("documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy(col("keep_id"))),

    // MinHash-LSH near-dup pairs, exact-verified.
    "q91_minhash_dedup" -> ((s, dir) => {
      // r18 OPT (guide §1.2 "don't recompute what a pass already
      // produced"): the shingle projection fed the signature build AND
      // both sides of the Jaccard verify — three full shingle passes
      // over the corpus. One materialized pass (within-invocation
      // localCheckpoint, narrow doc_id+shingles rows) serves all three.
      val docs = s.table("documents")
        .select(col("doc_id"), MinHash.shingles(col("text")).as("sh"))
        .localCheckpoint()
      val sigs = MinHash.signatures(docs, "doc_id", numHashes = 64)
      val banded = MinHash.bandize(sigs, "doc_id", "sig",
        bands = 16, rowsPerBand = 4)
      val cands = MinHash.candidatePairs(banded, "doc_id")
      MinHash.verifyJaccard(cands, docs, "doc_id", JacThreshold)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Online-LSH near-dup suppression, batch twin (the streaming arms
    // — greedy first-arrival band claiming with bounded state — run in
    // StreamingSuite against this twin; streaming/StreamingNearDup
    // .scala). Per document: how many of its 4 MinHash band keys it
    // claims FIRST in doc_id (arrival) order, and whether it is
    // admitted (claims all; 24 of the 500 fixture docs drop, every
    // one a real near-dup — best-Jaccard >= 0.9 against an earlier
    // doc, measured). The md5-derived hashes + modular remixes replay
    // bit-for-bit in DuckDB (the q92 convention), so the oracle pins
    // the exact kept-SET, not a recall argument.
    "q3x_streaming_neardup" -> ((s, dir) =>
      graft.streaming.StreamingNearDup.firstArrivalBatch(
        s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Incremental (cross-run) dedup against a PERSISTED fingerprint
    // index (operators/IncrementalDedup.scala — the dedup family's
    // third leg: state as a TABLE outliving any single job). Three
    // ingest runs against a fresh index: yesterday's crawl (ids
    // below 250), today's FULL dump (overlap suppressed by the index,
    // new docs first-wins within the delta), and an at-least-once
    // RETRY of the same dump (admits zero — idempotent replay). The
    // oracle replays the same admission algebra in SQL.
    "q3y_incremental_dedup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val docs = s.table("documents")
      // ingest materializes each run's result, so the same-path
      // snapshot hazard is gone; runs 2/3 read the in-memory union of
      // the earlier runs' appended fingerprints — provably the index's
      // exact content (append-only, single writer) — instead of
      // re-listing and re-scanning the parquet path per run (r18 OPT,
      // guide §1.2; the appends themselves still run). The eager
      // checkpoints hold the results, so the on-disk index is deleted
      // before the gate returns.
      val (a1, a2, a3) = withTempDir(s, "graft_inc_idx") { tmp =>
        val idx = new Path(tmp, "fp_index").toString
        val a1 = IncrementalDedup.ingest(s, idx,
          docs.filter(col("doc_id") < 250), "doc_id", "text")
        val a2 = IncrementalDedup.ingest(s, idx, docs, "doc_id", "text",
          indexRelation = Some(a1.select(col("fp"))))
        val a3 = IncrementalDedup.ingest(s, idx, docs, "doc_id", "text",
          indexRelation = Some(a1.select(col("fp"))
            .union(a2.select(col("fp")))))
        (a1, a2, a3)
      }
      def summary(phase: String,
          df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_admitted"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
          .select(lit(phase).as("phase"), col("n_admitted"),
            col("id_sum"))
      summary("r1_initial", a1)
        .union(summary("r2_delta", a2))
        .union(summary("r3_replay", a3))
        .orderBy(col("phase"))
    }),

    // NEAR-dup incremental ingest against a persisted band-claim
    // index (IncrementalDedup.ingestNearDup — completes the dedup
    // matrix: exact AND near-dup, each batch / streaming /
    // cross-run). Insert-all band claiming against TABLE state: run 1
    // indexes yesterday's claims, run 2's full dump drops docs whose
    // any band is already claimed (by an admitted OR dropped earlier
    // doc), run 3 replays idempotently (re-admitting only
    // shingle-less docs, which carry no bands to remember — the
    // oracle COMPUTES that arm rather than hardcoding zero, so a
    // fixture generation with short docs stays green). The oracle
    // replays the whole algebra over the q3x hash arithmetic.
    "q3z_incremental_neardup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val docs = s.table("documents")
      // r17 OPT: band keys are row-local and index-independent, so ONE
      // banding pass serves all three runs (runs 2/3 ingest the same
      // full dump; run 1's delta is a filter of it) — the shingle
      // hashing was otherwise executed per run (guide §1.2: don't
      // recompute what a pass already produced).
      val keysAll = graft.streaming.StreamingNearDup.bandKeys(
        docs.select(col("doc_id"), col("text")), "text",
        numHashes = 12, bands = 4, k = 3).localCheckpoint()
      // runs 2/3 read the in-memory union of the earlier runs' claims
      // — provably the index's exact content (append-only, single
      // writer; the appends still run) — instead of re-listing and
      // re-scanning the parquet path per run (r18 OPT, guide §1.2).
      // The admission verdicts build on each run's materialized fresh
      // rows, so no same-path snapshot remains in any returned plan.
      // The index dir goes once the runs are checkpointed.
      val (a1, a2, a3) = withTempDir(s, "graft_nd_idx") { tmp =>
        val idx = new Path(tmp, "claims").toString
        def run(delta: org.apache.spark.sql.DataFrame,
            keys: org.apache.spark.sql.DataFrame,
            indexRel: Option[org.apache.spark.sql.DataFrame]) =
          IncrementalDedup.ingestNearDupWithClaims(s, idx, delta,
            "doc_id", "text", precomputedKeys = Some(keys),
            indexRelation = indexRel)
        val (a1, c1) = run(docs.filter(col("doc_id") < 250),
          keysAll.filter(col("doc_id") < 250), None)
        val (a2, c2) = run(docs, keysAll, Some(c1))
        val (a3, _) = run(docs, keysAll, Some(c1.union(c2)))
        (a1, a2, a3)
      }
      def summary(phase: String,
          df: org.apache.spark.sql.DataFrame) =
        df.filter(col("kept"))
          .agg(count(lit(1)).as("n_admitted"),
            coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
          .select(lit(phase).as("phase"), col("n_admitted"),
            col("id_sum"))
      summary("r1_initial", a1)
        .union(summary("r2_delta", a2))
        .union(summary("r3_replay", a3))
        .orderBy(col("phase"))
    }),

    // SimHash near-dup pairs: 60-bit shingle fingerprint (md5-derived so
    // the oracle mirrors it bit-for-bit), 4x15-bit chunk banding (hamming
    // <= 3 guaranteed caught), exact-verified to the q91 output contract.
    // Unlike q91 the oracle replays the simhash algorithm itself, so
    // recall differences can't hide: both engines must produce the
    // identical candidate set.
    "q92_simhash_dedup" -> ((s, dir) => {
      // r18 OPT: one shingle pass shared by the chunk build and both
      // verify sides (see q91's note).
      val docs = s.table("documents")
        .select(col("doc_id"), MinHash.shingles(col("text")).as("sh"))
        .localCheckpoint()
      val chunked = MinHash.simhashChunks(docs, "doc_id")
      val cands = MinHash.simhashCandidates(chunked, "doc_id", maxHamming = 3)
      MinHash.verifyJaccard(cands, docs, "doc_id", JacThreshold)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Inverted-index n-gram Jaccard probe search: for each probe doc, the
    // best-matching corpus doc by word-bigram Jaccard. The shared-shingle
    // equi-join (inverted index) replaces the naive probe x corpus scoring
    // loop; at 100 TB add a document-frequency cap on hot shingles.
    "q93_ngram_jaccard_match" -> ((s, dir) => {
      // r18 OPT: the bigram projection fed the size table and both
      // sides of the inverted-index self-join — one materialized pass
      // (within-invocation) serves all three consumers.
      val docs = s.table("documents")
        .select(col("doc_id"), MinHash.shingles(col("text"), k = 2).as("sh"))
        .localCheckpoint()
      val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
      val inv = docs.select(col("doc_id"), explode(col("sh")).as("g"))
      val probes = inv.filter(col("doc_id") < 20)
        .withColumnRenamed("doc_id", "a_id")
      val shared = probes.join(inv.withColumnRenamed("doc_id", "b_id"), "g")
        .filter(col("a_id") =!= col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_common"))
      val scored = shared
        .join(broadcast(sizes.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("n", "na")), "a_id")
        .join(broadcast(sizes.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("n", "nb")), "b_id")
        .withColumn("jac",
          col("n_common") / (col("na") + col("nb") - col("n_common")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("a_id"))
        .orderBy(col("jac").desc, col("b_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a_id"), col("b_id").as("best_id"),
          round(col("jac"), 3).as("jac"))
        .orderBy(col("a_id"))
    }),

    // TF-IDF cosine near-dup pairs — the sparse-vector similarity
    // operator (Presto's cosine_similarity takes sparse maps;
    // `MathFunctions.java`), expressed RELATIONALLY: term weights as
    // rows, dot products via the inverted-index equi-join on the word,
    // norms per doc. The document-frequency cap is CODE here (words in
    // more than half the corpus are dropped before the self-join) — the
    // hot-key bound that keeps the join linear when a stopword would
    // otherwise pair every document with every other.
    "qd9_tfidf_cosine" -> ((s, dir) => {
      val docs = s.table("documents")
      // corpus size for idf — parquet footer metadata, no scan job
      val n = Tables.rowCount(s, dir, "documents")
      // r18 OPT (guide §1.2): tf fed the document-frequency aggregate
      // AND the weighted relation, which in turn fed the norm aggregate
      // and both sides of the dot-product self-join — the tokenize+tf
      // lineage replayed four times. Two within-invocation
      // materializations (tf, then weighted) serve every consumer.
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= n / 2) // df cap: corpus-stopword bound
      val weighted = tf.join(broadcast(dfreq), "w")
        .withColumn("wt", col("tf") * log(lit(n.toDouble) / col("df")))
        .localCheckpoint()
      val norms = weighted.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
      val a = weighted.select(col("w"), col("doc_id").as("a_id"),
        col("wt").as("wa"))
      val b = weighted.select(col("w"), col("doc_id").as("b_id"),
        col("wt").as("wb"))
      val dots = a.join(b, "w").filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(sum(col("wa") * col("wb")).as("dot"))
      dots
        .join(broadcast(norms.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("nrm", "na")), "a_id")
        .join(broadcast(norms.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("nrm", "nb")), "b_id")
        .withColumn("cos", col("dot") / (col("na") * col("nb")))
        .filter(col("cos") >= 0.5)
        .select(col("a_id"), col("b_id"), round(col("cos"), 3).as("cos"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Duplicate-cluster transitive closure: star edges to each bucket's
    // min doc over two bucket families ((lang, source) and
    // (source, n_chars div 64) — stand-ins for the LSH band buckets of
    // q91/q92, which are deterministic here), then min-label propagation
    // to components. The oracle recomputes the closure with a recursive
    // CTE, so a propagation bug (missed merge, non-convergence) fails the
    // gate, not just a smoke test.
    "qf2_dedup_components" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = s.table("documents")
        .select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 64").as("bin"))
      def starEdges(parts: Seq[String]) = d
        .withColumn("root",
          min(col("doc_id")).over(
            Window.partitionBy(parts.map(col): _*)))
        .filter(col("doc_id") =!= col("root"))
        .select(col("doc_id").as("src"), col("root").as("dst"))
      val edges = starEdges(Seq("lang", "source"))
        .union(starEdges(Seq("source", "bin")))
      val comps = ConnectedComponents.run(edges)
      val assign = d.select(col("doc_id"))
        .join(comps, d("doc_id") === comps("v"), "left_outer")
        .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("comp"))
      val sizes = assign.groupBy(col("comp"))
        .agg(count(lit(1)).as("comp_size"))
      assign.join(sizes, "comp")
        .filter(col("doc_id") <= 300)
        .select(col("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }),

    // Exact-substring corpus dedup at chunk granularity — the Lee et
    // al. 2022 recipe ("Deduplicating Training Data Makes Language
    // Models Better", arXiv:2107.06499) re-expressed relationally:
    // instead of a monolithic suffix array, documents split into
    // non-overlapping 8-word chunks and every LATER occurrence of a
    // chunk (corpus-wide, first-occurrence kept by (doc_id, chunk_idx)
    // order) is removed. ONE shuffle on the chunk text — the dedup key
    // — then a per-chunk window; at 100 TB shuffle xxhash64(chunk)
    // instead of the text and aggregate min(doc_id, idx) in place of
    // the window (same plan shape, narrower rows). 175 of 3609 chunks
    // are duplicates at sf0.01 — the removal BINDS.
    // ExactSubstr-style duplicated-SPAN removal (Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better" §3 —
    // the suffix-array ExactSubstr semantics, re-expressed distributed
    // at word grain). q0p's fixed 8-word chunks are BLIND TO ALIGNMENT:
    // the same passage duplicated at a different offset never lands on
    // the same chunk boundary. Here every SLIDING 8-gram is a seed;
    // seeds occurring >1 time across the corpus mark duplicated spans,
    // the canonical (first by min(doc*100000+pos)) occurrence is kept,
    // and every word position covered by a non-canonical duplicated
    // seed counts removed — the paper's span-coverage, alignment-free.
    // Scale: one equi-shuffle keyed by the gram (at 100 TB the shuffle
    // key is the gram's 128-bit hash with in-group text verification —
    // same plan, narrower rows), a keyed join back, a distinct on
    // covered positions — linear in corpus, never all-pairs. Both
    // sides replay the identical arithmetic (DuckDB computes the same
    // seeds/coverage), so recall loss or a canonical-rule drift fails
    // the hash.
    "q3c_exactsubstr_dedup" -> ((s, dir) => {
      val w = s.table("documents")
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("ws"))
      val totals = w.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("ws"))).cast("bigint").as("total_words"))
      val grams = w.filter(size(col("ws")) >= 8)
        .select(col("doc_id"), col("source"), posexplode(expr(
          """transform(sequence(0, size(ws) - 8),
            |  i -> array_join(slice(ws, i + 1, 8), ' '))""".stripMargin)))
        .withColumnRenamed("pos", "wpos")
        .withColumnRenamed("col", "gram")
        // The seed key packs (doc, position) into one int64 with a
        // position stride of 100000. The stride is an ASSUMPTION about
        // document length, so it fails loudly instead of silently
        // colliding keys across documents when a doc exceeds it —
        // raise the stride (int64 holds doc_id*stride up to ~9e18) if
        // a corpus with longer documents arrives.
        .withColumn("seed_key",
          when(col("wpos") < lit(SeedStride),
            col("doc_id") * SeedStride + col("wpos"))
            .otherwise(raise_error(concat(
              lit(s"q3c: document position exceeds seed stride " +
                s"$SeedStride; doc_id="), col("doc_id")))))
      // r17 OPT (guide §2.4 "two operations keyed the same way share
      // one exchange"): the duplicated-seed probe used to aggregate
      // per-gram firsts and JOIN them back — two full shuffles of the
      // 6M-row gram-string relation at sf1 (plus a full-relation
      // checkpoint so three consumers shared the materialization). A
      // count/min window over the gram partition computes the same
      // (c, canon) pair with ONE shuffle and no join — bit-identical
      // filter semantics — and only the small duplicated-seed relation
      // (consumed twice: seed counts + coverage) needs materializing.
      val byGram = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gram"))
      val dupSeeds = grams
        .withColumn("c", count(lit(1)).over(byGram))
        .withColumn("canon", min(col("seed_key")).over(byGram))
        .filter(col("c") > 1 && col("seed_key") =!= col("canon"))
        .localCheckpoint()
      val seedCounts = dupSeeds.groupBy(col("source"))
        .agg(count(lit(1)).as("dup_seeds"))
      val covered = dupSeeds
        .select(col("doc_id"), col("source"),
          explode(sequence(col("wpos"), col("wpos") + 7)).as("cw"))
        .distinct()
        .groupBy(col("source"))
        .agg(count(lit(1)).as("words_removed"))
      totals.join(seedCounts, Seq("source"), "left")
        .join(covered, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("total_words"),
          coalesce(col("dup_seeds"), lit(0L)).as("dup_seeds"),
          coalesce(col("words_removed"), lit(0L)).as("words_removed"))
        .orderBy(col("source"))
    }),

    "q0p_chunk_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = s.table("documents")
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("source"), posexplode(expr(
          """transform(sequence(0, (size(ws)-1) div 8),
            |  i -> array_join(slice(ws, i*8+1, 8), ' '))""".stripMargin)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
      val ranked = chunks.withColumn("rn", row_number().over(
        Window.partitionBy(col("chunk"))
          .orderBy(col("doc_id"), col("chunk_idx"))))
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("rn") > 1, 1)).as("n_dup_removed"),
          sum(when(col("rn") === 1, length(col("chunk"))))
            .cast("bigint").as("kept_chars"))
        .orderBy(col("source"))
    })
  )

  private val shingleCte =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                 for i in range(1, len(w) - 1)]) AS s
      |  FROM docs)""".stripMargin

  // The online-LSH hash pipeline shared by the q3x / q3z oracles —
  // replays functions/TextExpressions.MinHashBandKeys bit-for-bit.
  private val bandKeyCtes =
    s"""$shingleCte,
       |hx AS (SELECT f.doc_id, r.i,
       |    min((((r.i + 1) * 2654435761 % 2147483647)
       |         * (('0x' || substr(md5(f.f), 1, 15))::BIGINT
       |            % 2147483647)
       |         + (r.i * 2654435789 % 2147483647))
       |        % 2147483647) AS sig
       |  FROM (SELECT doc_id, unnest(s) AS f
       |        FROM sh WHERE len(s) > 0) f(doc_id, f)
       |  CROSS JOIN range(12) r(i)
       |  GROUP BY f.doc_id, r.i),
       |bk AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
       |    string_agg(sig::VARCHAR, ':' ORDER BY i) AS key
       |  FROM hx GROUP BY doc_id, band)""".stripMargin

  private val bruteForcePairs =
    s"""$shingleCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
       |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS n_total,
       |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))), 3) AS jac
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  override def oracles: Map[String, String] = Map(
    // identical seed/canon/coverage arithmetic: sliding 8-grams,
    // duplicated ones keep min(doc*100000+pos), coverage = distinct
    // positions under non-canonical duplicated seeds
    "q3c_exactsubstr_dedup" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |           FROM documents),
        |t AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(len(ws)) AS BIGINT) AS total_words
        |      FROM w GROUP BY 1),
        |g AS (SELECT doc_id, source, i AS wpos,
        |        array_to_string(ws[(i+1):(i+8)], ' ') AS gram,
        |        doc_id * 100000 + i AS seed_key
        |      FROM w, (SELECT unnest(range(0,
        |               (SELECT max(len(ws)) FROM w))) AS i) ix
        |      WHERE len(ws) >= 8 AND i <= len(ws) - 8),
        |f AS (SELECT gram, count(*) AS c, min(seed_key) AS canon
        |      FROM g GROUP BY 1 HAVING count(*) > 1),
        |d AS (SELECT g.doc_id, g.source, g.wpos FROM g
        |      JOIN f USING (gram) WHERE g.seed_key <> f.canon),
        |sc AS (SELECT source, count(*) AS dup_seeds FROM d GROUP BY 1),
        |cov AS (SELECT source, count(*) AS words_removed FROM (
        |        SELECT DISTINCT doc_id, source, wpos + o AS cw
        |        FROM d, (SELECT unnest(range(0, 8)) AS o) oo) GROUP BY 1)
        |SELECT t.source, t.n_docs, t.total_words,
        |  CAST(coalesce(sc.dup_seeds, 0) AS BIGINT) AS dup_seeds,
        |  CAST(coalesce(cov.words_removed, 0) AS BIGINT) AS words_removed
        |FROM t LEFT JOIN sc ON t.source = sc.source
        |       LEFT JOIN cov ON t.source = cov.source
        |ORDER BY 1""".stripMargin,

    "q0p_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |           FROM documents),
        |c AS (SELECT doc_id, source, i AS chunk_idx,
        |        array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS chunk
        |      FROM w, (SELECT unnest(range(0,
        |               1 + (SELECT max(len(ws)) FROM w) // 8)) AS i) g
        |      WHERE i*8 < len(ws)),
        |r AS (SELECT source, chunk,
        |        row_number() OVER (PARTITION BY chunk
        |          ORDER BY doc_id, chunk_idx) AS rn
        |      FROM c)
        |SELECT source, count(*) AS n_chunks,
        |  CAST(count_if(rn > 1) AS BIGINT) AS n_dup_removed,
        |  CAST(sum(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END)
        |    AS BIGINT) AS kept_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q90_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "qf2_dedup_components" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, source, n_chars // 64 AS bin FROM documents),
        |f1 AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY lang, source) AS root FROM d),
        |f2 AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY source, bin) AS root FROM d),
        |e AS (
        |  SELECT doc_id AS src, root AS dst FROM f1 WHERE doc_id <> root
        |  UNION
        |  SELECT root AS src, doc_id AS dst FROM f1 WHERE doc_id <> root
        |  UNION
        |  SELECT doc_id AS src, root AS dst FROM f2 WHERE doc_id <> root
        |  UNION
        |  SELECT root AS src, doc_id AS dst FROM f2 WHERE doc_id <> root),
        |reach(v, c) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT e.dst, r.c FROM reach r JOIN e ON e.src = r.v),
        |assign AS (SELECT v AS doc_id, min(c) AS comp FROM reach GROUP BY v),
        |sizes AS (SELECT comp, count(*) AS comp_size FROM assign
        |          GROUP BY comp)
        |SELECT a.doc_id, a.comp, s.comp_size
        |FROM assign a JOIN sizes s ON a.comp = s.comp
        |WHERE a.doc_id <= 300
        |ORDER BY a.doc_id""".stripMargin,

    "q91_minhash_dedup" -> bruteForcePairs,

    // Replays the ingest admission algebra: run 1 admits first-per-
    // fingerprint among ids < 250; run 2 admits full-dump docs whose
    // fingerprint is not yet indexed, first-wins within the delta;
    // run 3 is the idempotent replay (zero).
    "q3y_incremental_dedup" ->
      """WITH f AS (SELECT doc_id, md5(coalesce(text, '')) AS fp
        |  FROM documents),
        |r1 AS (SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM f WHERE doc_id < 250) WHERE rn = 1),
        |r2 AS (SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM f) WHERE rn = 1
        |  AND fp NOT IN (SELECT fp FROM r1))
        |SELECT 'r1_initial' AS phase,
        |  count(*) AS n_admitted,
        |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM r1
        |UNION ALL
        |SELECT 'r2_delta', count(*),
        |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM r2
        |UNION ALL
        |SELECT 'r3_replay', 0, CAST(0 AS BIGINT)
        |ORDER BY phase""".stripMargin,

    // Replays the online-LSH pipeline bit-for-bit (bandKeyCtes): per
    // shingle one md5's top 60 bits mod P=2^31-1, 12 universal-family
    // remixes (a_i·base + b_i mod P, Fibonacci-hash constants — the
    // MinHashBandKeys expression's exact arithmetic, every product
    // inside 62 bits so BIGINT never overflows), min per seed, 4
    // bands of 3 concatenated, first arrival per band bucket = min
    // doc_id, admitted iff first on every band (shingle-less docs
    // admitted with 0 bands).
    "q3x_streaming_neardup" ->
      s"""$bandKeyCtes,
         |firsts AS (SELECT band, key, min(doc_id) AS fid
         |  FROM bk GROUP BY band, key),
         |perdoc AS (SELECT b.doc_id,
         |    count(*) AS n_bands,
         |    CAST(sum(CASE WHEN f.fid = b.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS first_bands
         |  FROM bk b JOIN firsts f ON b.band = f.band AND b.key = f.key
         |  GROUP BY b.doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_bands, 0) AS n_bands,
         |  coalesce(p.first_bands, 0) AS first_bands,
         |  coalesce(p.n_bands, 0) = coalesce(p.first_bands, 0) AS kept
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Replays the cross-run band-claim algebra over the same hash
    // arithmetic: run 1's claims are ALL band keys of ids < 250
    // (insert-all — dropped docs claim too); run 2 admits docs whose
    // every band is unclaimed AND first among run-2's fresh rows;
    // run 3 finds every key claimed (zero, absent shingle-less docs).
    "q3z_incremental_neardup" ->
      s"""$bandKeyCtes,
         |c1 AS (SELECT DISTINCT band, key FROM bk WHERE doc_id < 250),
         |f1 AS (SELECT band, key, min(doc_id) AS fid
         |  FROM bk WHERE doc_id < 250 GROUP BY band, key),
         |p1 AS (SELECT b.doc_id, count(*) AS nb,
         |    CAST(sum(CASE WHEN f.fid = b.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fb
         |  FROM bk b JOIN f1 f ON b.band = f.band AND b.key = f.key
         |  WHERE b.doc_id < 250 GROUP BY b.doc_id),
         |k1 AS (SELECT d.doc_id FROM documents d
         |  LEFT JOIN p1 USING (doc_id)
         |  WHERE d.doc_id < 250
         |    AND coalesce(p1.nb, 0) = coalesce(p1.fb, 0)),
         |fr2 AS (SELECT b.doc_id, b.band, b.key FROM bk b
         |  LEFT JOIN c1 ON b.band = c1.band AND b.key = c1.key
         |  WHERE c1.band IS NULL),
         |f2 AS (SELECT band, key, min(doc_id) AS fid
         |  FROM fr2 GROUP BY band, key),
         |nb2 AS (SELECT doc_id, count(*) AS nb FROM bk GROUP BY doc_id),
         |fb2 AS (SELECT b.doc_id,
         |    CAST(sum(CASE WHEN f.fid = b.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fb
         |  FROM fr2 b JOIN f2 f ON b.band = f.band AND b.key = f.key
         |  GROUP BY b.doc_id),
         |k2 AS (SELECT d.doc_id FROM documents d
         |  LEFT JOIN nb2 USING (doc_id) LEFT JOIN fb2 USING (doc_id)
         |  WHERE coalesce(nb2.nb, 0) = coalesce(fb2.fb, 0))
         |SELECT 'r1_initial' AS phase, count(*) AS n_admitted,
         |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM k1
         |UNION ALL
         |SELECT 'r2_delta', count(*),
         |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM k2
         |UNION ALL
         |SELECT 'r3_replay', count(*),
         |  CAST(coalesce(sum(doc_id), 0) AS BIGINT)
         |FROM documents d LEFT JOIN nb2 USING (doc_id)
         |WHERE coalesce(nb2.nb, 0) = 0
         |ORDER BY phase""".stripMargin,

    // Mirrors the simhash pipeline: md5-derived 60-bit feature hash, +-1
    // bit sums, 4x15-bit sign chunks, any-chunk collision + hamming<=3,
    // exact-Jaccard verify. Bit-identical to the Spark implementation.
    "q92_simhash_dedup" ->
      s"""$shingleCte,
         |feat AS (SELECT doc_id, unnest(s) AS f FROM sh),
         |fh AS (SELECT doc_id,
         |        ('0x' || substr(md5(f), 1, 15))::BIGINT AS h FROM feat),
         |bits AS (
         |  SELECT doc_id, i,
         |    sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS bs
         |  FROM fh CROSS JOIN range(60) r(i)
         |  GROUP BY doc_id, i),
         |sig AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN bs > 0 AND i < 15
         |        THEN (1::BIGINT << i) ELSE 0 END) AS c0,
         |    sum(CASE WHEN bs > 0 AND i >= 15 AND i < 30
         |        THEN (1::BIGINT << (i - 15)) ELSE 0 END) AS c1,
         |    sum(CASE WHEN bs > 0 AND i >= 30 AND i < 45
         |        THEN (1::BIGINT << (i - 30)) ELSE 0 END) AS c2,
         |    sum(CASE WHEN bs > 0 AND i >= 45
         |        THEN (1::BIGINT << (i - 45)) ELSE 0 END) AS c3
         |  FROM bits GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)
         |    AND bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
         |      + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3)
         |SELECT c.a_id, c.b_id,
         |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
         |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS n_total,
         |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.s, b.s))), 3) AS jac
         |FROM cand c JOIN sh a ON a.doc_id = c.a_id
         |            JOIN sh b ON b.doc_id = c.b_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,

    "qd9_tfidf_cosine" ->
      """WITH tf AS (SELECT doc_id, w, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |nn AS (SELECT count(*) AS n FROM documents),
        |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w
        |        HAVING count(*) <= (SELECT n FROM nn) / 2),
        |wt AS (SELECT doc_id, tf.w,
        |         tf * ln((SELECT n FROM nn)::DOUBLE / df) AS wt
        |       FROM tf JOIN dfx USING (w)),
        |nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM wt
        |        GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |           sum(a.wt * b.wt) AS dot
        |         FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
        |         GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(dot / (x.nrm * y.nrm), 3) AS cos
        |FROM dots JOIN nrm x ON x.doc_id = a_id
        |          JOIN nrm y ON y.doc_id = b_id
        |WHERE dot / (x.nrm * y.nrm) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    "q93_ngram_jaccard_match" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        |  FROM docs),
        |scored AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < 20 AND a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) > 0)
        |SELECT a_id, b_id AS best_id, round(jac, 3) AS jac
        |FROM (SELECT *, row_number()
        |        OVER (PARTITION BY a_id ORDER BY jac DESC, b_id) AS rn
        |      FROM scored)
        |WHERE rn = 1 ORDER BY a_id""".stripMargin
  )
}
