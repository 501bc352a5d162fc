package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.MinHash

/** Dataset-curation operators — the selection half of a training-data
  * pipeline, complementing the dedup/scoring packs: stratified sampling
  * for class-balanced subsets, deterministic train/test splitting, and
  * per-duplicate-cluster retention policy.
  *
  * Reference building blocks: TABLESAMPLE (`plan/SampleNode.java`),
  * row_number windows (`WindowNode.java`), the scalar md5/hash surface
  * (`VarbinaryFunctions.java`). The compositions are the standard corpus
  * recipes (C4/Gopher-style pipeline stages).
  *
  * Scale: qd4/qd5 are map-only projections plus one low-cardinality
  * aggregation (scan-speed at 100 TB). qd6 is one window over the
  * fingerprint partitioning — the same single shuffle the dedup grouping
  * already pays; retention adds no extra pass.
  */
object Curation extends QueryPack {

  override def defs: Map[String, Q] = Map(

    // The WHOLE curation pipeline, composed end-to-end — the proof the
    // stages a real corpus build chains (C4/Gopher/RefinedWeb recipes)
    // compose in ONE engine pass-structure without driver round-trips:
    // quality scoring (q98's signals) → quality+language gate → exact
    // dedup keep-smallest (q90's shape) → 3-gram benchmark
    // decontamination against the doc_id%97 eval slice (qi3's screen,
    // native WordNgrams) → per-source top-50 cap (qz9's window) →
    // deterministic multiplicative-hash sharding (qj8's spelling,
    // modulo-the-prime BEFORE multiplying). Plan shape: two window
    // shuffles (fingerprint, source), one broadcast anti-join for the
    // screen, everything else map-side — the 100 TB pipeline skeleton.
    // DuckDB replays the identical chain stage for stage.
    "q2h_curation_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge.{toCol, toExpr}
      def ngrams3(c: org.apache.spark.sql.Column) =
        toCol(graft.functions.WordNgrams(toExpr(c), 3))
      val d = s.table("documents")
      val scored = d
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")).cast("long"))
        .withColumn("ttr",
          size(array_distinct(col("w"))).cast("double") / col("n_tok"))
        .withColumn("mean_wlen",
          (col("n_chars") - (col("n_tok") - 1)).cast("double")
            / col("n_tok"))
        .withColumn("dup_share",
          size(filter(col("w"), x => x === "dup")).cast("double")
            / col("n_tok"))
        .withColumn("score",
          col("ttr") * 0.5
            + least(col("n_tok").cast("double") / 100.0, lit(1.0)) * 0.3
            + when(col("mean_wlen").between(3.0, 6.0), 0.2).otherwise(0.0)
            - col("dup_share"))
      val kept = scored.filter(col("score") >= 0.45 &&
        col("lang").isin("en", "de"))
      // the dedup survivors feed BOTH the contamination probe and the
      // anti-join — materialize the stage once (the checkpoint a real
      // pipeline places between stages; without it Catalyst recomputes
      // the scoring+window subtree for each consumer, which the q2h
      // plan guard counts)
      val deduped = kept
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .localCheckpoint()
      val evalGrams = d.filter(col("doc_id") % 97 === 0)
        .select(explode(ngrams3(col("text"))).as("g")).distinct()
      val contaminated = deduped
        .select(col("doc_id"), explode(ngrams3(col("text"))).as("g"))
        .join(broadcast(evalGrams), Seq("g")).select("doc_id").distinct()
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      val capped = clean
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rk") <= 50)
      capped
        .withColumn("h", ((col("doc_id") % 1000000007L) * 2654435761L
          + 12345L) % 1000000007L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("h") % 8).as("n_shards"),
          sum(col("n_chars")).as("chars_sum"),
          round(avg(col("score")), 4).as("avg_score"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("source"))
    }),
    // Stratified (per-class) Bernoulli sampling — class-balanced eval
    // subsets. The sampled set is engine-specific (seeded RNG), so like
    // q84 the output is deterministic invariants: per-class counts and a
    // 5-sigma binomial envelope around the 50% target rate. The class
    // list is tiny metadata (like IVF centroids), collected driver-side.
    "qd4_stratified_sample" -> ((s, dir) => {
      val docs = s.table("documents")
      val langs = docs.select("lang").distinct()
        .collect().map(_.getString(0))
      val sample = docs.stat.sampleBy("lang",
        langs.map(l => l -> 0.5).toMap, 42L)
      val sCnt = sample.groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        .join(sCnt, Seq("lang"), "left")
        .select(col("lang"), col("n_lang"),
          (abs(coalesce(col("n_sampled"), lit(0L)) - col("n_lang") / 2.0) <=
            lit(5.0) * sqrt(col("n_lang")) / 2.0).as("in_bounds"))
        .orderBy(col("lang"))
    }),

    // Deterministic hash-based train/test split (80/20): the md5-derived
    // bucket is a pure function of doc_id, so membership is stable across
    // runs, engines, and repartitions — and the oracle replays it
    // exactly (full hash-match gate, not just invariants).
    "qd5_train_test_split" -> ((s, dir) => {
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
      s.table("documents")
        .withColumn("split", when(h < 80, "train").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_ids"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("split"))
    }),

    // Duplicate-cluster retention: group documents by content
    // fingerprint (qa0's min-hash), keep the "best" doc per cluster
    // (longest text, doc_id tie-break) — the canonical keep-one-of-dups
    // policy. Exact oracle: the fingerprint and the argmax both replay.
    "qd6_cluster_retention" -> ((s, dir) => {
      val fp = s.table("documents")
        .withColumn("sh", MinHash.shingles(col("text"), 4))
        .withColumn("fp", array_min(transform(col("sh"),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))))
      val w = Window.partitionBy(col("fp"))
        .orderBy(length(col("text")).desc, col("doc_id"))
      fp.withColumn("rn", row_number().over(w))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_clusters"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") === 1, col("doc_id")).otherwise(0L))
            .as("kept_id_sum"))
    }),

    // Per-domain capping (the RefinedWeb/C4 recipe): no single source
    // may contribute more than K documents, and the K kept are the
    // BEST by a deterministic quality ordering (n_chars desc, doc_id
    // tie-break — any scored column slots in). One row_number window
    // per source partition — the same single shuffle a per-key top-k
    // always costs; at 100 TB hot domains are exactly the skewed keys
    // the window's hash partitioning spreads by source (and a
    // two-phase per-partition pre-rank would bound skew further —
    // Salt.scala's machinery applies if one domain dominates). Exact
    // oracle: the cap and ordering replay verbatim in DuckDB. K=10
    // so the cap BINDS at fixture scale (25 docs/source at sf0.01).
    "qz9_domain_cap" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      s.table("documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"),
          min(col("n_chars")).as("min_kept_chars"))
        .orderBy(col("source"))
    }),

    // Deterministic corpus shuffle — the fixed training order every
    // run reproduces: sort key = a multiplicative-hash mix of doc_id
    // (plain 64-bit arithmetic, identical in any engine; no RNG), then
    // shard assignment off the same key. Global position WITHOUT a
    // single-partition window: h is bucketed into 32 contiguous
    // ranges, per-bucket row_numbers run 32-way parallel, and each
    // bucket's offset is an exclusive prefix-sum over the (32-row,
    // metadata-sized) bucket counts — the distributed rank recipe a
    // 100 TB corpus needs (raise the bucket count with the data; the
    // offsets stay metadata). The position-weighted checksum pins the
    // ENTIRE order, not just membership.
    "qj8_deterministic_shuffle" -> ((s, dir) => {
      s.sql("""WITH keyed AS (
              |  SELECT doc_id,
              |    ((doc_id % 1000000007) * 2654435761 + 12345) % 1000000007 AS h
              |  FROM documents),
              |b AS (SELECT doc_id, h,
              |    cast(h / 31250001 as bigint) AS bkt FROM keyed),
              |c AS (SELECT bkt, count(*) AS cnt FROM b GROUP BY bkt),
              |o AS (SELECT bkt, coalesce(sum(cnt) OVER (ORDER BY bkt
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS off FROM c),
              |r AS (SELECT b.doc_id, b.h,
              |    o.off + row_number() OVER (PARTITION BY b.bkt
              |      ORDER BY b.h, b.doc_id) AS pos
              |  FROM b JOIN o ON b.bkt = o.bkt)
              |SELECT cast(h % 8 as bigint) AS shard,
              |  cast(count(*) as bigint) AS n,
              |  cast(sum(pos * doc_id) as bigint) AS ordsum
              |FROM r GROUP BY h % 8 ORDER BY shard""".stripMargin)
    }),

    // PII redaction — the scrub stage every corpus pipeline runs before
    // training: emails, then dotted-quad IPs, then long digit runs, each
    // masked by a typed token, with per-category match counts. Map-only
    // regexp_replace/extract chains (scan-speed at 100 TB). The fixture
    // corpus is synthetic word-salad with no PII (planted rows prove the
    // operator; the regex dialect stays in the Java∩RE2 subset so the
    // oracle replays it).
    "qh2_pii_redaction" -> ((s, dir) => s.sql(
      """WITH t(id, txt) AS (VALUES
        |  (1, 'contact john.doe@example.com or jane_22@mail.co.uk today'),
        |  (2, 'server at 10.1.2.3 and backup at 192.168.77.200 rebooted'),
        |  (3, 'card 4111111111111111 expires soon, call +1 555 0100'),
        |  (4, 'no sensitive content in this row at all'),
        |  (5, 'mixed: bob@corp.io from 172.16.254.1 sent 123456789012')),
        |r1 AS (SELECT id, txt, regexp_replace(txt,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>')
        |  AS s1 FROM t),
        |r2 AS (SELECT id, txt, regexp_replace(s1,
        |  '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>') AS s2 FROM r1)
        |SELECT cast(id as bigint) AS id,
        |  regexp_replace(s2, '[0-9]{9,}', '<NUM>') AS redacted,
        |  cast(size(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)) as bigint)
        |    AS n_email,
        |  cast(size(regexp_extract_all(txt,
        |    '([0-9]{1,3}\\.){3}[0-9]{1,3}', 0)) as bigint) AS n_ip,
        |  cast(size(regexp_extract_all(s2, '[0-9]{9,}', 0)) as bigint)
        |    AS n_num
        |FROM r2 ORDER BY id""".stripMargin)),

    // Benchmark decontamination — the train/eval overlap scrub every
    // pretraining pipeline runs (the GPT-3/PaLM n-gram recipe): a training
    // document is contaminated if it shares any 6-word-gram with the eval
    // set (here: doc_id % 50 = 0 plays the benchmark). Eval n-grams are a
    // tiny distinct set (benchmarks are ~1e5 docs at most) — broadcast to
    // the train-side explode, then a semi-join-shaped distinct; never an
    // all-pairs comparison, so the train side stays one scan at 100 TB.
    "qi3_decontamination" -> ((s, dir) => {
      val docs = s.table("documents")
      val evalGrams = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(MinHash.shingles(col("text"), 6)).as("g")).distinct()
      val contaminated = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), explode(MinHash.shingles(col("text"), 6)).as("g"))
        .join(broadcast(evalGrams), "g")
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") % 50 =!= 0)
        .join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_train"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"),
          coalesce(sum(when(col("hit") === 1L, col("doc_id"))), lit(0L))
            .as("contam_id_sum"))
    }),

    // RAG-ingest chunking (r10): split each document into 32-word
    // retrieval chunks overlapping by 8 (adjacent chunks share context;
    // the dual of qi5's packing, which concatenates). chunk_text is a
    // native single-pass expression; counts and word totals are
    // closed-form in the document length, so DuckDB replays them
    // exactly: chunks = 1 + ceil((len-32)/24) (one when len <= 32),
    // words = sum over starts of min(32, len - start).
    "q1m_rag_chunking" -> ((s, dir) => {
      s.sql(
        """WITH c AS (SELECT doc_id, source,
          |    chunk_text(text, 32, 8) AS chunks,
          |    size(split(text, ' ')) AS n_words
          |  FROM documents),
          |x AS (SELECT source, doc_id, n_words,
          |    size(chunks) AS n_chunks,
          |    aggregate(transform(chunks, ch -> size(split(ch, ' '))),
          |      0, (a, b) -> a + b) AS chunk_words,
          |    aggregate(transform(chunks, ch -> size(split(ch, ' '))),
          |      0, (a, b) -> greatest(a, b)) AS max_chunk
          |  FROM c)
          |SELECT source, cast(count(*) as bigint) AS n_docs,
          |  cast(sum(n_chunks) as bigint) AS total_chunks,
          |  cast(sum(chunk_words) as bigint) AS total_chunk_words,
          |  cast(max(max_chunk) as bigint) AS max_chunk_words,
          |  bool_and(max_chunk <= 32) AS bounded
          |FROM x GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Temperature-weighted mixture sampling (the multi-source LM data
    // recipe — GPT-3 / Llama style: sample source s with probability
    // proportional to n_s^tau, tau=0.5, so small sources up-weight
    // relative to their raw share without dominating). Deterministic
    // fixed-point spelling: integerized weights w_s = round(sqrt(n_s)
    // * 1000), target total T = n_tot/2, keep test h * n_s * W <
    // w_s * T * 1e6 on the qi4 md5-millionths hash — all-integer
    // cross-multiplication (int64-safe at any corpus scale: reduce
    // modulo first, the SURVEY hash lesson), so DuckDB replays the
    // exact membership. Plan shape is qi4's: per-source counts are
    // metadata (broadcast), the data pass is a map-only filter.
    "q1i_temperature_mix" -> ((s, dir) => {
      val docs = s.table("documents")
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
        .withColumn("w", round(sqrt(col("n_src")) * 1000).cast("long"))
      val tot = counts.agg(sum(col("w")).as("w_tot"),
        expr("sum(n_src) div 2").as("t_half"))
      val rates = counts.crossJoin(tot)
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long") % 1000000L
      docs.join(broadcast(rates), "source")
        .withColumn("keep",
          h * col("n_src") * col("w_tot") <
            col("w") * col("t_half") * 1000000L)
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_src"), max(col("w")).as("w"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Bloom-filter decontamination — the AT-SCALE variant of qi3's
    // exact n-gram screen (GPT-3's 13-gram recipe at the fixture's
    // k=6): instead of broadcasting the eval n-gram SET, build one
    // Bloom sketch over the eval grams (Spark's native
    // BloomFilterAggregate — merge is bitwise OR, so the bits are
    // partition-order-independent) and probe every train gram against
    // the KB-sized sketch. At 100 TB the sketch is what you can
    // actually ship to every executor when the eval suite is large.
    // Gates: the mathematical no-false-negative guarantee (every
    // exactly-contaminated doc is flagged — locks build/probe hash
    // consistency), and a false-positive budget over the clean docs;
    // the exact counts replay qi3's DuckDB recipe.
    "q1j_bloom_decontam" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge.{toCol, toExpr}
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      val docs = s.table("documents")
      val evalGrams = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(MinHash.shingles(col("text"), 6)).as("g"))
        .distinct()
      val exact = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          explode(MinHash.shingles(col("text"), 6)).as("g"))
        .join(broadcast(evalGrams), "g")
        .select(col("doc_id")).distinct()
      // one KB-scale sketch: driver holds it like a trained model
      val bloomBytes = evalGrams
        .select(toCol(new BloomFilterAggregate(
          toExpr(xxhash64(col("g"))), Literal(100000L), Literal(800000L))
          .toAggregateExpression()).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      val flagged = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          explode(MinHash.shingles(col("text"), 6)).as("g"))
        .filter(toCol(BloomFilterMightContain(
          Literal.create(bloomBytes,
            org.apache.spark.sql.types.BinaryType),
          toExpr(xxhash64(col("g"))))))
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") % 50 =!= 0)
        .join(exact.withColumn("ex", lit(1L)), Seq("doc_id"), "left")
        .join(flagged.withColumn("fl", lit(1L)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_train"),
          coalesce(sum(col("ex")), lit(0L)).as("n_contaminated"),
          coalesce(sum(when(col("ex") === 1L, col("doc_id"))), lit(0L))
            .as("contam_id_sum"),
          coalesce(bool_and(!(col("ex") === 1L && col("fl").isNull)),
            lit(true)).as("no_false_negatives"),
          // clean docs wrongly flagged stay under 5% (the sketch is
          // sized generously; the bound is the contract, not the
          // typical rate)
          (coalesce(sum(when(col("fl") === 1L && col("ex").isNull, 1L)),
            lit(0L)) * 20 <=
            sum(when(col("ex").isNull, 1L))).as("fp_budget_ok"))
    }),

    // Domain-mixture resampling — balanced mixture by downsampling every
    // source to the smallest source's size, with DETERMINISTIC membership:
    // the accept test is an md5 threshold on doc_id (qd5's split trick),
    // compared integer-exactly (h * n_src < n_min * 1e6, no float rate).
    // Per-source counts are tiny metadata (broadcast); the data pass is
    // map-only filter — scan-speed at 100 TB, and the oracle replays the
    // exact membership, not an envelope.
    "qi4_mixture_resample" -> ((s, dir) => {
      val docs = s.table("documents")
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val rates = counts.crossJoin(counts.agg(min(col("n_src")).as("n_min")))
      // native md5-prefix hash — bit-identical to the former
      // conv(substring(md5(..),1,15),16,10) chain (r17 convention)
      val h = graft.functions.TextExpressions
        .md5Prefix60(col("doc_id").cast("string")) % 1000000L
      docs.join(broadcast(rates), "source")
        .withColumn("keep", h * col("n_src") < col("n_min") * 1000000L)
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_src"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169 —
    // "Data Selection for Language Models via Importance Resampling"):
    // estimate hashed-word-feature distributions for a TARGET domain
    // (here lang='en' — the slice you want more of) and the RAW corpus,
    // score every document by the log-likelihood ratio Σ_w ln(p̂[h(w)] /
    // q̂[h(w)]) (Laplace-smoothed, 256 buckets), and sample WITHOUT
    // replacement ∝ exp(score) via Gumbel top-k — the Gumbel key is
    // deterministic (a multiplicative hash of doc_id mapped into (0,1)),
    // so the selected set replays exactly in DuckDB. Plan: one explode
    // pass feeds BOTH the 256-bucket distribution aggregate (map-side
    // partial into 256 keys, metadata-sized result broadcast back) and
    // the per-doc scoring aggregate (one doc_id shuffle); selection is a
    // TopN, never a global sort. At 100 TB materialize the hashed-feature
    // table once (it is the reusable artifact) so the two aggregates
    // share the tokenize pass instead of replaying lineage.
    "q0w_dsir_resample" -> ((s, dir) => {
      val docs = s.table("documents")
      // literal-space split (NOT a regex): the session registry shadows
      // `split` with Presto's literal-delimiter semantics, and Spark 4's
      // functions.split resolves by NAME through that shadow — a regex
      // delimiter here would silently stop splitting (the SURVEY §2.3
      // split-shadow lesson, now also binding for the DataFrame API).
      // r18 OPT: (a) the feature hash is the native Md5Prefix60 (top 60
      // bits of md5 — bit-identical to the conv(substring(md5)) chain it
      // replaces, the r17 qe3/q92 convention) instead of a per-row hex
      // round-trip; (b) the tokenize+hash pass fed BOTH the 256-bucket
      // distribution aggregate and the per-doc scoring aggregate — the
      // in-code scale note always said to materialize it once, and now
      // it is (within-invocation, narrow doc_id/lang/b rows).
      val words = docs.select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .withColumn("b",
          graft.functions.TextExpressions.md5Prefix60(col("w")) % 256L)
        .select(col("doc_id"), col("lang"), col("b"))
        .localCheckpoint()
      val dist = words.groupBy(col("b")).agg(
        count(lit(1)).as("q_cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("p_cnt"))
      val tot = dist.agg(sum(col("q_cnt")).as("q_tot"),
        sum(col("p_cnt")).as("p_tot"))
      val lw = dist.crossJoin(broadcast(tot))
        .select(col("b"),
          (log((col("p_cnt") + lit(1.0)) / (col("p_tot") + lit(256.0)))
            - log((col("q_cnt") + lit(1.0)) / (col("q_tot") + lit(256.0))))
            .as("lw"))
      val u = ((col("doc_id") % lit(1000003L) * lit(2654435761L) + lit(7L)) % lit(1000003L)
        + lit(1L)).cast("double") / lit(1000004.0)
      words.join(broadcast(lw), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("lw")).as("llr"))
        .withColumn("s", col("llr") - log(-log(u)))
        .orderBy(col("s").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), col("lang"), round(col("llr"), 4).as("llr"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing — concatenate documents in deterministic order and
    // chunk into fixed token budgets (the GPT-style pretraining packer): a
    // doc's pack is where its first token lands in the per-lang running
    // stream (floor(exclusive-cumsum / budget)). One window shuffle on
    // (lang) — at 100 TB partition the stream further by a shard key and
    // pack per (lang, shard); the policy is unchanged. Exact oracle: the
    // window replays in SQL.
    "qi5_sequence_packing" -> ((s, dir) => {
      val toks = s.table("documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      toks
        .withColumn("pack_id",
          floor(coalesce(sum(col("toks")).over(w), lit(0L)) / lit(256)))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("nd"), sum(col("toks")).as("fill"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_packs"), sum(col("nd")).as("n_docs"),
          sum(col("fill")).as("total_toks"), max(col("fill")).as("max_fill"))
        .orderBy(col("lang"))
    }),

    // Repetition signals (the Gopher repetition filters): most-frequent
    // word-bigram count and duplicate-trigram fraction per document.
    // Multiplicity-preserving n-grams via the native WordNgrams pass —
    // unlike WordShingles these must NOT dedup, and the interpreted
    // transform(sequence(...)) chain costs 2.1 s on 500 docs (SURVEY
    // §2.4's CodegenFallback HOF trap). One explode+count for the top
    // bigram (partial agg map-side); the trigram fraction is pure array
    // math, no shuffle.
    "qh3_repetition_signals" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge.{toCol, toExpr}
      def ngrams(c: org.apache.spark.sql.Column, k: Int) =
        toCol(graft.functions.WordNgrams(toExpr(c), k))
      val base = s.table("documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), split(col("text"), " ").as("ws"),
          ngrams(col("text"), 2).as("bgs"), ngrams(col("text"), 3).as("tgs"))
        // keep parity with the oracle's >= 3-word guard
        .filter(size(col("ws")) >= 3)
      val top = base.select(col("doc_id"), explode(col("bgs")).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_cnt"))
      base.select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          size(col("tgs")).cast("long").as("n_tri"),
          size(array_distinct(col("tgs"))).cast("long").as("n_tri_d"))
        .join(top, "doc_id")
        .select(col("doc_id"), col("n_words"), col("top_bigram_cnt"),
          round(lit(1.0) - col("n_tri_d").cast("double") / col("n_tri"), 6)
            .as("dup_trigram_frac"))
        .orderBy(col("doc_id"))
    })
  )

  override def oracles: Map[String, String] = Map(

    // the identical chain, stage for stage: score -> gate -> dedup ->
    // 3-gram screen -> cap -> shard
    "q2h_curation_pipeline" ->
      """WITH d AS (
        |  SELECT doc_id, text, lang, source, n_chars,
        |    string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT *, len(w) AS n_tok,
        |    len(list_distinct(w))::DOUBLE / len(w) AS ttr,
        |    (n_chars - (len(w) - 1))::DOUBLE / len(w) AS mean_wlen,
        |    len(list_filter(w, x -> x = 'dup'))::DOUBLE / len(w)
        |      AS dup_share
        |  FROM d),
        |q AS (
        |  SELECT *, ttr * 0.5 + least(n_tok::DOUBLE / 100.0, 1.0) * 0.3
        |    + CASE WHEN mean_wlen BETWEEN 3.0 AND 6.0
        |           THEN 0.2 ELSE 0.0 END
        |    - dup_share AS score
        |  FROM m),
        |kept AS (
        |  SELECT * FROM q WHERE score >= 0.45 AND lang IN ('en', 'de')),
        |dd AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id) AS rn FROM kept),
        |dd1 AS (SELECT * FROM dd WHERE rn = 1),
        |eg AS (
        |  SELECT DISTINCT unnest(list_transform(range(len(w) - 2),
        |    i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS g
        |  FROM d WHERE doc_id % 97 = 0),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |      i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS g
        |    FROM dd1) x JOIN eg USING (g)),
        |clean AS (
        |  SELECT * FROM dd1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |capped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS rk FROM clean)
        |  WHERE rk <= 50),
        |sh AS (
        |  SELECT *, ((doc_id % 1000000007) * 2654435761 + 12345)
        |    % 1000000007 AS h FROM capped)
        |SELECT source, count(*) AS n_kept,
        |  CAST(count(DISTINCT h % 8) AS BIGINT) AS n_shards,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  round(avg(score), 4) AS avg_score,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,

    "qd4_stratified_sample" ->
      """SELECT lang, count(*) AS n_lang, true AS in_bounds
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "qd5_train_test_split" ->
      """WITH s AS (SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |              ::BIGINT % 100 < 80
        |       THEN 'train' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n, count(DISTINCT doc_id) AS n_ids,
        |  min(doc_id) AS min_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "qd6_cluster_retention" ->
      """WITH d AS (SELECT doc_id, length(text) AS len,
        |  string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, len,
        |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |                 for i in range(1, len(w) - 2)]) AS s
        |  FROM d),
        |fp AS (SELECT doc_id, len,
        |  list_min(list_transform(s,
        |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS fp
        |  FROM sh),
        |r AS (SELECT doc_id, fp,
        |  row_number() OVER (PARTITION BY fp ORDER BY len DESC, doc_id) AS rn
        |  FROM fp)
        |SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_clusters,
        |  CAST(count_if(rn = 1) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT)
        |    AS kept_id_sum
        |FROM r""".stripMargin,

    "qz9_domain_cap" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
        |  min(n_chars) AS min_kept_chars
        |FROM r WHERE rn <= 10
        |GROUP BY source ORDER BY source""".stripMargin,

    "qj8_deterministic_shuffle" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    ((doc_id % 1000000007) * 2654435761 + 12345) % 1000000007 AS h
        |  FROM documents),
        |r AS (SELECT doc_id, h,
        |    row_number() OVER (ORDER BY h, doc_id) AS pos
        |  FROM keyed)
        |SELECT CAST(h % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos * doc_id) AS BIGINT) AS ordsum
        |FROM r GROUP BY h % 8 ORDER BY shard""".stripMargin,

    "qh2_pii_redaction" ->
      """WITH t(id, txt) AS (VALUES
        |  (1, 'contact john.doe@example.com or jane_22@mail.co.uk today'),
        |  (2, 'server at 10.1.2.3 and backup at 192.168.77.200 rebooted'),
        |  (3, 'card 4111111111111111 expires soon, call +1 555 0100'),
        |  (4, 'no sensitive content in this row at all'),
        |  (5, 'mixed: bob@corp.io from 172.16.254.1 sent 123456789012')),
        |r1 AS (SELECT id, txt, regexp_replace(txt,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |  AS s1 FROM t),
        |r2 AS (SELECT id, txt, regexp_replace(s1,
        |  '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS s2 FROM r1)
        |SELECT CAST(id AS BIGINT) AS id,
        |  regexp_replace(s2, '[0-9]{9,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(txt,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(s2, '[0-9]{9,}')) AS BIGINT) AS n_num
        |FROM r2 ORDER BY id""".stripMargin,

    "qi3_decontamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |  [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]
        |   for i in range(1, len(w) - 4)])) AS g FROM d),
        |eg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
        |c AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (g)
        |      WHERE doc_id % 50 <> 0)
        |SELECT (SELECT count(*) FROM documents WHERE doc_id % 50 <> 0)
        |         AS n_train,
        |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_contaminated,
        |       (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM c)
        |         AS contam_id_sum""".stripMargin,

    // Same shingle derivation as qi3; the Bloom flags are gated by
    // their mathematical properties (no false negatives, bounded false
    // positives), the exact counts replay in full.
    "q1j_bloom_decontam" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |  [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]
        |   for i in range(1, len(w) - 4)])) AS g FROM d),
        |eg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
        |c AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (g)
        |      WHERE doc_id % 50 <> 0)
        |SELECT (SELECT count(*) FROM documents WHERE doc_id % 50 <> 0)
        |         AS n_train,
        |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_contaminated,
        |       (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM c)
        |         AS contam_id_sum,
        |       true AS no_false_negatives, true AS fp_budget_ok""".stripMargin,

    // Closed-form replay of the chunk walk: starts at every 24 words,
    // final window reaching the end stops the walk.
    "q1m_rag_chunking" ->
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |k AS (SELECT source, doc_id, n,
        |    CASE WHEN n <= 32 THEN 1
        |      ELSE 1 + CAST(ceil((n - 32) / 24.0) AS BIGINT) END AS nc
        |  FROM d),
        |w AS (SELECT source, doc_id, nc,
        |    list_sum([least(32, n - i * 24) for i in range(0, nc)])
        |      AS cw,
        |    list_max([least(32, n - i * 24) for i in range(0, nc)])
        |      AS mx
        |  FROM k)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS total_chunks,
        |  CAST(sum(cw) AS BIGINT) AS total_chunk_words,
        |  CAST(max(mx) AS BIGINT) AS max_chunk_words,
        |  true AS bounded
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    // Integer fixed-point replay of the temperature weights: identical
    // IEEE sqrt + round in both engines, then all-integer comparison.
    "q1i_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_src,
        |  CAST(round(sqrt(count(*)) * 1000) AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot,
        |  CAST(sum(n_src) AS BIGINT) // 2 AS t_half FROM c),
        |k AS (SELECT d.source, c.n_src, c.w,
        |  (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 1000000) * c.n_src * t.w_tot
        |    < c.w * t.t_half * 1000000 AS keep
        |  FROM documents d JOIN c USING (source) CROSS JOIN t)
        |SELECT source, CAST(max(n_src) AS BIGINT) AS n_src,
        |  CAST(max(w) AS BIGINT) AS w,
        |  CAST(count_if(keep) AS BIGINT) AS n_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "q0w_dsir_resample" ->
      """WITH words AS (
        |  SELECT doc_id, lang, w,
        |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents) t
        |  WHERE length(w) > 0),
        |dist AS (
        |  SELECT b, count(*) AS q_cnt,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p_cnt
        |  FROM words GROUP BY b),
        |tot AS (SELECT sum(q_cnt) AS q_tot, sum(p_cnt) AS p_tot FROM dist),
        |lw AS (
        |  SELECT b, ln((p_cnt + 1.0) / (p_tot + 256.0))
        |         - ln((q_cnt + 1.0) / (q_tot + 256.0)) AS lw
        |  FROM dist CROSS JOIN tot),
        |scored AS (
        |  SELECT w.doc_id, w.lang, sum(lw.lw) AS llr
        |  FROM words w JOIN lw ON w.b = lw.b
        |  GROUP BY w.doc_id, w.lang),
        |k AS (
        |  SELECT doc_id, lang, llr
        |  FROM scored
        |  ORDER BY llr - ln(-ln((((doc_id % 1000003 * 2654435761 + 7) % 1000003) + 1)
        |    / 1000004.0)) DESC, doc_id
        |  LIMIT 100)
        |SELECT doc_id, lang, CAST(round(llr, 4) AS DOUBLE) AS llr
        |FROM k ORDER BY doc_id""".stripMargin,

    "qi4_mixture_resample" ->
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents
        |           GROUP BY source),
        |m AS (SELECT min(n_src) AS n_min FROM c),
        |k AS (SELECT d.source, c.n_src,
        |  (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 1000000) * c.n_src < m.n_min * 1000000 AS keep
        |  FROM documents d JOIN c ON d.source = c.source CROSS JOIN m)
        |SELECT source, CAST(max(n_src) AS BIGINT) AS n_src,
        |  CAST(count_if(keep) AS BIGINT) AS n_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "qi5_sequence_packing" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |p AS (SELECT lang, toks, CAST(floor(coalesce(sum(toks) OVER (
        |    PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
        |  AS BIGINT) AS pack_id FROM d),
        |g AS (SELECT lang, pack_id, count(*) AS nd, sum(toks) AS fill
        |      FROM p GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_packs,
        |  CAST(sum(nd) AS BIGINT) AS n_docs,
        |  CAST(sum(fill) AS BIGINT) AS total_toks,
        |  CAST(max(fill) AS BIGINT) AS max_fill
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

    "qh3_repetition_signals" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 3),
        |b AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        |  FROM w, UNNEST(range(1, len(ws))) AS t(i)),
        |bc AS (
        |  SELECT doc_id, max(c) AS top_bigram_cnt
        |  FROM (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |t3 AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(ws) - 2 AS BIGINT) AS n_tri,
        |    CAST(len(list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS BIGINT)
        |      AS n_tri_d
        |  FROM w)
        |SELECT t3.doc_id, n_words, top_bigram_cnt,
        |  round(1.0 - CAST(n_tri_d AS DOUBLE) / n_tri, 6) AS dup_trigram_frac
        |FROM t3 JOIN bc ON bc.doc_id = t3.doc_id
        |ORDER BY t3.doc_id""".stripMargin
  )
}
