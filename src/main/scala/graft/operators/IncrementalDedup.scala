package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (cross-run) exact dedup against a PERSISTED fingerprint
  * index — the third leg of the dedup family: batch (`queries/Dedup
  * .scala` — one corpus, one job), streaming (`streaming/
  * StreamingDedup`/`StreamingNearDup` — operator state inside one
  * query), and THIS: ingestion that arrives in repeated batch runs
  * (a daily crawl delta), where the "already admitted" set must
  * outlive any single job as a TABLE, not stream state.
  *
  * Semantics (deterministic): a delta document is ADMITTED iff its
  * content fingerprint is absent from the index AND it is the first
  * (smallest id) among delta documents sharing that fingerprint.
  * [[ingest]] then appends the admitted fingerprints, so re-running
  * the same delta admits nothing — idempotent replay, the property an
  * at-least-once ingestion pipeline needs after a partial failure.
  *
  * Scale: the index is a fingerprint-only table (16-byte md5 + id —
  * KBs per million documents ingested, readable with column pruning);
  * suppression is ONE left-anti shuffle join keyed by the fingerprint
  * plus a within-delta first-wins window on the same key — no text
  * ever joins, no pair expansion. At 100 TB/day the index join's
  * build side is the DELTA's distinct fingerprints, and a Bloom
  * pre-filter of the index (the decontamination gates' map-side
  * pattern, `queries/Curation.scala`) cuts the shuffle further; both
  * sides partition by the same key, so the join co-locates under
  * bucketing. The near-dup leg ([[admitNearDup]]/[[ingestNearDup]])
  * runs the same algebra over MinHash band keys.
  *
  * Reference grounding: the reference ships the primitives (md5/
  * checksum scalars, INSERT-append tables); the composed
  * ingest-against-index pattern is standard warehouse dedup run on
  * those primitives.
  */
object IncrementalDedup {

  /** (idCol, fp) — the content fingerprint relation of a batch. NULL
    * text fingerprints as empty content (coalesce): a NULL fp would
    * never match the anti-join, so a NULL-text doc would be
    * re-admitted on every replay and grow the index unboundedly. */
  def fingerprints(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      md5(coalesce(col(textCol), lit(""))).as("fp"))

  /** Admitted subset of `delta`: fingerprint absent from `index`
    * (left-anti join on fp) and first-by-id within the delta. `index`
    * must have a column `fp`. Returns (idCol, fp). */
  def admit(delta: DataFrame, index: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fps = fingerprints(delta, idCol, textCol)
    val firstInDelta = fps
      .withColumn("graft_inc_rn",
        row_number().over(Window.partitionBy(col("fp"))
          .orderBy(col(idCol))))
      .filter(col("graft_inc_rn") === 1)
      .drop("graft_inc_rn")
    firstInDelta.join(index.select(col("fp")), Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** The index read both ingest legs share: an absent path (the first
    * run) is an empty index. Message-matched in ONE place so the two
    * legs cannot silently diverge on a Spark error-text change. */
  private def readIndexOrEmpty(spark: SparkSession, indexPath: String)(
      empty: => DataFrame): DataFrame =
    try graft.Tables.readParquet(spark, indexPath)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") ||
            e.getMessage.toLowerCase.contains("path does not exist") =>
        empty
    }

  // near-dup admission core: (per-doc admission verdicts, the fresh
  // band rows) — ingestNearDup derives its claims from `fresh` instead
  // of rebuilding the banding pipeline a second time
  private def nearDupCore(delta: DataFrame, index: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      k: Int, precomputedKeys: Option[DataFrame] = None,
      materializeFresh: Boolean = false): (DataFrame, DataFrame) = {
    val keys = precomputedKeys.getOrElse(
      graft.streaming.StreamingNearDup.bandKeys(
        delta.select(col(idCol), col(textCol)), textCol,
        numHashes, bands, k))
    val anti = keys.join(index.select(col("band"), col("band_key")),
      Seq("band", "band_key"), "left_anti")
    // two consumers (claims write + admission verdicts) otherwise run
    // the anti-join twice — r18 OPT, guide §1.2. LAZY checkpoint: the
    // claims write is the first consumer and doubles as the
    // materialization job, so no separate checkpoint job runs.
    val fresh =
      if (materializeFresh) anti.localCheckpoint(eager = false) else anti
    val wB = Window.partitionBy(col("band"), col("band_key"))
    // per doc: bands surviving the index (fresh) that it also claims
    // first within the delta; kept iff ALL its bands qualify
    val perDoc = fresh
      .withColumn("graft_nd_fid", min(col(idCol)).over(wB))
      .groupBy(col(idCol))
      .agg(sum(when(col("graft_nd_fid") === col(idCol), 1L)
        .otherwise(0L)).as("first_bands"))
    val nBands = keys.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bands"))
    val admitted = delta.select(col(idCol))
      .join(nBands, Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        coalesce(col("first_bands"), lit(0L)).as("first_bands"),
        (coalesce(col("n_bands"), lit(0L)) ===
          coalesce(col("first_bands"), lit(0L))).as("kept"))
    (admitted, fresh)
  }

  /** NEAR-dup admission against a persisted band-claim index — the
    * incremental leg of the online-LSH family (completing the dedup
    * matrix: exact and near-dup, each batch / streaming / cross-run).
    * `index` holds previously claimed (band, band_key) rows. A delta
    * document is admitted iff NONE of its band keys is indexed AND it
    * claims every one of its bands first within the delta (min id) —
    * the same insert-all-bands algebra as
    * [[graft.streaming.StreamingNearDup]], against table state.
    * Documents with no shingles (NULL or < k-word text) carry no
    * bands and are admitted. Returns (idCol, n_bands, first_bands,
    * kept). Scale: |delta|×bands small rows, one anti-join + one
    * window on (band, band_key). */
  def admitNearDup(delta: DataFrame, index: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 12, bands: Int = 4,
      k: Int = 3): DataFrame =
    nearDupCore(delta, index, idCol, textCol, numHashes, bands, k)._1

  /** One near-dup ingest run against the band-claim index at
    * `indexPath`: admit, then APPEND the fresh claims. Replay of a
    * delta re-admits nothing EXCEPT shingle-less documents — they
    * have no bands for the index to remember and are admitted every
    * run by the documented no-near-dup-evidence convention (a caller
    * needing exact-once on those routes them through [[ingest]]'s
    * fingerprint leg instead). Same composition hazard as [[ingest]]
    * (consume each run's result before combining runs in one plan);
    * the banding pipeline is built once per run (claims derive from
    * the admission pass's fresh rows), and the band-key relation is
    * MATERIALIZED (localCheckpoint — |delta|×bands small rows) so the
    * claims write and the caller's later action on the returned plan
    * hash each shingle once, not twice (r17: the double execution was
    * real, ~0.4 s/run at sf0.1). Callers ingesting several deltas
    * derived from one corpus can go further and pass
    * `precomputedKeys` (= [[graft.streaming.StreamingNearDup.bandKeys]]
    * of the delta, row-local hence filterable from a shared pass). */
  def ingestNearDup(spark: SparkSession, indexPath: String,
      delta: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 12, bands: Int = 4, k: Int = 3,
      precomputedKeys: Option[DataFrame] = None,
      indexRelation: Option[DataFrame] = None): DataFrame =
    ingestNearDupWithClaims(spark, indexPath, delta, idCol, textCol,
      numHashes, bands, k, precomputedKeys, indexRelation)._1

  /** [[ingestNearDup]] that also returns the CLAIMS it appended, as a
    * materialized relation. A caller chaining several runs can pass the
    * accumulated claims of runs 1..k as run k+1's `indexRelation`: the
    * index is append-only with a single writer, so its content before
    * run k+1 is exactly that union — the read is provably identical to
    * re-listing the parquet path, without the per-run snapshot
    * re-read (r18 OPT, guide §1.2). The appends themselves still
    * happen — the persisted table is the operator's contract. */
  def ingestNearDupWithClaims(spark: SparkSession, indexPath: String,
      delta: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 12, bands: Int = 4, k: Int = 3,
      precomputedKeys: Option[DataFrame] = None,
      indexRelation: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val index = indexRelation.getOrElse(
      readIndexOrEmpty(spark, indexPath) {
        import spark.implicits._
        Seq.empty[(Int, String)].toDF("band", "band_key")
      }).select(col("band"), col("band_key"))
    val keys = precomputedKeys.getOrElse(
      graft.streaming.StreamingNearDup.bandKeys(
        delta.select(col(idCol), col(textCol)), textCol,
        numHashes, bands, k).localCheckpoint())
    val (admitted, fresh) = nearDupCore(delta, index, idCol, textCol,
      numHashes, bands, k, Some(keys), materializeFresh = true)
    // insert-all: EVERY fresh (band, band_key) becomes claimed — a
    // dropped document's other bands claim too, exactly like the
    // streaming arm's dropDuplicates state and the q3x batch algebra
    // (a later delta near-dupping a dropped doc must still drop)
    val claims = fresh.select(col("band"), col("band_key")).distinct()
    claims.write.mode("append").parquet(indexPath)
    (admitted, claims)
  }

  /** One ingest run: admit `delta` against the parquet index at
    * `indexPath` (an absent path = empty index, the first run), then
    * APPEND the admitted fingerprints. Returns the admitted (idCol,
    * fp) rows. Idempotent: replaying a delta admits nothing new
    * (every document has a non-NULL fingerprint — see
    * [[fingerprints]]).
    *
    * The returned relation is MATERIALIZED (localCheckpoint): the
    * write and any later caller action execute the admission pipeline
    * once, not twice (r18 OPT, guide §1.2), and the former composition
    * hazard — Spark's exchange reuse canonicalizing two same-path index
    * scans with DIFFERENT listing snapshots as equal — cannot arise,
    * because the returned plan holds no index scan at all.
    *
    * `indexRelation`: a caller chaining several runs can pass the union
    * of the previous runs' returned fingerprints as the index — the
    * index is append-only with a single writer, so its content before
    * run k+1 is exactly that union; provably identical to re-reading
    * the path, without the per-run snapshot re-read. The append still
    * happens — the persisted table is the operator's contract. */
  def ingest(spark: SparkSession, indexPath: String, delta: DataFrame,
      idCol: String, textCol: String,
      indexRelation: Option[DataFrame] = None): DataFrame = {
    val index = indexRelation.getOrElse(
      readIndexOrEmpty(spark, indexPath) {
        import spark.implicits._
        Seq.empty[String].toDF("fp")
      }).select(col("fp"))
    // the parquet read snapshotted its file listing when the DataFrame
    // was created, so the append below is invisible to THIS plan: the
    // checkpoint computes against the PRE-ingest index — correct and
    // collect-free (no driver-side materialization of a possibly-
    // fact-sized batch)
    // LAZY checkpoint: the append below is the first consumer and
    // doubles as the materialization job — one job per run, not two
    val admitted = admit(delta, index, idCol, textCol)
      .localCheckpoint(eager = false)
    admitted.write.mode("append").parquet(indexPath)
    admitted
  }
}
