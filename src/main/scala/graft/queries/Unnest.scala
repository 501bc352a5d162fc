package graft.queries

import org.apache.spark.sql.functions._

/** Unnest / lateral generators, inline VALUES, sampling, and unique-id
  * assignment — the reference's generator surface.
  *
  * Reference: `presto-main/.../operator/unnest/UnnestOperator.java:48`
  * (arrays, maps, zipped multi-column, WITH ORDINALITY),
  * `operator/ValuesOperator.java:27`, `plan/SampleNode.java`,
  * `operator/AssignUniqueIdOperator.java:29`.
  *
  * Spark-first: `explode`/`posexplode` are Catalyst `Generate` nodes —
  * pipelined, no shuffle, fully parallel per input partition; at 100 TB an
  * unnest is scan-speed row expansion. Zipped unnest composes `zip_with` +
  * `posexplode` (Presto zips implicitly when UNNEST gets several arrays).
  */
object Unnest extends QueryPack {

  override def defs: Map[String, Q] = Map(
    // UNNEST WITH ORDINALITY over a real array column (float widening to
    // double is exact, so values hash identically).
    "q80_unnest_ordinality" -> ((s, dir) =>
      s.table("embeddings").filter(col("vec_id") <= 20)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(
          col("vec_id"),
          (col("pos0") + 1).cast("long").as("ord"),
          col("v").cast("double").as("val"))
        .orderBy(col("vec_id"), col("ord"))),

    // LATERAL-style word expansion + re-aggregation (the canonical
    // token-count shape for a 100 TB corpus: generate → partial agg →
    // final agg, one shuffle).
    "q81_word_unnest" -> ((s, dir) =>
      s.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)),

    // Multi-column zipped unnest (Presto UNNEST(a, b) semantics) via
    // zip_with + posexplode.
    "q82_zip_unnest" -> ((s, dir) =>
      s.table("embeddings").filter(col("vec_id") <= 10)
        .select(col("vec_id"),
          expr("""posexplode(zip_with(slice(embedding, 1, 4),
                 slice(reverse(embedding), 1, 4),
                 (x, y) -> struct(x AS a, y AS b)))"""))
        .select(
          col("vec_id"),
          (col("pos") + 1).cast("long").as("ord"),
          col("col.a").cast("double").as("a"),
          col("col.b").cast("double").as("b"),
          (col("col.a").cast("double") * col("col.b").cast("double")).as("ab"))
        .orderBy(col("vec_id"), col("ord"))),

    // Inline literal rows (reference: ValuesOperator → Spark LocalTableScan).
    // Array-function family breadth (Presto ArrayFunctions: position,
    // overlap, slice, flatten, remove) over the document token arrays.
    "q7b_array_funcs" -> ((s, dir) => {
      s.table("documents")
        .filter(col("doc_id") < 100)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          array_position(col("w"), "the").as("pos_the"),
          arrays_overlap(col("w"),
            array(lit("join"), lit("merge"))).as("has_join"),
          array_join(slice(col("w"), 3, 4), "_").as("mid"),
          size(flatten(array(col("w"), col("w")))).cast("long").as("flat_n"),
          size(array_remove(col("w"), "the")).cast("long").as("n_no_the"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"),
          // Presto ngrams() via the registry (bigrams, serialized for
          // the gate's array-free row hashing)
          expr("array_join(transform(ngrams(w, 2), g -> array_join(g, ' ')), ',')")
            .as("bigrams_str"),
          // Presto reduce() via the registry: total character count
          expr("reduce(w, 0L, (s, x) -> s + length(x), s -> s)")
            .as("red_chars"))
        .orderBy(col("doc_id"))
    }),

    "q83_values" -> ((s, dir) =>
      s.sql("""SELECT CAST(id AS BIGINT) AS id, tag, CAST(id * 2 AS BIGINT) AS twice
               FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(id, tag)
               ORDER BY id""")),

    // Bernoulli TABLESAMPLE + AssignUniqueId. The sampled set is
    // engine-specific and monotonically_increasing_id is partition-
    // dependent, so the raw output can never hash-match an oracle.
    // Instead the query emits deterministic invariants the oracle CAN
    // check: total corpus size, the sampled count inside a 5-sigma
    // binomial envelope around p=0.5, uid distinctness (the whole point
    // of AssignUniqueId, `AssignUniqueIdOperator.java:29`), and the
    // sample being a subset of the corpus (anti-join emptiness). A
    // violated invariant flips a boolean and fails the gate loudly.
    "q84_sample_unique_id" -> ((s, dir) => {
      val docs = s.table("documents")
      val sample = docs.sample(withReplacement = false, 0.5, 42L)
        .select(col("doc_id"), monotonically_increasing_id().as("uid"))
      val stats = sample
        .join(docs.select(col("doc_id").as("d2")),
          col("doc_id") === col("d2"), "left")
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct(col("uid")).as("n_uids"),
          sum(when(col("d2").isNull, 1L).otherwise(0L)).as("n_orphans"))
      docs.agg(count(lit(1)).as("total_docs")).crossJoin(stats)
        .select(col("total_docs"),
          (abs(col("n_sampled") - col("total_docs") / 2.0) <=
            lit(5.0) * sqrt(col("total_docs")) / 2.0).as("sample_in_bounds"),
          (col("n_uids") === col("n_sampled")).as("uids_distinct"),
          (col("n_orphans") === 0L).as("sampled_subset"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q80_unnest_ordinality" ->
      """SELECT vec_id,
        | CAST(generate_subscripts(embedding, 1) AS BIGINT) AS ord,
        | CAST(unnest(embedding) AS DOUBLE) AS val
        |FROM embeddings WHERE vec_id <= 20 ORDER BY vec_id, ord""".stripMargin,

    "q81_word_unnest" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,

    "q82_zip_unnest" ->
      """SELECT vec_id, CAST(i AS BIGINT) AS ord,
        | CAST(embedding[i] AS DOUBLE) AS a,
        | CAST(embedding[len(embedding) - i + 1] AS DOUBLE) AS b,
        | CAST(embedding[i] AS DOUBLE)
        |   * CAST(embedding[len(embedding) - i + 1] AS DOUBLE) AS ab
        |FROM embeddings CROSS JOIN UNNEST([1, 2, 3, 4]) AS t(i)
        |WHERE vec_id <= 10 ORDER BY vec_id, ord""".stripMargin,

    "q7b_array_funcs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST(coalesce(list_position(w, 'the'), 0) AS BIGINT) AS pos_the,
        |  len(list_intersect(w, ['join', 'merge'])) > 0 AS has_join,
        |  array_to_string(w[3:6], '_') AS mid,
        |  CAST(2 * len(w) AS BIGINT) AS flat_n,
        |  CAST(len(list_filter(w, x -> x <> 'the')) AS BIGINT) AS n_no_the,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(w) >= 2
        |       THEN array_to_string([array_to_string(w[i:i+1], ' ')
        |                             for i in range(1, len(w))], ',')
        |       ELSE array_to_string(w, ' ') END AS bigrams_str,
        |  CAST(len(array_to_string(w, '')) AS BIGINT) AS red_chars
        |FROM t ORDER BY doc_id""".stripMargin,

    "q83_values" ->
      """SELECT CAST(id AS BIGINT) AS id, tag, CAST(id * 2 AS BIGINT) AS twice
        |FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(id, tag)
        |ORDER BY id""".stripMargin,

    // The invariants hold for any correct sampler, so the oracle states
    // them as constants over the same corpus size.
    "q84_sample_unique_id" ->
      """SELECT count(*) AS total_docs,
        |  true AS sample_in_bounds,
        |  true AS uids_distinct,
        |  true AS sampled_subset
        |FROM documents""".stripMargin
  )
}
