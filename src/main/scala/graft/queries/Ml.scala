package graft.queries

import org.apache.spark.sql.functions._

/** The presto-ml surface (`presto-ml/.../MLFunctions.java`,
  * `LearnRegressorAggregation.java`, `LearnClassifierAggregation.java`,
  * `EvaluateClassifierPredictionsAggregation.java`) exercised as verbatim
  * Presto SQL through the registry. Model family diverges by design —
  * closed-form OLS / nearest-centroid instead of libsvm (see
  * `functions/LinearModel.scala`) — so the oracles replay THIS engine's
  * documented math, not libsvm's.
  *
  * Scale: learning is one partial+final aggregation with bounded state
  * ((d+1)² doubles per group for OLS, #labels×d for the classifier), so
  * a 100 TB training pass shuffles one small buffer per group — the
  * whole point of swapping the reference's driver-iterative SVM for
  * associative sufficient statistics. Prediction is map-only against a
  * broadcast 1-row model.
  */
object Ml extends QueryPack {

  override def defs: Map[String, Q] = Map(
    // learn_regressor + regress + features, verbatim Presto SQL: per
    // returnflag, fit price ~ quantity and predict at fixed quantities.
    // The oracle replays the same normal equations closed-form; round(3)
    // absorbs the ~1e-10-relative FP divergence between solve orders.
    "qm0_learn_regressor" -> ((s, dir) => {
      s.sql(
        """SELECT l_returnflag,
          |  round(regress(features(10.0), m), 3) AS pred10,
          |  round(regress(features(25.0), m), 3) AS pred25,
          |  round(regress(features(40.0), m), 3) AS pred40
          |FROM (SELECT l_returnflag,
          |        learn_regressor(l_extendedprice, features(l_quantity)) AS m
          |      FROM lineitem GROUP BY l_returnflag) t
          |ORDER BY l_returnflag""".stripMargin)
    }),

    // Logistic-regression training (operators/Logistic.scala): 3 batch
    // GD iterations over document quality features, each ONE mergeable
    // aggregate pass (driver holds only the 3-dim weight vector). The
    // oracle replays training as chained gradient/weight CTEs — same
    // fold order, same lr — and the gate pins rounded weights, a
    // margin-guarded holdout accuracy (|score| > 1e-6 absorbs the
    // ~1e-14 cross-engine double drift), and log-loss monotonicity
    // (lr = 0.3 < 1/L for these feature magnitudes, so descent is
    // guaranteed, not hoped).
    "q0u_logistic_learn" -> ((s, dir) => {
      import graft.operators.Logistic
      val d = s.table("documents").select(
        lit(1.0).as("x1"), ((col("n_chars") - 300) / 100.0).as("x2"),
        ((col("doc_id") % 7) / 7.0).as("x3"),
        when(col("n_chars") + (col("doc_id") % 13) * 10 > 350, 1.0)
          .otherwise(0.0).as("y"))
      val xs = Seq(col("x1"), col("x2"), col("x3"))
      val y = col("y")
      val lr = 0.3
      var w = Array(0.0, 0.0, 0.0)
      // r18 OPT (guide §1.2): each iteration's gradient and the loss at
      // the SAME w ride one aggregation pass — 7 driver-sync jobs
      // (4 losses + 3 gradients) fold to 4, same doubles
      val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to 3) {
        val (g, loss) = Logistic.gradientAndLoss(d, xs, y, w)
        losses += loss
        w = w.zip(g).map { case (wi, gi) => wi - lr * gi }
      }
      losses += Logistic.logLoss(d, xs, y, w)
      val mono = losses.sliding(2).forall(p => p(1) <= p(0) + 1e-12)
      d.withColumn("s", Logistic.score(xs, w))
        .filter(abs(col("s")) > 1e-6)
        .agg(count(lit(1)).as("n_scored"),
          count(when((col("s") > 0) === (col("y") === 1.0), 1))
            .as("n_correct"))
        .withColumn("wb", round(lit(w(0)), 6))
        .withColumn("wx", round(lit(w(1)), 6))
        .withColumn("wn", round(lit(w(2)), 6))
        .withColumn("loss_monotone", lit(mono))
    }),

    // learn_classifier + classify: three well-separated synthetic
    // clusters keyed off c_custkey; train on the full table, classify a
    // held probe set. The oracle recomputes the nearest centroid
    // directly (per-label AVG + arg_min) — an independent replay of the
    // documented model. 100-unit cluster separation vs ~1e-12 centroid
    // FP noise keeps the argmin deterministic.
    "qm1_learn_classifier" -> ((s, dir) => {
      s.sql(
        """WITH feats AS (
          |  SELECT c_custkey, c_custkey % 3 AS lbl,
          |    cast(c_custkey % 3 * 100 + c_custkey % 7 AS double) AS f1,
          |    cast((2 - c_custkey % 3) * 50 + c_custkey % 5 AS double) AS f2
          |  FROM customer),
          |model AS (SELECT learn_classifier(lbl, features(f1, f2)) AS m
          |          FROM feats)
          |SELECT /*+ BROADCAST(model) */ c_custkey, lbl AS truth,
          |  classify(features(f1, f2), m) AS predicted
          |FROM feats CROSS JOIN model
          |WHERE c_custkey <= 20
          |ORDER BY c_custkey""".stripMargin)
    }),

    // evaluate_classifier_predictions: the reference's accuracy/
    // precision/recall report text, replayed character-for-character by
    // the oracle from the same confusion counts (labels sorted — the
    // reference's hash-set iteration order is unspecified).
    "qm2_evaluate_predictions" -> ((s, dir) => {
      s.sql(
        """SELECT evaluate_classifier_predictions(c_custkey % 2,
          |  CASE WHEN c_custkey % 7 < 5 THEN c_custkey % 2
          |       ELSE 1 - c_custkey % 2 END) AS report
          |FROM customer""".stripMargin)
    }))

  override def oracles: Map[String, String] = Map(
    "q0u_logistic_learn" ->
      """WITH d AS (SELECT 1.0 AS x1, (n_chars - 300)/100.0 AS x2,
        |    (doc_id % 7)/7.0 AS x3,
        |    CASE WHEN n_chars + (doc_id % 13) * 10 > 350
        |      THEN 1.0 ELSE 0.0 END AS y
        |  FROM documents),
        |g1 AS (SELECT avg((0.5 - y)*x1) AS a, avg((0.5 - y)*x2) AS b,
        |         avg((0.5 - y)*x3) AS c FROM d),
        |wt1 AS (SELECT -0.3*a AS wa, -0.3*b AS wb, -0.3*c AS wc FROM g1),
        |g2 AS (SELECT
        |    avg((1/(1+exp(-(wa*x1 + wb*x2 + wc*x3))) - y)*x1) AS a,
        |    avg((1/(1+exp(-(wa*x1 + wb*x2 + wc*x3))) - y)*x2) AS b,
        |    avg((1/(1+exp(-(wa*x1 + wb*x2 + wc*x3))) - y)*x3) AS c
        |  FROM d CROSS JOIN wt1),
        |wt2 AS (SELECT wa - 0.3*a AS wa, wb - 0.3*b AS wb,
        |          wc - 0.3*c AS wc FROM wt1 CROSS JOIN g2),
        |g3 AS (SELECT
        |    avg((1/(1+exp(-(wa*x1 + wb*x2 + wc*x3))) - y)*x1) AS a,
        |    avg((1/(1+exp(-(wa*x1 + wb*x2 + wc*x3))) - y)*x2) AS b,
        |    avg((1/(1+exp(-(wa*x1 + wb*x2 + wc*x3))) - y)*x3) AS c
        |  FROM d CROSS JOIN wt2),
        |wt3 AS (SELECT wa - 0.3*a AS wa, wb - 0.3*b AS wb,
        |          wc - 0.3*c AS wc FROM wt2 CROSS JOIN g3),
        |sc AS (SELECT y, wa*x1 + wb*x2 + wc*x3 AS s
        |       FROM d CROSS JOIN wt3)
        |SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(count_if((s > 0) = (y = 1.0)) AS BIGINT) AS n_correct,
        |  round((SELECT wa FROM wt3), 6) AS wb,
        |  round((SELECT wb FROM wt3), 6) AS wx,
        |  round((SELECT wc FROM wt3), 6) AS wn,
        |  TRUE AS loss_monotone
        |FROM sc WHERE abs(s) > 0.000001""".stripMargin,

    "qm0_learn_regressor" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    cast(count(*) AS double) AS n,
        |    cast(sum(l_quantity) AS double) AS sx,
        |    cast(sum(l_extendedprice) AS double) AS sy,
        |    cast(sum(l_quantity * l_quantity) AS double) AS sxx,
        |    cast(sum(l_quantity * l_extendedprice) AS double) AS sxy
        |  FROM lineitem GROUP BY l_returnflag),
        |w AS (
        |  SELECT l_returnflag,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |      AS icpt
        |  FROM s)
        |SELECT l_returnflag,
        |  round(icpt + slope * 10, 3) AS pred10,
        |  round(icpt + slope * 25, 3) AS pred25,
        |  round(icpt + slope * 40, 3) AS pred40
        |FROM w ORDER BY l_returnflag""".stripMargin,
    "qm1_learn_classifier" ->
      """WITH feats AS (
        |  SELECT c_custkey, c_custkey % 3 AS lbl,
        |    cast(c_custkey % 3 * 100 + c_custkey % 7 AS double) AS f1,
        |    cast((2 - c_custkey % 3) * 50 + c_custkey % 5 AS double) AS f2
        |  FROM customer),
        |cent AS (SELECT lbl AS clbl, avg(f1) AS a1, avg(f2) AS a2
        |         FROM feats GROUP BY lbl),
        |probe AS (SELECT * FROM feats WHERE c_custkey <= 20),
        |d AS (SELECT p.c_custkey, p.lbl, c.clbl,
        |        (p.f1 - c.a1) * (p.f1 - c.a1) +
        |        (p.f2 - c.a2) * (p.f2 - c.a2) AS dd
        |      FROM probe p CROSS JOIN cent c)
        |SELECT c_custkey, cast(lbl AS bigint) AS truth,
        |  cast(arg_min(clbl, dd) AS bigint) AS predicted
        |FROM d GROUP BY c_custkey, lbl ORDER BY c_custkey""".stripMargin,
    "qm2_evaluate_predictions" ->
      """WITH t AS (
        |  SELECT c_custkey % 2 AS truth,
        |    CASE WHEN c_custkey % 7 < 5 THEN c_custkey % 2
        |         ELSE 1 - c_custkey % 2 END AS pred
        |  FROM customer),
        |c AS (SELECT
        |    cast(sum(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS bigint)
        |      AS correct,
        |    cast(count(*) AS bigint) AS total,
        |    cast(sum(CASE WHEN truth = pred AND truth = 0 THEN 1 ELSE 0 END)
        |      AS bigint) AS tp0,
        |    cast(sum(CASE WHEN truth = pred AND truth = 1 THEN 1 ELSE 0 END)
        |      AS bigint) AS tp1,
        |    cast(sum(CASE WHEN truth <> pred AND pred = 0 THEN 1 ELSE 0 END)
        |      AS bigint) AS fp0,
        |    cast(sum(CASE WHEN truth <> pred AND pred = 1 THEN 1 ELSE 0 END)
        |      AS bigint) AS fp1,
        |    cast(sum(CASE WHEN truth <> pred AND truth = 0 THEN 1 ELSE 0 END)
        |      AS bigint) AS fn0,
        |    cast(sum(CASE WHEN truth <> pred AND truth = 1 THEN 1 ELSE 0 END)
        |      AS bigint) AS fn1
        |  FROM t)
        |SELECT printf('Accuracy: %d/%d (%.2f%%)', correct, total,
        |    100.0 * correct / total) || chr(10) ||
        |  'Class ''0''' || chr(10) ||
        |  printf('Precision: %d/%d (%.2f%%)', tp0, tp0 + fp0,
        |    100.0 * tp0 / (tp0 + fp0)) || chr(10) ||
        |  printf('Recall: %d/%d (%.2f%%)', tp0, tp0 + fn0,
        |    100.0 * tp0 / (tp0 + fn0)) || chr(10) ||
        |  'Class ''1''' || chr(10) ||
        |  printf('Precision: %d/%d (%.2f%%)', tp1, tp1 + fp1,
        |    100.0 * tp1 / (tp1 + fp1)) || chr(10) ||
        |  printf('Recall: %d/%d (%.2f%%)', tp1, tp1 + fn1,
        |    100.0 * tp1 / (tp1 + fn1)) || chr(10) AS report
        |FROM c""".stripMargin)
}
