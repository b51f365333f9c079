package graft.suite

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables => T}
import graft.ml.{PipelineParams, Scorer, XgbModel, XgbScoreExpr, XgbSql}
import graft.queries.Reports

/** DuckDB-oracle coverage for the ML numeric core (SURVEY §2.5 M1-M5): the
  * impute → standardize → PCA(14) → KMeans-assign pipeline is pure
  * arithmetic over broadcast constants, so its DuckDB mirror is generated
  * from the SAME PipelineParams instance with the same left-fold operation
  * order — doubles are bit-identical before the final rounding (the q27
  * unrolled-fold pattern).
  *
  * The 19-column feature frame is synthesized deterministically from the
  * events table: age/sex from user_id arithmetic, the 17 lab columns fed
  * round-robin from the 5-analyte latest-per-key pivot (missing pivots →
  * NULL → exercises M1 imputation on real gaps).
  */
object MlQueries {

  /** Constants rendered as CAST('<shortest-repr>' AS DOUBLE): text→double
    * parsing is correctly rounded on both engines, whereas a bare SQL
    * numeric literal becomes DECIMAL in DuckDB and can double-round on the
    * way to float64 for 15+ digit constants.
    */
  private def d(x: Double): String = s"CAST('$x' AS DOUBLE)"

  private val q37 = GQuery(
    (s, dir) => {
      val p = PipelineParams.default
      val piv = Reports.pivotLatest(T.events(s, dir), "user_id", "event_type",
        "value", "ts", "event_id",
        Seq("v0" -> "click", "v1" -> "view", "v2" -> "purchase",
          "v3" -> "error", "v4" -> "signup"))
      val base = piv
        .withColumn("age", (col("user_id") % 60 + 20).cast("double"))
        .withColumn("sex", (col("user_id") % 2).cast("double"))
      val withLabs = p.features.drop(2).zipWithIndex.foldLeft(base) {
        case (acc, (f, j)) => acc.withColumn(f, col(s"v${j % 5}"))
      }
      val features = withLabs.select(col("user_id") +: p.features.map(col): _*)
      Scorer.addCluster(Scorer.impute(features, p), p, keepY = true)
        .select(col("user_id"), col("cluster").cast("long").as("cluster"),
          round(element_at(col("pca_y"), 1), 6).as("pca1"))
        .orderBy(col("user_id"))
    },
    Some {
      val p = PipelineParams.default
      // imputed feature expressions, keyed by feature name
      val srcExpr: Map[String, String] =
        (Seq("age" -> "CAST(user_id % 60 + 20 AS DOUBLE)",
          "sex" -> "CAST(user_id % 2 AS DOUBLE)") ++
          p.features.drop(2).zipWithIndex.map { case (f, j) => f -> s"v${j % 5}" }).toMap
      val imputed = p.features.zipWithIndex.map { case (f, j) =>
        s"COALESCE(${srcExpr(f)}, ${d(p.imputerMedians(j))}) AS $f"
      }.mkString(", ")
      // scaled_j = (x_j - mu_j) / sigma_j - pm_j  (M2 + PCA centering)
      val scaled = p.features.zipWithIndex.map { case (f, j) =>
        s"(($f - ${d(p.scalerMean(j))}) / ${d(p.scalerScale(j))} - ${d(p.pcaMean(j))})"
      }
      // y_i = left-fold sum of scaled_j * C[i][j]  (same order as Scorer's reduce)
      val ys = p.pcaComponents.zipWithIndex.map { case (comp, i) =>
        val sum = comp.zip(scaled).map { case (c, sc) => s"$sc * ${d(c)}" }
          .reduceLeft((a, b) => s"($a + $b)")
        s"$sum AS y${i + 1}"
      }.mkString(", ")
      // dist2_k = left-fold sum of (y_i - c_ki)^2
      val dists = p.kmeansCenters.zipWithIndex.map { case (center, k) =>
        val sum = center.zipWithIndex.map { case (c, i) =>
          s"((y${i + 1} - ${d(c)}) * (y${i + 1} - ${d(c)}))"
        }.reduceLeft((a, b) => s"($a + $b)")
        s"$sum AS dist$k"
      }.mkString(", ")
      val distCols = p.kmeansCenters.indices.map(k => s"dist$k").mkString(", ")
      val minD = (0 until p.kmeansCenters.length).map(k => s"dist$k")
        .reduceLeft((a, b) => s"LEAST($a, $b)")
      val armK = (0 until p.kmeansCenters.length)
        .map(k => s"WHEN dist$k = mind THEN $k").mkString(" ")
      s"""WITH latest AS (
        SELECT user_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase', 'error', 'signup')),
      pvt AS (
        SELECT user_id,
          MAX(CASE WHEN event_type = 'click' THEN TRY_CAST(value AS DOUBLE) END) AS v0,
          MAX(CASE WHEN event_type = 'view' THEN TRY_CAST(value AS DOUBLE) END) AS v1,
          MAX(CASE WHEN event_type = 'purchase' THEN TRY_CAST(value AS DOUBLE) END) AS v2,
          MAX(CASE WHEN event_type = 'error' THEN TRY_CAST(value AS DOUBLE) END) AS v3,
          MAX(CASE WHEN event_type = 'signup' THEN TRY_CAST(value AS DOUBLE) END) AS v4
        FROM latest WHERE rn = 1 GROUP BY user_id),
      feat AS (SELECT user_id, $imputed FROM pvt),
      proj AS (SELECT user_id, $ys FROM feat),
      dst AS (SELECT user_id, y1, $dists FROM proj),
      m AS (SELECT user_id, y1, $distCols, $minD AS mind FROM dst)
      SELECT user_id,
        CAST(CASE $armK END AS BIGINT) AS cluster,
        ROUND(y1, 6) AS pca1
      FROM m ORDER BY user_id"""
    })

  /** q47: the M6 XGB scorer + M7 risk bands under a FULL DuckDB oracle —
    * the reference's smallest ensemble (xgb_ckd_model.json, 400 trees × 14
    * features) compiled to staged CASE-WHEN SQL by [[XgbSql]]. Closes the
    * round-3 verdict's "M6 is spec-only" gap: until now the scorer was
    * pinned only by the 204-probe golden file.
    *
    * Features are synthesized deterministically from `customer` in model
    * column order (age/sex/strata from custkey arithmetic, the 11 lab
    * columns as affine maps of c_acctbal into clinically-plausible ranges)
    * — non-NULL by construction, as [[XgbSql.marginCtes]] requires.
    *
    * The query emits the raw MARGIN, not the sigmoid probability, and maps
    * the M7 band thresholds into margin space (prob<0.25 ⇔ margin<ln(1/3),
    * prob<0.5 ⇔ margin<0 — exact by monotonicity): bit-identical
    * cross-engine where the probability would expose libm `exp` ULPs.
    */
  // env → sibling-of-checkout → driver-host absolute (the artifact
  // lives OUTSIDE the repo, so a foreign checkout finds it next door
  // or points GRAFT_XGB_CKD_MODEL at it)
  private val ckdModelPath = graft.core.Paths.resolve("GRAFT_XGB_CKD_MODEL",
    Seq("../reference/xgb_ckd_model.json"), None,
    "/root/reference/xgb_ckd_model.json")
  private lazy val ckdModel = XgbModel.load(ckdModelPath)
  private val labScales = Vector(45.0, 200.0, 2.6, 105.0, 240.0, 8.0, 80.0, 30.0, 12.0, 210.0, 450.0)
  private val labOffsets = Vector(5.0, 100.0, 0.4, 15.0, 60.0, 4.0, 20.0, 25.0, 6.0, 40.0, 50.0)
  private val lowBandCut = math.log(1.0 / 3.0)

  // building the oracle SQL loads the model artifact; GQuery defers it to
  // first oracle access, so registry construction stays host-independent
  // — the model is only loaded when q47/q48 run or their oracle is read
  // (override: GRAFT_XGB_CKD_MODEL)
  private lazy val q47 = GQuery(
    (s, dir) => {
      val bc = s.sparkContext.broadcast(ckdModel)
      val norm = (col("c_acctbal") + lit(1000.0)) / lit(11000.0)
      val feats: Seq[Column] =
        Seq((col("c_custkey") % 60 + 20).cast("double"),
          (col("c_custkey") % 2).cast("double")) ++
        labScales.zip(labOffsets).map { case (sc, off) => norm * sc + off } ++
        Seq((col("c_custkey") % 4).cast("double"))
      T.customer(s, dir)
        .withColumn("margin", XgbScoreExpr.margin(array(feats: _*), bc))
        .select(col("c_custkey").as("id"), col("margin"),
          (col("margin") > 0.0).cast("int").as("ckd_label"),
          when(col("margin") < lowBandCut, "Low")
            .when(col("margin") < 0.0, "Moderate")
            .otherwise("High").as("risk_band"))
        .orderBy("id")
    },
    Some {
      val featureExprs =
        Seq("CAST(c_custkey % 60 + 20 AS DOUBLE)",
          "CAST(c_custkey % 2 AS DOUBLE)") ++
        labScales.zip(labOffsets).map { case (sc, off) =>
          s"(((c_acctbal + ${d(1000.0)}) / ${d(11000.0)}) * ${d(sc)} + ${d(off)})"
        } ++
        Seq("CAST(c_custkey % 4 AS DOUBLE)")
      val (ctes, last, m) = XgbSql.marginCtes(ckdModel, "c_custkey", featureExprs, "customer")
      s"""WITH $ctes
      SELECT id, $m AS margin,
        CAST($m > ${d(0.0)} AS INT) AS ckd_label,
        CASE WHEN $m < ${d(lowBandCut)} THEN 'Low'
             WHEN $m < ${d(0.0)} THEN 'Moderate'
             ELSE 'High' END AS risk_band
      FROM $last ORDER BY id"""
    })

  /** q48: M8 doctor-question rules (generate_doctor_questions,
    * test.py:196-239) under a DuckDB oracle, through the REAL
    * [[Scorer.questionFlags]] surface: ckd_prob comes from the actual M6
    * sigmoid scorer; the other three probs are absent (NULL — the
    * reference's own predm situation), so their flags reduce to the raw-lab
    * arms. Labs are synthesized affine maps of c_acctbal with periodic
    * NULLs (custkey mod k) to exercise the pd.notna guards on every rule.
    *
    * Oracle boundary note: the probability arm `coalesce(prob,0) >= 0.5`
    * is mirrored as `margin >= 0` (exact by monotonicity of the sigmoid;
    * a cross-engine divergence would need |margin| < ~1e-16, while these
    * ensembles produce margins of order 1e-1..1e1).
    */
  private lazy val q48 = GQuery(
    (s, dir) => {
      val bc = s.sparkContext.broadcast(ckdModel)
      val norm = (col("c_acctbal") + lit(1000.0)) / lit(11000.0)
      val feats: Seq[Column] =
        Seq((col("c_custkey") % 60 + 20).cast("double"),
          (col("c_custkey") % 2).cast("double")) ++
        labScales.zip(labOffsets).map { case (sc, off) => norm * sc + off } ++
        Seq((col("c_custkey") % 4).cast("double"))
      def lab(modK: Int, scale: Double, off: Double): Column =
        when(col("c_custkey") % modK === 0, lit(null).cast("double"))
          .otherwise(norm * scale + off)
      val base = T.customer(s, dir)
        .withColumn("hba1c_latest", lab(7, 8.0, 4.0))
        .withColumn("ldl_latest", lab(5, 200.0, 40.0))
        .withColumn("creatinine_latest", lab(3, 2.6, 0.4))
        .withColumn("egfr_latest", lab(11, 105.0, 15.0))
        .withColumn("hemoglobin_latest", lab(2, 12.0, 6.0))
        .withColumn("ckd_prob", XgbScoreExpr.score(array(feats: _*), bc))
        .withColumn("predm_prob", lit(null).cast("double"))
        .withColumn("cvd_prob", lit(null).cast("double"))
        .withColumn("anemia_prob", lit(null).cast("double"))
      Scorer.questionFlags(base)
        .select(col("c_custkey").as("id"),
          col("q_prediabetes").cast("int").as("q_prediabetes"),
          col("q_cvd").cast("int").as("q_cvd"),
          col("q_ckd").cast("int").as("q_ckd"),
          col("q_anemia").cast("int").as("q_anemia"))
        .orderBy("id")
    },
    Some {
      val featureExprs =
        Seq("CAST(c_custkey % 60 + 20 AS DOUBLE)",
          "CAST(c_custkey % 2 AS DOUBLE)") ++
        labScales.zip(labOffsets).map { case (sc, off) =>
          s"(((c_acctbal + ${d(1000.0)}) / ${d(11000.0)}) * ${d(sc)} + ${d(off)})"
        } ++
        Seq("CAST(c_custkey % 4 AS DOUBLE)")
      val (ctes, last, m) = XgbSql.marginCtes(ckdModel, "c_custkey", featureExprs, "customer")
      def lab(modK: Int, scale: Double, off: Double): String =
        s"CASE WHEN c_custkey % $modK = 0 THEN NULL " +
          s"ELSE (((c_acctbal + ${d(1000.0)}) / ${d(11000.0)}) * ${d(scale)} + ${d(off)}) END"
      s"""WITH $ctes,
      labs AS (
        SELECT c_custkey AS lid,
          ${lab(7, 8.0, 4.0)} AS hba1c,
          ${lab(5, 200.0, 40.0)} AS ldl,
          ${lab(3, 2.6, 0.4)} AS creat,
          ${lab(11, 105.0, 15.0)} AS egfr,
          ${lab(2, 12.0, 6.0)} AS hgb
        FROM customer)
      SELECT id,
        CAST(hba1c IS NOT NULL AND hba1c >= ${d(5.7)} AS INT) AS q_prediabetes,
        CAST(ldl IS NOT NULL AND ldl >= ${d(130.0)} AS INT) AS q_cvd,
        CAST(($m >= ${d(0.0)}) OR (creat IS NOT NULL AND creat > ${d(1.3)})
          OR (egfr IS NOT NULL AND egfr < ${d(60.0)}) AS INT) AS q_ckd,
        CAST(hgb IS NOT NULL AND hgb < ${d(12.0)} AS INT) AS q_anemia
      FROM $last JOIN labs ON id = lid ORDER BY id"""
    })

  def all: Map[String, GQuery] = Map(
    "q37_ml_cluster_pipeline" -> q37,
    "q47_xgb_score" -> q47,
    "q48_doctor_flags" -> q48,
  )
}
