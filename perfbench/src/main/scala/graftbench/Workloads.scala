package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.ingest.FhirIngest
import graft.ml.{FeatureBuilder, Scorer}
import graft.queries.{Catalog, Reports}
import graft.suite.{CurationQueries, PipelineQueries, ScaleQueries}
import graft.wellness.Wellness
import Main.{Ctx, Digest, Workload, digest}

/** The benchmark workloads. Each calls the layers' public functions directly;
  * inputs come only from the generated files under the input directory.
  */
object Workloads {
  implicit private val formats: Formats = DefaultFormats

  private def meta(input: String): JValue = {
    val src = scala.io.Source.fromFile(s"$input/meta.json")
    try JsonMethods.parse(src.mkString) finally src.close()
  }

  private def counts(rows: Array[Row], column: String): Map[String, Int] =
    rows.groupBy(r => String.valueOf(r.getAs[Any](column))).map { case (k, v) => k -> v.length }

  private val hdl = "Cholesterol in HDL [Mass/volume] in Serum or Plasma"
  private val ldl = "Low Density Lipoprotein Cholesterol"
  private val trig = "Triglycerides"
  private val totalChol = "Cholesterol [Mass/volume] in Serum or Plasma"
  private val a1c = "Hemoglobin A1c/Hemoglobin.total in Blood"
  private val glucose = "Glucose [Mass/volume] in Blood"
  private val urine = Seq("Glucose [Mass/volume] in Urine by Test strip",
    "Glucose [Presence] in Urine by Test strip")

  /** Wellness analyte -> column of the feature table. */
  private val wellnessColumn: Map[String, String] = Map(
    "LDL" -> "ldl_latest", "HDL" -> "hdl_latest", "Triglycerides" -> "triglycerides_latest",
    "TotalChol" -> "cholesterol_total_latest", "A1c" -> "hba1c_latest",
    "GlucoseBlood" -> "glucose_latest", "eGFR" -> "egfr_latest",
    "Creatinine" -> "creatinine_latest", "BUN" -> "bun_latest",
    "Hemoglobin" -> "hemoglobin_latest", "Hematocrit" -> "hematocrit_latest",
    "ALT" -> "alt_latest", "AST" -> "ast_latest", "Bilirubin" -> "bilirubin_latest",
    "Albumin" -> "albumin_latest")

  /** L1 -> L4 batch pass: ingest, reports, features + scoring, wellness. */
  final class ClinicalEtl(input: String) extends Workload {
    private val m = meta(input)
    private val models = Seq("cvd", "ckd", "anemia").map(d => d -> s"$input/models/$d.json").toMap
    private val samples = (m \ "sample_patients").extract[Seq[String]].toSet

    private def lake(ctx: Ctx) = s"${ctx.work}/lake/pass${ctx.passNo}"

    def pass(spark: SparkSession, ctx: Ctx): Map[String, Digest] = {
      val lk = lake(ctx)
      val (p, e, c, o) = ctx.buildOnly("ingest", "curate")(
        FhirIngest.curate(spark, s"$input/bundles"))
      Seq("patient" -> p, "encounter" -> e, "condition" -> c, "observation" -> o).foreach {
        case (name, df) =>
          ctx.step("ingest", s"write_$name", sink = true)(df)(
            d => FhirIngest.writeParquet(d, s"$lk/$name"))
      }
      def read(t: String) = spark.read.parquet(s"$lk/$t")
      val cvd = ctx.step("queries", "cvd_report")(
        Reports.cvdReport(read("observation"), "patient_id", "code_display",
          "value_quantity", "effective_datetime", "observation_id",
          hdl, ldl, trig, totalChol)) { df =>
        val rows = df.collect()
        digest(rows, Map("bands" -> counts(rows, "overall_cvd_risk")))
      }
      val t2d = ctx.step("queries", "t2d_report")(
        Reports.t2dReport(read("observation"), "patient_id", "code_display",
          "value_quantity", "value_string", "effective_datetime", "observation_id",
          a1c, glucose, urine)) { df =>
        val rows = df.collect()
        digest(rows, Map("bands" -> counts(rows, "overall_t2d_risk")))
      }
      val features = ctx.buildOnly("ml", "feature_table")(
        FeatureBuilder.buildFeatureTable(read("patient"), read("observation")))
      val scores = ctx.step("ml", "infer_all")(Scorer.inferAll(spark, features, models)) { df =>
        val rows = df.collect()
        val sample = rows.filter(r => samples.contains(r.getAs[String]("patient_id"))).map { r =>
          r.getAs[String]("patient_id") -> Map(
            "cluster" -> r.getAs[Int]("cluster"),
            "cvd" -> r.getAs[Double]("cvd_prob"),
            "ckd" -> r.getAs[Double]("ckd_prob"),
            "anemia" -> r.getAs[Double]("anemia_prob"))
        }.toMap
        digest(rows, Map("sample" -> sample))
      }
      val wellness = ctx.step("wellness", "score_wide")(
        Wellness.scoreWide(features, wellnessColumn)) { df =>
        val rows = df.collect()
        val w = rows.flatMap(r => Option(r.getAs[java.lang.Double]("wellness")).map(_.doubleValue))
        digest(rows, Map("scored" -> w.length,
          "min" -> (if (w.isEmpty) -1.0 else w.min), "max" -> (if (w.isEmpty) -1.0 else w.max)))
      }
      Seq("cvd_report" -> cvd, "t2d_report" -> t2d, "scores" -> scores, "wellness" -> wellness)
        .collect { case (k, Some(d)) => k -> d }.toMap
    }

    /** The curated tables as written, read back. */
    override def verify(spark: SparkSession, ctx: Ctx): Map[String, Digest] =
      Catalog.tableNames.map(t => t -> digest(spark.read.parquet(s"${lake(ctx)}/$t").collect())).toMap
  }

  /** Training-data pipelines through their suite builders, one per scale
    * layer. q216 (curation) and q202 (dedup) are left out: their
    * layers are covered by q204 and q217, and a pass must fit the run's
    * time budget.
    */
  final class CurationPipeline(input: String) extends Workload {
    val pipelines: Seq[(String, String, Map[String, graft.core.GQuery])] = Seq(
      ("scale.curation", "q204_curation_pipeline", CurationQueries.all),
      ("scale.dedup", "q217_containment_posting_store", PipelineQueries.all),
      ("scale.eval", "q195_lsh_recall_eval", ScaleQueries.all),
      ("scale.retrieval", "q224_ann_recall_curve", PipelineQueries.all))

    /** Output rows of the last pass, kept for the checker. */
    private val last = scala.collection.mutable.Map.empty[String, DataFrame]

    def pass(spark: SparkSession, ctx: Ctx): Map[String, Digest] =
      pipelines.flatMap { case (layer, name, suite) =>
        ctx.step(layer, name)(suite(name).build(spark, s"$input/corpus")) { df =>
          val rows = df.collect()
          last(name) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          digest(rows)
        }.map(name -> _)
      }.toMap

    /** Writes the last pass's outputs under `dir`, with an `oracle_sql.json`
      * that holds the DuckDB oracle SQL of the pipelines whose oracle is
      * affordable on the benchmark corpus (the layout `tools/check.py`
      * reads). When the input holds an oracle corpus (traced runs), q204
      * also runs on it once, into `dir/small` with its own oracle: its
      * oracle is too slow for the benchmark corpus.
      */
    def writeOutputs(spark: SparkSession, dir: String): Unit = {
      last.foreach { case (name, df) => df.write.parquet(s"$dir/$name") }
      def writeOracle(d: String, names: Seq[String]): Unit = {
        val suites = pipelines.map { case (_, name, suite) => name -> suite }.toMap
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
          org.json4s.jackson.Serialization.write(
            names.map(n => n -> suites(n)(n).oracle.get).toMap).getBytes("UTF-8"))
      }
      writeOracle(dir, Seq("q217_containment_posting_store", "q224_ann_recall_curve"))
      if (new java.io.File(s"$input/oracle_corpus").isDirectory) {
        CurationQueries.all("q204_curation_pipeline").build(spark, s"$input/oracle_corpus")
          .write.parquet(s"$dir/small/q204_curation_pipeline")
        writeOracle(s"$dir/small", Seq("q204_curation_pipeline"))
      }
    }
  }
}
