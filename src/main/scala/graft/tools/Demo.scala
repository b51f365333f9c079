package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ingest.{FhirIngest, LabPanel, LenientFhir}
import graft.ml.{FeatureBuilder, Scorer}
import graft.multimodal.Multimodal
import graft.queries.Catalog
import graft.streaming.Streaming
import graft.wellness.Forecast

/** End-to-end demonstration of the full reference-parity surface through
  * the public API: FHIR ingest → curated tables → SQL reports → feature
  * build → ML inference → forecast, plus the incremental-ingest and
  * multimodal paths. Usage: runMain graft.tools.Demo <bundlePathOrDir>
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val bundles = args.headOption.getOrElse(
      getClass.getResource("/fixtures/bundle1.json").getPath)
    val spark = graft.core.Sessions.local(4)

    println("== L1: FHIR ingest ==")
    val (pat, enc, cond, obs) = FhirIngest.curate(spark, bundles)
    println(s"patients=${pat.count()} encounters=${enc.count()} " +
      s"conditions=${cond.count()} observations=${obs.count()}")
    pat.show(3, truncate = 14)

    println("== L2/L3: report SQL over the curated catalog ==")
    Catalog.registerViews(Map("observation" -> obs))
    spark.sql(Catalog.cvdReportSql).show(5, truncate = 12)
    spark.sql(Catalog.t2dReportSql).show(5, truncate = 12)

    println("== L4b: feature build + ML inference ==")
    val features = FeatureBuilder.buildFeatureTable(pat, obs)
    val models = Map(
      "cvd" -> "/root/reference/xgb_cvd_model.json",
      "ckd" -> "/root/reference/xgb_ckd_model.json",
      "anemia" -> "/root/reference/xgb_anemia_model.json")
    val inferred = Scorer.inferAll(spark, features, models)
    inferred.select("patient_id", "age", "sex", "cluster",
      "cvd_prob", "ckd_prob", "anemia_prob",
      "q_prediabetes", "q_cvd", "q_ckd", "q_anemia").show(5, truncate = 10)

    println("== L4a: forecast over a lab series ==")
    import spark.implicits._
    val series = Seq(
      ("p1", "2023-01-01", 5.5), ("p1", "2023-02-01", 5.7),
      ("p1", "2023-03-01", 5.9), ("p1", "2023-04-01", 6.0))
      .toDF("patient", "date", "a1c")
    Forecast.monthlyForecast(series, "patient", "date", "a1c", 6).show(6)

    println("== Streaming: incremental ingest (bookmark semantics) ==")
    val tmp = java.nio.file.Files.createTempDirectory("graft_demo").toString
    obs.write.parquet(s"$tmp/in/first")
    Streaming.incrementalIngest(spark, s"$tmp/in", obs.schema,
      s"$tmp/out", s"$tmp/ckpt")
    println(s"after drain 1: ${spark.read.parquet(s"$tmp/out").count()} rows")
    Streaming.incrementalIngest(spark, s"$tmp/in", obs.schema,
      s"$tmp/out", s"$tmp/ckpt")
    println(s"after drain 2 (no new files): ${spark.read.parquet(s"$tmp/out").count()} rows")

    println("== Lenient ingest: shape-variant bundle via jget ladders ==")
    val variants = bundles.replace("bundle1.json", "bundle2_variants.json")
    if (new java.io.File(variants).exists()) {
      LenientFhir.observations(
        LenientFhir.entries(LenientFhir.readBundles(spark, variants)))
        .select("observation_id", "code_display", "value_quantity", "value_string")
        .show(20, truncate = 22)
    }

    println("== Lab-panel CSV: optional columns + confidence ==")
    val csvDir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Seq(("P001", 168.0, 38.0), ("P001", 150.0, 42.0), ("P001", 135.0, 48.0))
      .toDF("patient_id", "LDL", "HDL")
      .coalesce(1).write.option("header", "true").csv(s"$csvDir/panel")
    val panel = LabPanel.read(spark, s"$csvDir/panel")
    LabPanel.diseaseConfidence(panel, "Cardiovascular").show()
    LabPanel.latestScored(panel)
      .select("patient_id", "date", "sub_cardiovascular", "wellness", "confidence")
      .show()

    println("== Multimodal: binary columns + stubbed decode ==")
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "image", Array.fill[Byte](64)(7), Row("image/jpeg", 64, 64, null, null)),
        Row(2L, "video", Array.fill[Byte](64)(9), Row("video/mp4", 640, 480, null, 8000L)))),
      Multimodal.mediaSchema)
    Multimodal.extractFeatures(media).show()
    Multimodal.sampleFrameOffsets(media, 4).select("media_id", "frame_offsets_ms").show(truncate = false)

    spark.stop()
  }
}
