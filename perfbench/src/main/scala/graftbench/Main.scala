package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.Serialization

/** One JVM run of one workload: set up, then run warm passes until
  * `seconds` have passed, then write `result.json` (timings, per-pass output
  * digests and, when traced, per-layer rollups; spans go to `spans.json`)
  * into `--out`.
  *
  * Usage: graftbench.Main --workload W --input DIR --out DIR --seconds N
  *   --trace 0|1
  *
  * The session runs at local[cores], cores being the processors this JVM
  * may use.
  */
object Main {

  /** Row count and order-insensitive content hash of one pass output, plus
    * workload-specific facts the checker compares with the generator's.
    */
  final case class Digest(rows: Long, hash: String, facts: Map[String, Any] = Map.empty)

  def digest(rows: Array[Row], facts: Map[String, Any] = Map.empty): Digest = {
    var h = 0L
    rows.foreach { r =>
      val s = r.mkString("\u0001")
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
    }
    Digest(rows.length, f"$h%016x", facts)
  }

  /** What a workload gives the pass loop. */
  trait Workload {
    /** One pass; returns the digests of its outputs. */
    def pass(spark: SparkSession, ctx: Ctx): Map[String, Digest]
    /** Digests of what a pass wrote, taken after its timed window. */
    def verify(spark: SparkSession, ctx: Ctx): Map[String, Digest] = Map.empty
  }

  /** State of a sequence of passes: work directory, tracer, failures. */
  final class Ctx(val work: String, val tracer: Tracer) {
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var passNo = 0
    /** Calls that threw; their outputs are missing. */
    var failedSteps = 0L

    /** Parquet files under the work and temp directories, where the ingest
      * sinks and the dedup pipelines' scratch indexes are written.
      */
    private def countFiles(): Long = {
      val t0 = System.nanoTime()
      def walk(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      val n = walk(new File(work)) + walk(new File(System.getProperty("java.io.tmpdir")))
      tracer.overheadNs += System.nanoTime() - t0
      n
    }

    /** A public layer call whose result is only built here, not forced. */
    def buildOnly[T](layer: String, name: String)(body: => T): T =
      tracer.span(layer, name, "call")(tracer.span(layer, name, "build")(body))

    /** One public layer call and the action that forces its result. When
      * traced, a span per phase: build (the call), plan (executedPlan) and
      * exec (the action). A sink has no plan phase: its write plans a
      * command of its own, and that planning is part of exec.
      */
    def step[A](layer: String, name: String, sink: Boolean = false)(build: => DataFrame)(
        act: DataFrame => A): Option[A] = {
      attempted += 1
      try {
        val files0 = if (tracer.enabled) countFiles() else 0L
        val out = tracer.span(layer, name, "call") {
          val df = tracer.span(layer, name, "build")(build)
          if (!sink) tracer.span(layer, name, "plan")(df.queryExecution.executedPlan)
          tracer.span(layer, name, "exec")(act(df))
        }
        if (tracer.enabled) tracer.annotateLast(
          out match { case d: Digest => d.rows; case _ => 0L },
          countFiles() - files0)
        Some(out)
      } catch {
        case e: Exception =>
          failedSteps += 1
          errors += s"pass $passNo $layer.$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(400)
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val input = new File(opts("input")).getAbsolutePath
    val out = new File(opts("out")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(out))
    val work = s"$out/work"

    val workload: Workload = workloadName match {
      case "clinical_etl" => new Workloads.ClinicalEtl(input)
      case "curation_pipeline" => new Workloads.CurationPipeline(input)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up: session start and one discarded warm-up pass, which pays JVM
    // warm-up and cold code generation. The session settings are those of
    // graft.Bench.
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (traced) Some(new Counters) else None
    counters.foreach(spark.sparkContext.addSparkListener(_))
    val ctx = new Ctx(s"$work/run", new Tracer(spark.sparkContext, counters))
    val warm = new Ctx(s"$work/warmup", new Tracer(spark.sparkContext, None))
    val warmOut = runPass(workload, spark, warm)
    val setupS = (System.nanoTime() - t0) / 1e9

    // Measured passes. In a traced run every measured pass is traced; the
    // tracer's own bookkeeping time per pass is the tracing overhead.
    val passS, overheadS = ArrayBuffer.empty[Double]
    def check(pass: Int, outputs: Map[String, Digest]) = Map("pass" -> pass, "outputs" ->
      outputs.map { case (k, d) => k -> Map("rows" -> d.rows, "hash" -> d.hash, "facts" -> d.facts) })
    val checks = ArrayBuffer(check(0, warmOut))
    val measureStart = System.nanoTime()
    var n = 0
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    while (n == 0 || elapsed < seconds) {
      n += 1
      ctx.passNo = n
      ctx.tracer.pass = n
      val o0 = ctx.tracer.overheadNs
      val p0 = System.nanoTime()
      val passOut = ctx.tracer.span("pass", s"pass$n", "pass")(runPass(workload, spark, ctx))
      passS += (System.nanoTime() - p0) / 1e9
      overheadS += (ctx.tracer.overheadNs - o0) / 1e9
      checks += check(n, passOut ++ workload.verify(spark, ctx))
    }
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName,
      "traced" -> traced,
      "cores" -> cores,
      "setup_s" -> setupS,
      "pass_s" -> passS,
      "trace_overhead_s" -> overheadS,
      "attempted" -> Seq(warm, ctx).map(_.attempted).sum,
      "failed_steps" -> Seq(warm, ctx).map(_.failedSteps).sum,
      "errors" -> Seq(warm, ctx).flatMap(_.errors),
      "checks" -> checks,
      "peak_rss_mb" -> peakRssMb())
    if (traced) {
      val spans = ctx.tracer.spans.toSeq
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      val jobs = counters.get.jobs
      result("layers") = Rollup.layers(spans, jobs, cores)
      result("totals") = Rollup.totals(spans, jobs)
      Files.write(Paths.get(s"$out/spans.json"),
        Serialization.write(spans.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "layer" -> s.layer,
          "name" -> s.name, "phase" -> s.phase, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "max_task_ratio" -> s.maxTaskRatio,
          "rows_out" -> s.rowsOut, "files_written" -> s.filesWritten,
          "counts" -> Snapshot.names.zip(s.counts).toMap,
          "jobs" -> s.jobIds.map(id => jobs.get(id).map(j => Map(
            "id" -> j.id, "description" -> j.description, "result" -> j.result)))
        )))(DefaultFormats)
          .getBytes("UTF-8"))
    }
    workload match {
      case c: Workloads.CurationPipeline => c.writeOutputs(spark, s"$out/oracle")
      case _ => ()
    }
    Files.write(Paths.get(s"$out/result.json"),
      Serialization.write(result)(DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }

  private def runPass(w: Workload, spark: SparkSession, c: Ctx): Map[String, Digest] =
    try w.pass(spark, c)
    catch {
      case e: Exception =>
        c.failedSteps += 1
        c.errors += s"pass ${c.passNo}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        Map.empty
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
