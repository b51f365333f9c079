package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Round-16 skew-safety probe for the PINNED pair joins (the round-15
  * verdict's "What's wrong #2"): `REPARTITION_BY_NUM` exchanges opt out
  * of AQE's OptimizeSkewedJoin, so a hot key must be bounded by the
  * operators' OWN machinery — the triangle/rectangle block split in
  * [[graft.scale.Dedup]]'s bucketPairRows (bounded at maxBucket² per
  * cell) and the rare-first demotion in containmentCore's
  * prefix⋈posting join. This probe builds a deliberately ADVERSARIAL
  * corpus — every document shares one boilerplate sentence, so its
  * shingles have df = |corpus| (one giant key) — runs the two pinned
  * join families at two corpus sizes, and reports per-stage max/median
  * task skew from a task-level listener plus wall time, so SCALING.md
  * can record whether a single pinned partition balloons
  * quadratically.
  *
  * Usage: runMain graft.tools.SkewProbe [nDocs nDocs2 ...]
  * Prints one line per (operator, size):
  * `SKEW op=<name> docs=<n> rows=<out> wall=<s> worstStage=<id> maxTask=<recs> medTask=<recs> ratio=<r>`
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1000, 3000)
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    import spark.implicits._

    // per-stage task shuffle-read record counts
    val taskRecs = new java.util.concurrent.ConcurrentHashMap[
      Int, scala.collection.mutable.ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null) {
          val recs = t.taskMetrics.shuffleReadMetrics.recordsRead
          taskRecs.computeIfAbsent(t.stageId,
            _ => scala.collection.mutable.ArrayBuffer.empty[Long])
            .synchronized { taskRecs.get(t.stageId) += recs }
        }
      }
    })

    def corpus(n: Int) = {
      // one shared boilerplate run (hot shingles, df = n) plus a small
      // unique tail per doc; ~20% of docs are near-dups of doc 0
      val boiler = (1 to 12).map(i => s"common$i").mkString(" ")
      spark.range(n.toLong).select(col("id").as("doc_id"),
        concat(lit(boiler + " "),
          when(col("id") % 5 === 0, lit("dupone duptwo dupthree"))
            .otherwise(concat_ws(" ",
              concat(lit("u"), col("id")), concat(lit("v"), col("id")),
              concat(lit("w"), col("id"))))).as("text"))
    }

    def measure(name: String, n: Int)(df: => org.apache.spark.sql.DataFrame)
        : Unit = {
      taskRecs.clear()
      val t0 = System.nanoTime()
      val rows = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val (worst, maxT, medT) = taskRecs.asScala.toSeq.map { case (sid, rs) =>
        val s = rs.sorted
        (sid, s.last, s(s.size / 2))
      }.sortBy(-_._2).headOption.getOrElse((-1, 0L, 0L))
      val ratio = if (medT > 0) maxT.toDouble / medT else maxT.toDouble
      println(f"SKEW op=$name docs=$n rows=$rows wall=$wall%.2f " +
        f"worstStage=$worst maxTask=$maxT medTask=$medT ratio=$ratio%.1f")
    }

    for (n <- sizes) {
      val c = corpus(n)
      measure("containmentPairs", n) {
        graft.scale.Dedup.containmentPairs(c, "doc_id", "text",
          shingleSize = 2, threshold = 0.8)
      }
      measure("minhashDupPairs", n) {
        graft.scale.Dedup.minhashDupPairs(c, "doc_id", "text",
          shingleSize = 2, numPerm = 64, bands = 16, threshold = 0.8,
          maxBucket = 256)
      }
    }
    spark.stop()
  }
}
