package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Dump `explain("formatted")` for NAMED queries into per-query files —
  * the plans/r15 before/after artifact writer (EXPLAIN.md's sibling for
  * an explicit query list).
  * Usage: runMain graft.tools.ExplainSome <sfDir> <outDir> <suffix> q1 q2 …
  */
object ExplainSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSet
    val spark = graft.core.Sessions.local(4)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.exists(name.startsWith)) {
        // record lineage-frozen subplans too: a freeze cuts the visible
        // plan at an RDD scan, so the pair/kernel stages would otherwise
        // be invisible in the dump (round-16 Bridge test hook)
        val rec = scala.collection.mutable.Buffer
          .empty[org.apache.spark.sql.execution.SparkPlan]
        org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans.set(rec)
        val plan = try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Exception => s"EXPLAIN FAILED: $e" }
        finally org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans
          .remove()
        val frozen = rec.toSeq.zipWithIndex.map { case (p, i) =>
          s"\n### frozen subplan ${i + 1} (lineage-frozen; executed " +
            s"once per action, read by every consumer)\n\n```\n$p\n```\n"
        }.mkString
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          (s"## $name\n\n```\n$plan\n```\n" + frozen).getBytes("UTF-8"))
        println(s"[explain] $name")
      }
    }
    spark.stop()
  }
}
