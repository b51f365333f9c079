package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: print the executed plan of an operator COMPOSITION (not a
  * suite query) and count kernel occurrences — the round-16 tool for
  * checking that removing a lineage freeze does not re-introduce
  * double-evaluation of a per-row kernel under CollapseProject/Generate.
  * Usage: runMain graft.tools.PlanProbe <sfDir> <what>
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val what = args.lift(1).getOrElse("postingstore")
    val s = graft.core.Sessions.local(4)
    val docs = graft.core.Tables.documents(s, sfDir)
    val df = what match {
      case "postingstore" => graft.scale.Dedup.containmentPostingStore(
        graft.scale.Dedup.jaccardIndex(docs, "doc_id", "text", 2), 64)
      case other => sys.error(s"unknown probe $other")
    }
    val plan = df.queryExecution.executedPlan.toString
    println(s"KERNEL_OCCURRENCES=" +
      "xxhashshingleset".r.findAllIn(plan.toLowerCase).length)
    println(plan.take(4000))
    s.stop()
  }
}
