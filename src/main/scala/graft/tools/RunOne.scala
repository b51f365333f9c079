package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev loop: run registered queries by prefix, forced through Bench's noop
  * write, and print each one's wall time and its slowest stages (wall,
  * tasks, CPU, shuffle volumes) or the full stack trace — Bench/Verify
  * swallow exceptions by design, so this is the fastest way to diagnose a
  * query that fails or to find which stage of it is slow, without a UI.
  * Ends with `ALL OK` or `FAILED: <names>`.
  *
  *   sbt "runMain graft.tools.RunOne q06,q18 <sfDir>"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val prefixes = args.headOption.getOrElse("q01").split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Int, Long, Long, Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, wall, si.numTasks,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.shuffleReadMetrics.totalBytesRead,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten,
            si.name.take(90)))
        }
      }
    })
    var failed = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        println(s"=== $name ===")
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        try graft.Bench.force(fn(spark, sfDir))
        catch { case e: Throwable => failed ::= name; e.printStackTrace() }
        finally spark.catalog.clearCache()
        val total = (System.nanoTime() - t0) / 1e9
        // the listener bus delivers stage events asynchronously
        Thread.sleep(1500)
        stages.synchronized {
          println(f"total $total%.2f s, ${stages.size} stages")
          stages.sortBy(-_._2).take(18).foreach {
            case (id, wall, nt, run, sr, sw, stage) =>
              println(f"  stage $id%4d wall ${wall / 1000.0}%7.2f s tasks $nt%4d " +
                f"cpu ${run / 1000.0}%8.2f s shufR ${sr / 1e6}%8.1f MB " +
                f"shufW ${sw / 1e6}%8.1f MB  $stage")
          }
        }
      }
    println(if (failed.isEmpty) "ALL OK" else s"FAILED: ${failed.reverse.mkString(",")}")
    spark.stop()
  }
}
