package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Memory-pressure completion probe for the exact-pair dedup family —
  * the cheapest honest robustness signal available in a local sandbox:
  * run the three heaviest text-dedup operators (q85 ngram-Jaccard
  * pairs, q147 containment pairs, q62 sentence dedup) in a JVM whose
  * heap has been cut far below comfort and assert they COMPLETE (spill,
  * not OOM). The 100 TB claims rest on bounded shuffle rows per task;
  * this probe exercises the other half of that claim — that the
  * operators degrade to disk when executor memory shrinks.
  *
  * Run by MemoryPressureSpec as a forked child with -Xmx2g (the parent
  * suite JVM keeps its 8g), and manually against a MakeScale sf1 corpus
  * for the SCALING.md record:
  * {{{
  * java -Xmx2g <add-opens> -cp <classes:spark jars> \
  *   graft.tools.PressureProbe /root/testdata/sf0.1
  * }}}
  *
  * Prints ONE machine line:
  * `PRESSURE_OK q85=<rows> q147=<rows> q62=<rows> spill_mem=<bytes> spill_disk=<bytes>`
  * — nonzero spill under a tight heap is the expected (and recorded)
  * outcome, zero spill just means the corpus fit anyway; only an OOM /
  * nonzero exit fails the gate.
  */
object PressureProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    @volatile var spillMem = 0L
    @volatile var spillDisk = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        spillMem += s.stageInfo.taskMetrics.memoryBytesSpilled
        spillDisk += s.stageInfo.taskMetrics.diskBytesSpilled
      }
    })
    val docs = graft.core.Tables.documents(spark, sfDir)
    val n85 = graft.scale.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.8).count()
    val n147 = graft.scale.Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.7).count()
    val n62 = graft.scale.Curation.dedupSentences(docs, "doc_id", "text")
      .count()
    // round-14 heavy additions: every-position exact spans (the largest
    // gram explode in the repo) and the posting-store containment serve
    val n218 = graft.scale.Dedup.exactDuplicateSpans(docs, "doc_id",
      "text", minLen = 30).count()
    val n217 = graft.scale.Dedup.containmentAgainstPostingStore(
      graft.scale.Dedup.containmentPostingStore(
        graft.scale.Dedup.jaccardIndex(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
          shingleSize = 2), buckets = 64),
      docs.where(col("doc_id") % 2 === 1 && col("doc_id") <= 100),
      "doc_id", "text", shingleSize = 2, threshold = 0.4,
      buckets = 64).count()
    // the machine line the spec greps; heap size recorded for the log
    println(s"PRESSURE_OK q85=$n85 q147=$n147 q62=$n62 " +
      s"q217=$n217 q218=$n218 " +
      s"spill_mem=$spillMem spill_disk=$spillDisk " +
      s"max_heap=${Runtime.getRuntime.maxMemory()}")
    spark.stop()
  }
}
