package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    // dev knob (same as Bench): SPARK_GRAFT_ONLY=q54,q131 dumps just those
    // queries AND just their oracle entries, so tools/check.py gives a
    // fast targeted gate. Driver runs always leave it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist internally document unpersist as the
      // caller's job — release between queries (same as Bench)
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // one entry at a time: an oracle that cannot be built (q47/q48
    // without their model artifact) drops only its own entry
    val json = SparkEntry.queries.keys.toSeq.sorted.filter(keep).flatMap { name =>
      try SparkEntry.oracle(name).map(sql => s"${q(name)}: ${q(sql)}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name oracle failed: ${e.getMessage}")
        None
      }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
