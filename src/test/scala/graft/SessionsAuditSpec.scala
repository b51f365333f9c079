package graft

/** One session recipe, one child-JVM recipe. Bench, Verify, the tools and
  * this suite must share the same session conf, or a spec would check a
  * different engine setup than the bench measures; and every forked JVM
  * must inherit classpath, add-opens and a bounded wait the same way.
  * The source scan flags any new site that builds its own session or
  * forks its own JVM.
  */
class SessionsAuditSpec extends SparkSpec {

  /** Files under src/ whose text contains `needle`, as repo-relative paths. */
  private def sitesOf(needle: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains(needle))
      .map(_.toString.replace('\\', '/'))
      .toSet
  }

  test("sessions are built only by Sessions, child JVMs launched only by ChildJvm") {
    // needles are split so this file does not match itself
    assert(sitesOf("SparkSession." + "builder()") ==
      Set("src/main/scala/graft/core/Sessions.scala"))
    assert(sitesOf("getInput" + "Arguments") ==
      Set("src/main/scala/graft/core/ChildJvm.scala"))
  }

  test("the suite session carries Bench's conf") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.master == "local[4]")
  }
}
