package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe shared by Bench, Verify, the dev
  * tools and the test suite, so every surface measures and checks the
  * same session shape: `local[cpus]` with as many shuffle partitions as
  * cores, AQE on, UTC session time zone, no UI, Spark logging at ERROR.
  */
object Sessions {

  /** Core count for driver-contract runs: env `SPARK_GRAFT_CPUS`,
    * default 4. The only read of that variable; child JVMs inherit it.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Gets or creates the process's local session with the shared conf. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
