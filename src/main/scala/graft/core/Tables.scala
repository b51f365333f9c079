package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed external tables; loading
  * via `spark.read.parquet` keeps Catalyst's parquet scan (column pruning +
  * predicate pushdown) — never collect-side reads.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  /** events.ts has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * natively — read as raw int64 via the legacy conf and truncate to
    * micros, matching DuckDB's nanos→micros truncation) and native
    * TIMESTAMP(MICROS)/NTZ. Normalize both to a session-TZ (UTC)
    * TimestampType column so every downstream `unix_micros(ts)` agrees
    * with DuckDB's `epoch_us(ts)` on the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact row count from parquet FOOTERS only — no Spark job, no column
    * IO. Used where a plan needs corpus size at build time (e.g. sizing
    * LSH bits in q39): a `df.count()` there serializes plan construction
    * on a cluster-wide action, while the footer read is a few KB of
    * metadata per file on the driver. At extreme file counts, parallelize
    * the listing or pass the size explicitly instead.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // recursive: partitioned datasets nest part files under key=value
    // subdirectories — a flat listing would silently count them as 0 rows
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    if (fs.getFileStatus(p).isDirectory) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) files += f
      }
    } else files += fs.getFileStatus(p)
    // an empty listing means the caller's plan would be sized from a bogus
    // zero — fail loudly rather than silently degrade
    require(files.nonEmpty, s"no parquet files under $path")
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}

/** One verifiable query: a Spark DataFrame builder plus (when SQL-expressible)
  * an equivalent DuckDB SQL string for the driver's oracle compare.
  *
  * Determinism rules used throughout the suite (the driver hash-compares
  * values after sorting columns by name):
  *   - money/quantity sums go through DECIMAL casts (exact, associative —
  *     immune to partial-aggregation order), then cast back to double;
  *   - averages/slopes are rounded explicitly on both sides;
  *   - timestamps are emitted as `unix_micros` bigints, dates as strings;
  *   - every result has a total ORDER BY (unique tiebreak) on both sides.
  *
  * The oracle is built on first access, not at registration: q47/q48's
  * oracle SQL compiles a model artifact that a host may lack, and
  * registering the suite must not depend on it.
  */
final class GQuery(val build: (SparkSession, String) => DataFrame,
    oracleSql: => Option[String]) {
  lazy val oracle: Option[String] = oracleSql
}

object GQuery {
  def apply(build: (SparkSession, String) => DataFrame,
      oracle: => Option[String]): GQuery = new GQuery(build, oracle)
}
