package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one SparkSession configuration: Bench times under it, Verify checks
  * the DuckDB hashes under it, and the tools and specs run under it. A
  * setting only one mode needs (AQE off for codegen dumps, long plan
  * strings) is a `conf.set` at that call site, never a second builder.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, or the JVM's processor count when unset. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive Int, or an error naming the bad value before any work. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Shuffle parallelism follows data, not core count: AQE starts every
      // shuffle at cpus*8 partitions and coalesces small ones, so sf0.1
      // keeps ~cpu-count effective partitions while a 10x input spreads
      // over 8x more tasks (a fixed count spilled at 10x in the r9 check).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus * 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // Older testdata generations carry TIMESTAMP(NANOS) events; keep the
      // legacy read path open and let Tables.eventsMicros dispatch on the
      // loaded schema (nanos-as-long vs native µs).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default 100-entry generated-class cache is evicted end to end
      // by a 155-query suite, so every run would pay janino recompilation
      // per stage (q99: 4.2 s in-suite vs 1.6 s steady state). Hold the
      // whole suite, as a long-lived production session would.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materialize every output column: xxhash64 folded by `bit_xor`. A bare
    * `count()` lets Catalyst prune projection-only work.
    */
  def drain(df: DataFrame): Unit = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.select(h.as("h")).agg(expr("bit_xor(h)")).head()
  }

  /** Between timed runs: drop cached data and let the ContextCleaner
    * release broadcast/shuffle state (driver refs are weakly held).
    */
  def cooldown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
    System.gc()
  }
}
