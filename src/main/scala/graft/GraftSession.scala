package graft

import org.apache.spark.sql.SparkSession

/** The session every main program runs on (the spec suite and
  * `tools.Smoke`'s deliberately bare session aside): `local[cpus]`
  * with as many shuffle partitions, where `cpus` is
  * `SPARK_GRAFT_CPUS` or the program's own default; UTC; the graft
  * extensions; parquet nanos read as long; no UI; and a codegen class
  * cache sized to the INVENTORY, not Spark's default 100. A session
  * serving the 429 queries holds about 2600 live generated fragments
  * per 120 queries, so the default cache evicts everything between
  * passes and every pass re-pays Janino compilation (measured in
  * `OPTIMIZATION_r18.md` §18: pass-2 compiles 2280 → 51, pass-2 wall
  * 116.9 → 77.0 s on the first 120 queries). That is the posture a
  * long-lived production session (Thrift server, streaming driver)
  * runs with; the entry count scales with distinct plan shapes, not
  * cores or data. One builder keeps every profiler measuring the
  * engine Bench and Verify run. */
object GraftSession {
  def apply(defaultCpus: Int, logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
