package graft.tools

/** Codegen-compilation accounting across bench passes: runs the full
  * inventory twice in one JVM (what Bench does) and reports, per
  * pass, how many wholestage/expression fragments were compiled by
  * Janino and the approximate time spent compiling, on Bench's
  * session. If pass 2 compiles nearly as much as pass 1, the codegen
  * cache is thrashing across the 429-query inventory and every pass
  * pays full compilation (the default-100 vs inventory-sized cache
  * A/B is recorded in `OPTIMIZATION_r18.md` §18). Optional first arg
  * -n<k> limits to the first k queries for a fast probe. Throwaway
  * optimization-round tool. */
object ProfCodegen {
  def main(args: Array[String]): Unit = {
    val sfDir = args.find(!_.startsWith("-")).getOrElse("/root/testdata/sf0.1")
    val limit = args.find(_.startsWith("-n")).map(_.drop(2).toInt)
      .getOrElse(Int.MaxValue)
    val spark = graft.GraftSession(32)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100)
      .write.format("noop").mode("overwrite").save()
    import org.apache.spark.metrics.source.CodegenMetrics._
    def snap(): (Long, Double) = {
      val h = METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getMean)
    }
    val inv = graft.SparkEntry.queries.toSeq.sortBy(_._1).take(limit)
    (1 to 2).foreach { pass =>
      val (c0, _) = snap()
      val t0 = System.nanoTime()
      inv.foreach { case (n, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"[pass$pass] $n failed: ${e.getMessage}") }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val (c1, mean) = snap()
      println(f"[codegen] pass$pass wall=$dt%.1f s compiles=${c1 - c0} meanCompileMs=$mean%.1f approxCompileSec=${(c1 - c0) * mean / 1000.0}%.1f")
    }
    spark.stop()
  }
}
