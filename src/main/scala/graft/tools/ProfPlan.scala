package graft.tools

/** Planning-vs-execution split: for each named query, times (a) the
  * DataFrame construction (query fn, includes analysis of
  * intermediate frames), (b) forcing the executed plan (Catalyst
  * optimization + physical planning + codegen source gen), (c) the
  * noop-sink execution. Three warm repetitions after one discarded
  * warmup. Throwaway optimization-round tool. */
object ProfPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100)
      .write.format("noop").mode("overwrite").save()
    args.drop(1).foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warmup (materialized builds, codegen cache)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[$n] warmup failed: ${e.getMessage}") }
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"[$n] rep$i build=${(t1 - t0) / 1e9}%6.3f plan=${(t2 - t1) / 1e9}%6.3f exec=${(t3 - t2) / 1e9}%6.3f total=${(t3 - t0) / 1e9}%6.3f")
      }
    }
    spark.stop()
  }
}
