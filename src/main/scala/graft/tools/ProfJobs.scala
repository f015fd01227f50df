package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job profiler: runs named SparkEntry queries and prints every
  * Spark job's wall time + call site, so a multi-job query's cost
  * decomposes without the UI. Throwaway optimization-round tool. */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt >= 0.02)
            println(f"[job] ${je.jobId}%4d $dt%7.2f s  $site")
        }
      }
    })
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100)
      .write.format("noop").mode("overwrite").save()
    args.drop(1).foreach { n =>
      println(s"==== $n ====")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(200)
      println(f"==== $n total ${(System.nanoTime() - t0) / 1e9}%.2f s ====")
    }
    spark.stop()
  }
}
