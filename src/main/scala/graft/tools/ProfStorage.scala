package graft.tools

/** Session-state pressure probe: times a target query FRESH, runs the
  * whole inventory once (what a bench pass does), dumps the pinned-RDD
  * storage footprint, then times the same target again in the same
  * JVM. If the warm reading is far above the fresh one with the host
  * quiet, the slowdown is session state (pinned blocks / GC), not the
  * query. Throwaway optimization-round tool. */
object ProfStorage {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val target = args.drop(1).headOption.getOrElse("q_g_link_jaccard")
    val spark = graft.GraftSession(32)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100)
      .write.format("noop").mode("overwrite").save()

    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def heapUsedMb: Long =
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def storageDump(tag: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum >> 20
      val disk = infos.map(_.diskSize).sum >> 20
      println(f"[storage:$tag] pinned RDDs=${infos.length} mem=${mem}MB disk=${disk}MB heapUsed=${heapUsedMb}MB gc=${gcMillis / 1000.0}%.1fs")
      infos.sortBy(-_.memSize).take(25).foreach { i =>
        println(f"[storage:$tag]   rdd=${i.id}%5d ${i.memSize >> 20}%6dMB disk=${i.diskSize >> 20}%5dMB parts=${i.numCachedPartitions} ${i.name}")
      }
    }

    println(f"[fresh] $target ${time(target)}%.2f s / ${time(target)}%.2f s")
    storageDump("fresh")
    val inv = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val t0 = System.nanoTime()
    inv.foreach { case (n, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[pass] $n failed: ${e.getMessage}") }
    }
    println(f"[pass] full inventory ${(System.nanoTime() - t0) / 1e9}%.1f s")
    storageDump("after-pass")
    println(f"[warm] $target ${time(target)}%.2f s / ${time(target)}%.2f s")
    storageDump("end")
    spark.stop()
  }
}
