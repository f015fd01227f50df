package graft.tools
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)
    args.drop(1).foreach { n =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"$n ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
