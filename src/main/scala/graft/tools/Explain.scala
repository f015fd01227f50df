// Plan audit: print formatted physical plans for key queries so the
// scan pushdown / broadcast / codegen posture is reviewable.
// Run: sbt 'runMain graft.tools.Explain q_s4_scan_prune ...'
package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = graft.GraftSession(4)
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
