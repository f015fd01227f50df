package org.apache.spark.sql.classic

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}

/** Access to the package-private `Dataset.ofRows`: re-plan a frame's
  * analyzed plan under another session of the same SparkContext. */
object GraftDatasets {
  def onSession(owner: ApiSession, df: DataFrame): DataFrame =
    Dataset.ofRows(owner.asInstanceOf[SparkSession],
      df.queryExecution.analyzed)
}
