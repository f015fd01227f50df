package org.apache.spark.sql.classic

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}

/** Access to the package-private `Dataset.ofRows`: re-plan a frame's
  * analyzed plan under another session of the same SparkContext. */
object GraftDatasets {
  def onSession(owner: ApiSession, df: DataFrame): DataFrame =
    Dataset.ofRows(owner.asInstanceOf[SparkSession],
      df.queryExecution.analyzed)

  /** The checks `df.write.partitionBy(...).parquet(...)` runs on the
    * frame while it plans the write (package-private in Spark): no
    * empty or nested-empty schema, no duplicate column names, and
    * partition columns that exist and can partition. */
  def checkParquetWrite(df: DataFrame, partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.execution.datasources.{DataSource,
      PartitioningUtils}
    val conf = df.sparkSession.asInstanceOf[SparkSession].sessionState.conf
    DataSource.validateSchema("Parquet", df.schema, conf)
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(
      df.columns.toSeq, conf.caseSensitiveAnalysis)
    PartitioningUtils.validatePartitionColumn(df.schema, partitionBy,
      conf.caseSensitiveAnalysis)
  }
}
