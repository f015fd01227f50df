package org.apache.spark.sql.classic

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.types.StructType

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

  /** A frame over a DataSourceV2 `table`, built the way a catalog
    * read builds it: one relation over the table as given, so the
    * table's own state (a pinned snapshot) serves every planning call.
    * Building it plans no scan and starts no job. */
  def ofTable(owner: ApiSession,
      table: org.apache.spark.sql.connector.catalog.Table): DataFrame =
    Dataset.ofRows(owner.asInstanceOf[SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None,
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()))

  /** The read schema Spark's `mergeSchema` inference unions from
    * `schemas` (one per data file, in file order): every field made
    * nullable, as a file source reads, and same-name fields merged by
    * Spark's own rule (nested structs widen; other type drift fails
    * loudly). Top-level field metadata is dropped. */
  def unionOf(schemas: Seq[StructType]): StructType =
    schemas.map(s => StructType(s.asNullable.fields.map(f =>
        f.copy(metadata = org.apache.spark.sql.types.Metadata.empty))))
      .reduce(_ merge _)
}
