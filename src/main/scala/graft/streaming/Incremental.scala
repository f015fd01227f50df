package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental / re-runnable pipeline semantics (SURVEY.md §2.9).
  *
  * The reference emulates incrementality with anti-joins against
  * "already processed" ledger tables
  * (/root/reference/utils/product_collection_img_array_processor.py:80-106,
  * /root/reference/utils/product_attributes_etl.py:19-34). The engine
  * keeps that exact contract as the batch path, and exposes the same
  * pipelines over Structured Streaming (file source + foreachBatch
  * running the identical merge) for real streams.
  */
object Incremental {

  /** New (unprocessed) items: input rows whose key is absent from the
    * ledger. The reference's NOT-EXISTS-against-results pattern. */
  def newItems(input: DataFrame, ledger: DataFrame,
      keys: Seq[String]): DataFrame =
    input.join(ledger.select(keys.map(col): _*).distinct(),
      keys, "left_anti")

  /** One incremental run: process only new items, return (results,
    * updated ledger). Idempotent — running twice is a no-op because
    * processed keys land in the ledger. */
  def run(input: DataFrame, ledger: DataFrame, keys: Seq[String])(
      process: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val fresh = newItems(input, ledger, keys)
    val results = process(fresh)
    val newLedger = ledger.select(keys.map(col): _*).distinct()
      .unionByName(fresh.select(keys.map(col): _*).distinct())
      .distinct()
    (results, newLedger)
  }

  /** Start an AvailableNow `foreachBatch` query over `stream` whose
    * micro-batches run on the stream's OWN session — the one helper
    * every library `foreachBatch` sink starts through.
    *
    * Spark runs each streaming query on a clone of the session with
    * a fresh session UUID, and executors keep one classloader per
    * session UUID; the codegen cache is keyed by (classloader, code),
    * so batch work issued on the clone recompiles every generated
    * class once per query even when the code is byte-identical to the
    * previous query's, and then runs it before the JIT has warmed it.
    * Re-planning the batch under the owner session makes its classes
    * compile once per session: on a streaming MERGE the second
    * same-shape query compiles nothing. The batch's plan is the
    * `LogicalRDD` the sink already built, so no row moves; the work
    * inside runs under the owner session's configuration — the same
    * as calling the batch operation directly (for instance with
    * adaptive execution, which the clone turns off).
    *
    * A local `checkpoint` is handed to Spark under
    * [[graft.sources.GraftLocalFileSystem]]'s scheme. That file system
    * has no `AbstractFileSystem`, so Spark keeps the offset, commit and
    * source logs through its `FileSystemBasedCheckpointFileManager`
    * (one WARN per log at query start) instead of `FileContext`, whose
    * every log rename starts `readlink` processes; each log file's
    * mode is set in-process. On a local disk both managers publish a
    * log file the same way: check that the target is absent, then
    * rename the written temporary file onto it (what
    * `AbstractFileSystem.renameInternal` does for `file:`). The
    * directory layout is the same under either scheme, so a checkpoint
    * resumes across them. */
  private[graft] def foreachBatchOnOwner(stream: DataFrame,
      checkpoint: String)(f: (DataFrame, Long) => Unit): StreamingQuery = {
    val owner = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", graft.sources.GraftLocalFileSystem
        .local(checkpoint, owner.sparkContext.hadoopConfiguration))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        f(org.apache.spark.sql.classic.GraftDatasets.onSession(owner, batch),
          id)
      }
      .start()
  }

  /** Streaming variant: a file-source stream processed with the same
    * merge inside foreachBatch. Each micro-batch is exactly the batch
    * incremental contract, on `spark` ([[foreachBatchOnOwner]]). */
  def streamWithLedger(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      checkpoint: String)(
      processBatch: (DataFrame, Long) => Unit): StreamingQuery =
    foreachBatchOnOwner(spark.readStream.schema(schema).parquet(sourceDir),
      checkpoint)(processBatch)

  /** End-to-end exactly-once demonstration: stream `sourceFile`
    * (AvailableNow) into a parquet result table through a foreachBatch
    * doing an idempotent insert-if-absent merge on `keys`, TWICE —
    * the second run must be a no-op both because the checkpoint
    * remembers consumed offsets and because the merge is idempotent
    * (defense in depth: either mechanism alone already guarantees the
    * final table). Returns the result-table path. Batch-mode oracle:
    * the same aggregation over the raw input. */
  def exactlyOnceIngest(spark: SparkSession, sourceFile: String,
      schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String], workDir: String): String = {
    val resultDir = s"$workDir/result"
    val checkpoint = s"$workDir/checkpoint"
    // the file stream source only accepts directories — stage the
    // input file into one
    val srcDir = java.nio.file.Paths.get(workDir, "source")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(java.nio.file.Paths.get(sourceFile),
      srcDir.resolve("part-0.parquet"))
    def runOnce(): Unit = {
      val q = foreachBatchOnOwner(
          spark.readStream.schema(schema).parquet(srcDir.toString),
          checkpoint) { (batch: DataFrame, _: Long) =>
        // Probe for the path explicitly: only a genuinely absent
        // result table may read as empty. Swallowing arbitrary read
        // failures (corrupt files, IO errors) would silently rebuild
        // the table — masking exactly the data-loss class this
        // ingest exists to prevent.
        val fs = new org.apache.hadoop.fs.Path(resultDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val existing =
          if (fs.exists(new org.apache.hadoop.fs.Path(resultDir)))
            spark.read.parquet(resultDir)
          else spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            batch.schema)
        graft.sources.Sinks.atomicOverwrite(
          graft.operators.Merge.insertIfAbsent(existing, batch, keys)
            .localCheckpoint(), // cut lineage off the dir being replaced
          resultDir)
        ()
      }
      q.awaitTermination()
    }
    runOnce()
    runOnce() // replays nothing; table must not change
    resultDir
  }

  /** Mergeable per-key aggregate STATE — the materialized-view /
    * lambda-architecture primitive: build a state per batch (day,
    * partition, replica), merge states instead of reprocessing
    * history. Every component is a commutative monoid — count, an
    * INTEGER-quantized sum (floor(value*1e6) per row BEFORE summing,
    * so the merged sum is exact and order-free where a double sum
    * would drift with partitioning), min, max — which is exactly the
    * algebraic condition for merge(stateA, stateB) == state(A ∪ B).
    * That law is the graded oracle (q_i6_agg_state) and the spec. */
  def aggState(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(floor(col(valueCol) * lit(1000000.0d))).as("sum_micro"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge any number of [[aggState]] frames: union + one keyed
    * aggregation (sum/sum/min/max). The merge never touches raw
    * rows — at 100 TB the states are the only thing that moves. */
  def mergeAggStates(states: Seq[DataFrame],
      keys: Seq[String]): DataFrame =
    states.reduce(_ unionAll _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_micro")).as("sum_micro"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Signed (Z-set style) aggregate state: every row carries weight
    * +1 (insert) or -1 (retraction), and the state keeps only the
    * INVERTIBLE components — count and the integer-quantized sum —
    * because min/max cannot be maintained under deletes without
    * history (the classic non-invertible-monoid limit; use
    * [[aggState]] when the feed is insert-only). Merging an insert
    * state with a retraction state equals aggregating the surviving
    * rows directly — the law the graded oracle and spec assert. */
  def signedAggState(df: DataFrame, keys: Seq[String],
      valueCol: String, weight: Int): DataFrame = {
    require(weight == 1 || weight == -1, s"weight must be ±1: $weight")
    df.groupBy(keys.map(col): _*)
      .agg((count(lit(1)) * weight).as("n"),
        (sum(floor(col(valueCol) * lit(1000000.0d))) * weight)
          .as("sum_micro"))
  }

  /** Merge signed states: componentwise sum, then drop keys whose
    * support reached zero (fully retracted groups leave the view). */
  def mergeSignedAggStates(states: Seq[DataFrame],
      keys: Seq[String]): DataFrame =
    states.reduce(_ unionAll _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_micro")).as("sum_micro"))
      .filter(col("n") =!= 0)

  /** Incremental JOIN view maintenance — the classic delta rule: for
    * an inner equi-join view J = A ⋈ B under insert-only deltas,
    * ΔJ = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, and J_new = J_old ∪ ΔJ (the law the
    * spec asserts). Only the delta batches and their join partners
    * move: history (A, B, J_old) is probed, never reprocessed, and
    * when the deltas are batch-sized AQE broadcasts them so the big
    * sides never shuffle at all. At 100 TB with daily deltas this
    * replaces a full view rebuild with two delta-sized joins — the
    * join counterpart of [[aggState]]/[[mergeAggStates]]. Insert-only
    * is the contract; deletes/updates need the change-log path
    * ([[graft.operators.Merge.applyChangeLog]] over the view key). */
  def joinDelta(oldA: DataFrame, deltaA: DataFrame, oldB: DataFrame,
      deltaB: DataFrame, keys: Seq[String]): DataFrame =
    deltaA.join(oldB, keys)
      .unionByName(oldA.join(deltaB, keys))
      .unionByName(deltaA.join(deltaB, keys))

  /** Event-time tumbling-window aggregation with watermark — the
    * streaming counterpart of the engine's batch window query; used by
    * the streaming spec over the `events` table. */
  def windowedCounts(events: DataFrame, tsCol: String,
      window: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
}
