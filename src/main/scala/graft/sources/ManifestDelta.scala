package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED (merge-on-read) SQL row-level operations — the
  * planner face of [[ManifestTable.mergeByKeyDv]]'s L21 discipline
  * (reference DML surface: `utils/importer/importer.py`'s upsert
  * loops, re-expressed as Spark's `SupportsDelta` protocol / the
  * Iceberg position-delta shape):
  *
  *  1. Spark plans MERGE INTO / UPDATE / rewritten DELETE against
  *     this operation's scan (the same snapshot-pinned
  *     [[ManifestRowScan]] the CoW path uses, now also serving the
  *     (`_graft_file`, `_graft_pos`) ROW ID);
  *  2. instead of computing full replacement files, Spark streams
  *     per-row ACTIONS to [[ManifestDeltaWriter]]s: `delete(id)`
  *     collects the row's physical position under its file,
  *     `insert(row)` stages ordinary append rows (updates arrive
  *     split as delete+insert — [[ManifestDeltaOperation
  *     .representUpdateAsDeleteAndInsert]]);
  *  3. the job-level commit publishes ONE atomic version: new `#dv=`
  *     positions unioned onto the touched files plus the staged
  *     insert files — ZERO data files rewritten for a small MERGE.
  *     Files whose accumulated deletion vector would blow the
  *     `dvMaxFraction` / position budget are instead rewritten
  *     live-minus-DV at commit ([[ManifestTable.applyDeltaCommit]])
  *     — the copy-on-write fallback exactly where a position list
  *     stops paying.
  *
  * Same optimistic-concurrency rules as the CoW path: a rival
  * rewrite that removed a touched file, or a rival DV landing on
  * one, aborts the publish rather than resurrecting or
  * double-deleting rows. */
class ManifestDeltaOperation(
    cmd: RowLevelOperation.Command,
    opts: ManifestV2Options) extends SupportsDelta {

  // the operation's scan: the delta commit validates against the
  // snapshot THIS scan pinned (expected DVs / live files)
  @volatile private[sources] var scan: ManifestRowScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions
      .column("_graft_file"),
    org.apache.spark.sql.connector.expressions.Expressions
      .column("_graft_pos"))

  // updates arrive split as delete + insert: one writer shape (DV
  // line + append row) serves MERGE, UPDATE and DELETE uniformly
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  // same one-builder/one-scan discipline as the CoW operation: every
  // consumer of this operation shares the snapshot-pinned scan
  private lazy val cachedBuilder: ScanBuilder = {
    val pinned = ManifestV2.resolvePinned(opts)
    new ScanBuilder
        with org.apache.spark.sql.connector.read
          .SupportsPushDownRequiredColumns {
      private var required: StructType = ManifestV2.schemaFor(opts)
      private var prunedOnce = false
      override def pruneColumns(s: StructType): Unit =
        ManifestDeltaOperation.this.synchronized {
          val built = ManifestDeltaOperation.this.scan
          if (built != null) {
            val have = built.readSchema().fieldNames.toSet
            require(s.fieldNames.forall(have.contains),
              "delta operation scan already built with columns " +
                s"${have.mkString(", ")}; a later consumer requires " +
                s"${s.fieldNames.mkString(", ")}")
          } else if (!prunedOnce) {
            required = s
            prunedOnce = true
          } else {
            val known = required.fieldNames.toSet
            s.fields.filterNot(f => known.contains(f.name))
              .foreach(f => required = required.add(f))
          }
        }
      override def build(): org.apache.spark.sql.connector.read.Scan =
        ManifestDeltaOperation.this.synchronized {
          if (ManifestDeltaOperation.this.scan == null)
            ManifestDeltaOperation.this.scan =
              new ManifestRowScan(required, opts, pinned,
                zoneFiltering = true)
          ManifestDeltaOperation.this.scan
        }
    }
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = cachedBuilder

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite
          with RequiresDistributionAndOrdering {
        // cluster the delta rows by their row-id FILE (the Iceberg
        // position-delta discipline): each touched file's deletes
        // collect in one task, and every INSERT row (null file) lands
        // in ONE task — a small MERGE appends exactly one
        // batch-sized file instead of one sliver per join partition.
        // The exchange is DELTA-sized (only action rows shuffle),
        // never table-sized.
        override def requiredDistribution
            : org.apache.spark.sql.connector.distributions
              .Distribution =
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(Array(
              org.apache.spark.sql.connector.expressions.Expressions
                .column("_graft_file")))
        override def requiredOrdering
            : Array[org.apache.spark.sql.connector.expressions
              .SortOrder] = Array.empty
        override def toBatch: DeltaBatchWrite =
          new ManifestDeltaBatchWrite(info,
            ManifestDeltaOperation.this, opts)
      }
    }
}

/** One task's delta actions: the staged insert file(s) plus the
  * deleted positions per manifest-relative file. */
final case class ManifestDeltaTaskResult(
    inserts: Seq[ManifestTaskFile],
    deletes: Map[String, Seq[Long]]) extends WriterCommitMessage

class ManifestDeltaBatchWrite(info: LogicalWriteInfo,
    op: ManifestDeltaOperation, opts: ManifestV2Options)
    extends DeltaBatchWrite {

  private val schema = info.schema()
  require(!schema.fieldNames.contains("_graft_file") &&
      !schema.fieldNames.contains("_graft_pos"),
    "delta insert rows must not carry the metadata columns")
  private val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
    new IllegalStateException(
      "delta write planned without a row id schema"))
  private val fileOrd = rowIdSchema.fieldIndex("_graft_file")
  private val posOrd = rowIdSchema.fieldIndex("_graft_pos")
  private val nonce = java.util.UUID.randomUUID().toString.take(12)

  // zone/partition columns: same conservative intersection the CoW
  // replacement write records (inserts keep the snapshot prunable)
  private val (statsCols: Seq[String], partCols: Seq[String]) = {
    val pinned = ManifestV2.resolvePinned(opts)
    val root = java.nio.file.Paths.get(opts.path)
    val rels = pinned.slices.map(s =>
      root.relativize(java.nio.file.Paths.get(s.path)).toString)
    val sc =
      if (rels.isEmpty) Seq.empty[String]
      else rels.map(f =>
          (pinned.stats.getOrElse(f, Seq.empty).map(_._1) ++
            pinned.sstats.getOrElse(f, Seq.empty).map(_._1)).toSet)
        .reduce(_ intersect _).toSeq.sorted
        .filter(schema.fieldNames.contains)
    val pc = ManifestV2.partitionColsOf(pinned)
      .filter(spec => schema.fieldNames
        .contains(ManifestBucket.column(spec)))
    (sc, pc)
  }

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    ManifestDeltaWriterFactory(schema, opts.path, nonce, statsCols,
      partCols, fileOrd, posOrd)

  override def commit(msgs: Array[WriterCommitMessage]): Unit = {
    require(op.scan != null,
      "delta write committed without the operation's scan")
    val results = msgs.toSeq.collect {
      case r: ManifestDeltaTaskResult => r }
    val inserts = results.flatMap(_.inserts).filter(_.rel.nonEmpty)
      .sortBy(_.rel)
    val deletes = results.flatMap(_.deletes.toSeq)
      .groupBy(_._1).view
      .mapValues(_.flatMap(_._2).distinct.sorted.toSeq).toMap
    if (inserts.isEmpty && deletes.isEmpty) return // no-op operation
    val meta = inserts.map(_.meta)
      .foldLeft(ManifestTable.FileMeta())(_ ++ _)
    val root = java.nio.file.Paths.get(opts.path)
    val expectDvs = op.scan.pinned.slices.map(s =>
      root.relativize(java.nio.file.Paths.get(s.path)).toString ->
        s.dv.toSeq).toMap
    ManifestTable.applyDeltaCommit(
      org.apache.spark.sql.SparkSession.active, opts.path,
      deletes, inserts.map(_.rel), meta.stats, meta.sstats, meta.rows,
      meta.pvals, expectDvs, opts.dvMaxFraction, ndvs = meta.ndvs)
    ()
  }

  override def abort(msgs: Array[WriterCommitMessage]): Unit =
    ManifestCommit.dropStaging(opts.path, nonce)
}

final case class ManifestDeltaWriterFactory(schema: StructType,
    table: String, nonce: String, statsCols: Seq[String],
    partCols: Seq[String], fileOrd: Int, posOrd: Int)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // inserts ride the ordinary append task writer (streamed zone
      // bounds, hive-style partition splits, attempt-unique names)
      private val inner = ManifestWriterFactory(schema, table, nonce,
        statsCols, partCols).createWriter(partitionId, taskId)
      private val deletes = scala.collection.mutable
        .HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        val rel = id.getUTF8String(fileOrd).toString
        deletes.getOrElseUpdate(rel,
          scala.collection.mutable.ArrayBuffer.empty[Long]) +=
          id.getLong(posOrd)
        ()
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates arrive as delete+insert " +
            "(representUpdateAsDeleteAndInsert)")

      override def insert(row: InternalRow): Unit = inner.write(row)

      override def commit(): WriterCommitMessage = {
        val files = inner.commit() match {
          case f: ManifestTaskFile => Seq(f)
          case s: ManifestTaskFileSet => s.files
          case _ => Seq.empty
        }
        ManifestDeltaTaskResult(files,
          deletes.view.mapValues(_.toSeq).toMap)
      }

      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
}
