package graft.sources

import graft.expressions.LogHist
import graft.sources.ManifestTable.FileMeta
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The per-row statistics of ONE data file — the one accumulator
  * every manifest writer feeds, row by row, inside the task that
  * writes the file: the DSv2 task writer ([[ManifestWriterFactory]])
  * and the Scala API's Spark file writes ([[ManifestStatsTracker]]).
  * `schema` is the written row's schema; over each of `statsCols` it
  * keeps the canonical int64 min/max (integers as-is, DATE as epoch
  * days, TIMESTAMP as epoch microseconds) or the byte-wise string
  * min/max, the NULL count, the [[NdvSketch]] registers over the
  * canonical string (the int64's decimal form, or the raw string) and
  * the int64 kinds' [[LogHist]] counts; plus the exact row count.
  * [[meta]] renders them as the file's manifest lines. */
private[sources] final class FileStats(schema: StructType,
    statsCols: Seq[String]) extends Serializable {
  private val idx = statsCols.map(schema.fieldIndex).toArray
  private val types = idx.map(schema(_).dataType)
  private val kinds = statsCols.map(c =>
    ManifestTable.statKindOf(schema(c).dataType, c)).toArray
  private val mins = Array.fill(idx.length)(Long.MaxValue)
  private val maxs = Array.fill(idx.length)(Long.MinValue)
  private val strMins = new Array[UTF8String](idx.length)
  private val strMaxs = new Array[UTF8String](idx.length)
  private val regs = Array.fill(idx.length)(NdvSketch.empty())
  private val nulls = new Array[Long](idx.length)
  private val hist = Array.fill(idx.length)(new Array[Long](LogHist.B))
  private var n = 0L

  def update(r: InternalRow): Unit = {
    var j = 0
    while (j < idx.length) {
      val i = idx(j)
      if (r.isNullAt(i)) nulls(j) += 1L
      else if (kinds(j) == 'S') {
        // clone: the row's UTF8String may alias a reused buffer;
        // UTF8String.compareTo IS the unsigned byte-wise order the
        // zone lines need
        val v = r.getUTF8String(i)
        if (strMins(j) == null || v.compareTo(strMins(j)) < 0)
          strMins(j) = v.clone()
        if (strMaxs(j) == null || v.compareTo(strMaxs(j)) > 0)
          strMaxs(j) = v.clone()
        NdvSketch.update(regs(j), v.getBytes)
      } else {
        val v = types(j) match {
          case LongType | TimestampType => r.getLong(i)
          case IntegerType | DateType => r.getInt(i).toLong
          case ShortType => r.getShort(i).toLong
          case _ => r.getByte(i).toLong
        }
        if (v < mins(j)) mins(j) = v
        if (v > maxs(j)) maxs(j) = v
        hist(j)(LogHist.bucketOf(v)) += 1L
        NdvSketch.update(regs(j), String.valueOf(v)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      j += 1
    }
    n += 1L
  }

  /** File `f`'s manifest metadata over `cols` (stats columns, in the
    * order given): its exact row count and, unless the file is empty,
    * per column a zone line (none when every value is NULL, or when a
    * string max cannot be bounded — [[StrStat.entry]]) and an NDV
    * line. */
  def meta(f: String, cols: Seq[String]): FileMeta =
    if (n == 0L) FileMeta(rows = Map(f -> 0L))
    else {
      val js = cols.map(statsCols.indexOf)
      FileMeta(
        stats = Map(f -> js.collect { case j
            if kinds(j) != 'S' && mins(j) <= maxs(j) =>
          (statsCols(j), mins(j), maxs(j)) }),
        sstats = Map(f -> js.flatMap(j =>
          if (kinds(j) != 'S' || strMins(j) == null) None
          else StrStat.entry(statsCols(j), strMins(j).toString,
            strMaxs(j).toString))),
        rows = Map(f -> n),
        ndvs = Map(f -> js.map(j => (statsCols(j), nulls(j),
          StrStat.hex(regs(j)),
          if (kinds(j) == 'S') "" else LogHist.encode(hist(j))))))
    }
}

/** Spark's write-task hook carrying [[FileStats]] into every Scala-API
  * staging write: `FileFormatWriter` calls it per file and per row,
  * whatever the schema. [[files]] names the committed files by the
  * last `partDepth` directories and the basename of each task's
  * temporary path, which the job commit keeps. `schema` is the
  * written data row's (partition columns excluded). */
private[sources] final class ManifestStatsTracker(schema: StructType,
    statsCols: Seq[String], partDepth: Int) extends WriteJobStatsTracker {
  @transient private var done = Seq.empty[(String, FileStats)]

  /** The committed files as (output-relative path, stats), sorted by
    * path. */
  def files: Seq[(String, FileStats)] = done

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val open =
        scala.collection.mutable.LinkedHashMap.empty[String, FileStats]
      private var curPath: String = null
      private var cur: FileStats = null

      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit = {
        open(path) = new FileStats(schema, statsCols); ()
      }
      override def closeFile(path: String): Unit = ()
      override def newRow(path: String, row: InternalRow): Unit = {
        if (path ne curPath) { cur = open(path); curPath = path }
        cur.update(row)
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        ManifestWriteTaskStats(open.toSeq.map { case (p, s) =>
          p.split('/').takeRight(partDepth + 1).mkString("/") -> s })
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    done = stats.flatMap {
      case s: ManifestWriteTaskStats => s.files
      case _ => Seq.empty
    }.sortBy(_._1)
}

private[sources] final case class ManifestWriteTaskStats(
    files: Seq[(String, FileStats)]) extends WriteTaskStats
