package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import graft.operators.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Manifest-committed snapshot table (L5) — the lakehouse commit
  * protocol in miniature (the core mechanism of Iceberg/Delta,
  * re-expressed on plain parquet):
  *
  *  - every commit stages its data files under a fresh writer-unique
  *    `data/s-<nonce>/` prefix (never touching earlier files),
  *  - then publishes ONE manifest file `_manifests/v<version>` listing
  *    every live data file of the snapshot, via a PUT-IF-ABSENT
  *    primitive (write-temp + hard-link-into-place: `createLink`
  *    atomically fails if the target exists, unlike a POSIX rename,
  *    which silently REPLACES),
  *  - readers resolve a snapshot by reading a manifest and scanning
  *    EXACTLY the files it lists — never by listing the data
  *    directory.
  *
  * Why this matters at 100 TB: directory listings on object stores
  * are slow (millions of files), unordered, and racy against
  * in-flight writers — a reader that lists sees half-written commits.
  * The manifest makes commits atomic (a snapshot either exists
  * completely or not at all), gives time travel for free (old
  * manifests keep naming old files), and turns "plan the scan" into
  * one small-file read instead of a listing.
  *
  * MULTI-WRITER LAW (PipelineSpec races it): for any number of
  * concurrent committers, EXACTLY ONE publishes each version — the
  * manifest put-if-absent is the only contended step. A loser
  * re-derives its manifest against the new latest snapshot (append
  * semantics stay correct under contention: the carried file list is
  * recomputed per publish attempt) and retries onto v(N+1) WITHOUT
  * rewriting its data files, exactly the optimistic-concurrency loop
  * Delta runs against its log store. A writer that crashes after
  * staging leaves an orphan `data/s-*` dir that no manifest
  * references — invisible to readers, reclaimed by [[vacuum]] — and
  * never blocks other writers.
  *
  * Published state is deterministic: versions are dense integers and
  * manifests list explicit relative paths. Physical staging names
  * carry a writer nonce — exactly as Spark's own part files carry
  * task-attempt UUIDs — because uniqueness across concurrent writers
  * is what makes staging conflict-free; nothing downstream depends on
  * the nonce (readers see only manifest contents).
  */
object ManifestTable {

  /** Write-time cap on STRING partition values (raw UTF-8 bytes).
    * Partition values are EXACT equality keys carried verbatim on
    * every `#pval=` manifest line, so — unlike the `#sstats=` bounds,
    * which truncate conservatively — they cannot shorten silently;
    * past the cap the write fails loudly instead of bloating every
    * manifest line that carries the value. */
  val MaxPartValueBytes = 128

  private def manifestDir(table: String): Path =
    Paths.get(table, "_manifests")

  /** Live versions, ascending (empty for a fresh table). */
  def versions(table: String): Seq[Long] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else Using.resource(Files.list(dir)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") => s.drop(1).toLong }
        .toSeq.sorted
    }
  }

  /** Per-file zone stats: one (column, min, max) entry per `#stats=`
    * line the file carries — a file may carry SEVERAL (one per stats
    * column of its commit). Integer columns record their values;
    * DATE columns record epoch DAYS and TIMESTAMP columns epoch
    * MICROSECONDS — the canonical integer encodings, so the same
    * int64 range arithmetic prunes all three (the predicate side
    * encodes its literals identically — [[readPrunedTyped]]). */
  private type Stats = Map[String, Seq[(String, Long, Long)]]

  private val noStats: Stats = Map.empty

  /** Per-file STRING zone stats (`#sstats=path|col|hexMin|hexMax`
    * lines): min/max as hex-encoded UTF-8 BYTES, compared unsigned
    * byte-wise — exactly Spark's UTF8String ordering (and DuckDB's
    * string comparison), so pruning agrees with the engine's own
    * min/max. Values longer than [[StrStat.MaxBytes]] are truncated
    * CONSERVATIVELY: a min truncates by dropping bytes (a prefix
    * sorts ≤ the full value), a max truncates to the prefix with its
    * last non-0xFF byte incremented (strictly above anything the
    * prefix starts — Iceberg's truncate-and-increment upper bound);
    * an un-incrementable max (all 0xFF) publishes no line and the
    * file always scans. Skipping stays an optimization, never a
    * filter. */
  private type SStats = Map[String, Seq[(String, String, String)]]

  private val noSStats: SStats = Map.empty

  /** Per-file DELETION VECTOR: the sorted distinct 0-based row
    * positions (a scan's `_graft_pos`) deleted from the file
    * — the merge-on-read half of DML (Delta deletion vectors /
    * Iceberg v2 position deletes): a small DELETE or MERGE marks the
    * dead positions in the manifest instead of rewriting every
    * zone-overlapping file, and readers filter the positions out.
    * Rides as `#dv=path|p1,p2,...` comment lines — invisible to any
    * reader that skips comments, same trick as `#stats=`. Production
    * systems encode the positions as roaring bitmaps; a capped
    * integer list keeps the manifest honest at this scale and the
    * cap forces the copy-on-write fallback exactly where a bitmap
    * would stop paying. */
  private type Dvs = Map[String, Seq[Long]]

  private val noDvs: Dvs = Map.empty

  /** Per-file PARTITION VALUES (`#pval=path|col|enc` lines): the
    * hive-style partition tuple of a file written through a
    * PARTITIONED write — `L:<int64>` for integer/date/timestamp
    * columns (the same canonical encodings as `#stats=`),
    * `S:<hex-utf8>` for strings (the same hex as `#sstats=`), `N`
    * for NULL. A partition value is EXACT (min == max), so partition
    * pruning runs before zone stats and an equality/IN predicate on
    * a partition column keeps exactly the matching files; files
    * without pval lines (unpartitioned commits, compaction/CoW
    * rewrites that merged across partitions) simply always scan —
    * skipping stays an optimization, never a filter. */
  private[sources] type Pvals = Map[String, Seq[(String, String)]]

  private[sources] val noPvals: Pvals = Map.empty

  /** Per-file NDV SKETCHES + DISTRIBUTION histograms
    * (`#ndv=path|col|nulls|hexRegisters|logHist` lines): a
    * [[NdvSketch.M]]-register HyperLogLog of each stats column plus
    * a fixed-frame log-scale histogram
    * ([[graft.expressions.LogHist]], int64-kind columns; "" for
    * strings), streamed at write time — the manifest-level column
    * statistics that let [[graft.sources.ManifestScan
    * .estimateStatistics]] report distinct counts AND equi-height
    * histograms to Catalyst's CBO (join-order / broadcast decisions
    * driven by NDV and by skew, the Delta/Iceberg column-stats
    * posture). Registers MERGE by byte-wise max and histogram
    * counts by vector ADDITION, so the table-level stats are pure
    * manifest arithmetic over any file subset — the post-pruning
    * scan's stats reflect the files it will actually read — and
    * compaction unions its inputs' sketches without a data scan.
    * Hash input is the column's CANONICAL string (the int64 zone
    * encoding's decimal string for integer/date/timestamp, the raw
    * string otherwise); every writer builds the lines through one
    * accumulator ([[FileStats]]), so mixed-writer tables merge
    * coherently. Tuple =
    * (column, nullCount, hexRegisters, sparseLogHist). */
  private[sources] type Ndvs =
    Map[String, Seq[(String, Long, String, String)]]

  private[sources] val noNdvs: Ndvs = Map.empty

  /** The per-file metadata a manifest carries for its data files,
    * each kind keyed by table-relative path: zone stats (`#stats=`),
    * string zone stats (`#sstats=`), row counts (`#nrows=` — the
    * PHYSICAL count; live rows = nrows − |dv|), NDV sketches
    * (`#ndv=`), partition values (`#pval=`) and deletion vectors
    * (`#dv=`). `++` is right-biased per kind and file, so a writer's
    * entries layered over a snapshot's replace exactly the files it
    * touched; [[lines]] renders the comment lines of `files`. */
  private[graft] final case class FileMeta(stats: Stats = noStats,
      sstats: SStats = noSStats, rows: Map[String, Long] = Map.empty,
      ndvs: Ndvs = noNdvs, pvals: Pvals = noPvals, dvs: Dvs = noDvs) {
    def ++(o: FileMeta): FileMeta = FileMeta(stats ++ o.stats,
      sstats ++ o.sstats, rows ++ o.rows, ndvs ++ o.ndvs,
      pvals ++ o.pvals, dvs ++ o.dvs)

    def lines(files: Seq[String]): Seq[String] =
      files.flatMap(f => stats.getOrElse(f, Seq.empty)
        .map { case (c, mn, mx) => s"#stats=$f|$c|$mn|$mx" }) ++
        files.flatMap(f => sstats.getOrElse(f, Seq.empty)
          .map { case (c, mn, mx) => s"#sstats=$f|$c|$mn|$mx" }) ++
        files.flatMap(f => pvals.getOrElse(f, Seq.empty)
          .map { case (c, enc) => s"#pval=$f|$c|$enc" }) ++
        files.flatMap(f => ndvs.getOrElse(f, Seq.empty)
          .map { case (c, nulls, regs, hist) =>
            s"#ndv=$f|$c|$nulls|$regs|$hist" }) ++
        files.flatMap(f => rows.get(f).map(n => s"#nrows=$f|$n")) ++
        files.flatMap(f => dvs.get(f).filter(_.nonEmpty)
          .map(ps => s"#dv=$f|${DvCodec.encode(ps)}"))

    /** The stats columns (integer or string zones) `f` carries. */
    def zoneCols(f: String): Seq[String] =
      stats.getOrElse(f, Seq.empty).map(_._1) ++
        sstats.getOrElse(f, Seq.empty).map(_._1)
  }

  /** One parsed manifest: its data-file list and their [[FileMeta]]
    * (files committed without a stats pass have no entries). */
  private final case class Manifest(files: Seq[String], meta: FileMeta)

  private val emptyManifest = Manifest(Seq.empty, FileMeta())

  /** One manifest read parsed into [[Manifest]]: data lines are
    * relative paths; comment lines carry the file metadata. The zone
    * lines name their COLUMN, so a read pruning on a different
    * column than the commit used can never misapply a range (it just
    * scans the file), and one file may carry a line per stats
    * column. Files without a stats line have no entry and are never
    * skipped. Parsing everything from one read keeps the hot commit
    * path at a single manifest I/O per publish attempt. */
  private def manifestOf(table: String, version: Long): Manifest = {
    val path = manifestDir(table).resolve(s"v$version")
    val ls = Files.readAllLines(path).asScala.toSeq
    val files = ls.filter(l => l.nonEmpty && !l.startsWith("#"))
    // every metadata kind parses here: a line with the wrong field
    // count or a malformed number (a write torn mid-line) fails
    // loudly, naming the manifest, the line number and the line. -1
    // keeps empty fields: an empty-string hexMin and an empty
    // histogram are legal
    def kind[T](prefix: String, arity: Int*)(parse: Array[String] => T)
        : Seq[T] =
      ls.zipWithIndex.collect { case (l, i) if l.startsWith(prefix) =>
        val q = l.drop(prefix.length).split("\\|", -1)
        try {
          require(arity.contains(q.length), s"${q.length} fields")
          parse(q)
        } catch {
          case e @ (_: IllegalArgumentException |
              _: IndexOutOfBoundsException) =>
            throw new IllegalStateException(
              s"torn manifest line ${i + 1} of $path: $l", e)
        }
      }
    def byFile[V](kvs: Seq[(String, V)]): Map[String, Seq[V]] =
      kvs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val stats = byFile(kind("#stats=", 4)(q =>
      (q(0), (q(1), q(2).toLong, q(3).toLong))))
    val rows = kind("#nrows=", 2)(q => q(0) -> q(1).toLong).toMap
    // several #dv= lines for one file union (each marks more dead
    // positions); parsed form is always sorted distinct
    val dvs: Dvs = byFile(kind("#dv=", 2)(q => q(0) -> DvCodec.decode(q(1))))
      .view.mapValues(_.flatten.distinct.sorted).toMap
    val sstats: SStats = byFile(kind("#sstats=", 4)(q =>
      (q(0), (q(1), q(2), q(3)))))
    val pvals: Pvals = byFile(kind("#pval=", 3)(q => (q(0), (q(1), q(2)))))
    // 4-field lines from pre-histogram snapshots parse with no
    // histogram
    val ndvs: Ndvs = byFile(kind("#ndv=", 4, 5)(q =>
      (q(0), (q(1), q(2).toLong, q(3), if (q.length > 4) q(4) else ""))))
    Manifest(files, FileMeta(stats, sstats, rows, ndvs, pvals, dvs))
  }

  /** Snapshot `version` of `table` (the latest when None) as
    * (version, parsed manifest) — loud when the table has no
    * snapshot or not that one. */
  private def snapshotOf(table: String,
      version: Option[Long] = None): (Long, Manifest) = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"no snapshot v$v under $table (have $vs)")
    (v, manifestOf(table, v))
  }

  /** Resolved snapshot view for the DSv2 source ([[ManifestV2]]):
    * the PINNED version, live files, per-file zone stats (integer +
    * string), row counts, deletion vectors. Carrying the resolved
    * version lets one resolution serve every planning call of a scan
    * (snapshot consistency — a concurrent commit between schema
    * inference and execution cannot split the read across versions,
    * the Delta/Iceberg pin-at-scan rule). */
  private[sources] final case class Snapshot(version: Long,
      files: Seq[String],
      stats: Map[String, Seq[(String, Long, Long)]],
      rows: Map[String, Long], dvs: Map[String, Seq[Long]],
      sstats: Map[String, Seq[(String, String, String)]],
      pvals: Map[String, Seq[(String, String)]],
      ndvs: Map[String, Seq[(String, Long, String, String)]] =
        Map.empty)

  private[graft] def snapshotFor(table: String,
      version: Option[Long]): Snapshot = {
    val (v, m) = snapshotOf(table, version)
    Snapshot(v, m.files, m.meta.stats, m.meta.rows, m.meta.dvs,
      m.meta.sstats, m.meta.pvals, m.meta.ndvs)
  }

  /** Publish files the CALLER's tasks already staged as the next
    * snapshot — the seam the DSv2 write path ([[ManifestV2]]) commits
    * through: Spark's job-level `BatchWrite.commit` maps onto exactly
    * ONE optimistic manifest publish, so the whole distributed write
    * is atomic (readers see all of the job's files or none — the same
    * contract [[commitWithStats]] gives the Scala API). Same
    * append/carry semantics and put-if-absent loop. */
  private[sources] def publishStaged(table: String,
      staged: Seq[String], meta: FileMeta, append: Boolean,
      tag: Option[String] = None): Long = {
    require(staged.nonEmpty, "publishStaged needs at least one file")
    publishAppend(table, staged, meta, append, tag)
  }

  private def newNonce(): String =
    java.util.UUID.randomUUID().toString.take(12)

  /** The version among `vs` that already carries `tag`, if any. */
  private def taggedIn(table: String, tag: Option[String],
      vs: Seq[Long]): Option[Long] =
    tag.flatMap(t => vs.find(v => tagOf(table, v).contains(t)))

  /** The append publish every committer shares: `staged` (with its
    * `meta`) joins the latest snapshot's files, which are carried by
    * reference with ALL their metadata lines — dropping a `#dv=` line
    * here would resurrect merge-on-read deletes — or, with `append =
    * false`, becomes the whole snapshot. A `tag` makes the publish
    * IDEMPOTENT: the tag check and the version derivation share one
    * versions() snapshot per attempt, so a rival that publishes the
    * same tag first either is seen here (short-circuit to its
    * version) or wins the version this attempt tries to link (the
    * retry then sees its tag) — never a double append. The
    * exactly-once seam of [[commitTagged]] and of the DSv2 streaming
    * sink's epochs.
    *
    * The published version's schema is seeded ([[appendSeeds]]):
    * `staged` comes from one write, so every staged file carries the
    * first one's footer schema, and the union is the carried
    * snapshot's union merged with that one footer — so the first read
    * of an appended version opens one footer, not all of them. With no
    * known union to extend nothing is seeded, and the read unions the
    * footers itself. */
  private def publishAppend(table: String, staged: Seq[String],
      meta: FileMeta, append: Boolean, tag: Option[String]): Long = {
    var prev: Option[(Long, Seq[String])] = None
    var published = Seq.empty[String]
    val v = publishLoop(table, "commit") { snapshot =>
      published = Seq.empty
      taggedIn(table, tag, snapshot) match {
        case Some(v) => Left(v)
        case None =>
          val base =
            if (append) snapshot.lastOption.map(b => b -> manifestOf(table, b))
            else None
          val carried = base.map(_._2).getOrElse(emptyManifest)
          prev = base.map { case (b, m) => b -> m.files }
          published = carried.files ++ staged
          Right(tag.map(t => s"#tag=$t").toSeq ++
            (carried.meta ++ meta).lines(published) ++ published)
      }
    }
    // the seed only saves a later read its footers: the version is
    // published, so a failure here must not fail the commit
    if (published.nonEmpty) try {
      // the carried snapshot's union: cached, or resolved from its own
      // seed (one footer), so a chain of unread appends stays seeded
      val carried = prev match {
        case Some((b, files)) if files.nonEmpty =>
          val key = schemaKey(table, b, files)
          Option(schemaCache.get(key)).orElse(
            Option(appendSeeds.get(key)).map(_ =>
              snapshotSchema(SparkSession.active, table, b, files)))
        case _ => Some(org.apache.spark.sql.types.StructType(Nil))
      }
      carried.foreach(union => appendSeeds.put(
        schemaKey(table, v, published), (union, staged.headOption)))
    } catch { case scala.util.control.NonFatal(_) => () }
    v
  }

  /** Publish a REPLACEMENT as the next snapshot — the one publish
    * every rewriting writer shares: the SQL row-level operations
    * (MERGE INTO / UPDATE / rewritten DELETE), DELETE and MERGE by
    * key, the delta commit and the OPTIMIZE variants. `replaced`
    * files are dropped, `staged` ones (with `meta`) appended, files
    * in `dvUpdates` stay but publish that deletion vector instead of
    * their current one, and everything else is carried by reference
    * with its metadata lines. The DML conflict rules hold per
    * attempt over the inputs (`replaced` and the `dvUpdates` files):
    * a rival that removed an input aborts (rather than resurrecting
    * dropped rows or double-applying DML), a rival DV landing on an
    * input aborts (the replacement was computed from the deletion
    * vectors `expectDvs` the writer read — publishing would resurrect
    * the rival's deletes); rival appends ride along untouched
    * (write-serializable). A replacement that empties the table
    * publishes `staged` as-is — the caller stages an explicit empty
    * file to keep the snapshot readable. `what` names the writer in
    * the abort messages. Returns (version, files in the new
    * snapshot). */
  private[graft] def publishReplace(table: String,
      replaced: Seq[String], staged: Seq[String], meta: FileMeta,
      expectDvs: Dvs, dvUpdates: Dvs = noDvs,
      what: String = "row-level-operation",
      seed: Option[SchemaSeed] = None): (Long, Int) = {
    val dropped = replaced.toSet
    val inputs = dropped ++ dvUpdates.keySet
    var after = Seq.empty[String]
    val v = publishLoop(table, what) { snapshot =>
      require(snapshot.nonEmpty,
        s"publishReplace on $table needs an existing snapshot")
      val cur = manifestOf(table, snapshot.last)
      require(inputs.subsetOf(cur.files.toSet),
        s"concurrent rewrite removed a $what input of $table — " +
          "aborting rather than double-applying DML")
      require(inputs.forall(f => cur.meta.dvs.getOrElse(f, Seq.empty) ==
          expectDvs.getOrElse(f, Seq.empty)),
        s"concurrent DV landed on a $what input of $table — aborting " +
          "rather than resurrecting the rival's deletes")
      val carried = cur.files.filterNot(dropped)
      after = carried ++ staged
      Right((cur.meta ++ FileMeta(dvs = dvUpdates)).lines(carried) ++
        meta.lines(staged) ++ carried ++ staged)
    }
    seed.foreach(seedSchema(table, v, after, _, replaced.nonEmpty))
    (v, after.size)
  }

  /** Compressed deletion-vector POSITION encoding for `#dv=` lines —
    * the roaring-bitmap idea, dependency-free (like the HLL/CMS
    * kernels): sorted positions emit as a ','-joined mix of
    *  - RUNS `a-b` (≥4 consecutive positions — the contiguous-range
    *    DELETE shape),
    *  - BITSET BLOCKS `B<blockIdx>:<base64 of 64 bytes>` (≥16
    *    positions inside one 512-position block — the scattered
    *    MERGE shape; 512 deletes cost 86 chars instead of ~3.5 KB of
    *    decimal),
    *  - SINGLES `p` (everything sparse).
    * The decoder also accepts legacy plain-decimal lists (old
    * manifests parse unchanged — time travel across the format
    * bump). This is what raises the keep-as-DV budget 100×
    * (`dvMaxPositions` default 1M): a 500k-position vector stays a
    * ~100 KB manifest line instead of forcing a copy-on-write
    * rewrite; `dvMaxFraction` remains the rewrite trigger. */
  private[graft] object DvCodec {
    private val b64e = java.util.Base64.getEncoder.withoutPadding()
    private val b64d = java.util.Base64.getDecoder

    def encode(ps: Seq[Long]): String = {
      val sb = new java.lang.StringBuilder
      def emit(t: String): Unit = {
        if (sb.length > 0) sb.append(',')
        sb.append(t); ()
      }
      val a = ps.toArray
      var i = 0
      while (i < a.length) {
        // longest consecutive run from i
        var j = i
        while (j + 1 < a.length && a(j + 1) == a(j) + 1) j += 1
        if (j - i + 1 >= 4) {
          emit(s"${a(i)}-${a(j)}")
          i = j + 1
        } else {
          // count positions in a(i)'s 512-block (runs inside count)
          val block = a(i) >>> 9
          var k = i
          while (k < a.length && (a(k) >>> 9) == block) k += 1
          if (k - i >= 16) {
            val bytes = new Array[Byte](64)
            var m = i
            while (m < k) {
              val off = (a(m) - (block << 9)).toInt
              bytes(off >> 3) =
                (bytes(off >> 3) | (1 << (off & 7))).toByte
              m += 1
            }
            emit(s"B$block:${b64e.encodeToString(bytes)}")
            i = k
          } else {
            emit(a(i).toString)
            i += 1
          }
        }
      }
      sb.toString
    }

    def decode(s: String): Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      s.split(',').foreach { t =>
        if (t.isEmpty) ()
        else if (t.charAt(0) == 'B') {
          val c = t.indexOf(':')
          val block = t.substring(1, c).toLong
          val bytes = b64d.decode(t.substring(c + 1))
          var off = 0
          while (off < 512) {
            if ((bytes(off >> 3) & (1 << (off & 7))) != 0)
              out += (block << 9) + off
            off += 1
          }
        } else {
          val dash = t.indexOf('-', 1) // position 0 never a sign here
          if (dash > 0) {
            var p = t.substring(0, dash).toLong
            val e = t.substring(dash + 1).toLong
            while (p <= e) { out += p; p += 1 }
          } else out += t.toLong
        }
      }
      out.toSeq
    }
  }

  /** The optimistic put-if-absent publish loop every committer
    * shares: per attempt, ONE versions() snapshot feeds `mkLines`,
    * which either short-circuits (Left: e.g. an idempotence tag is
    * already published — return that version) or yields the next
    * manifest's lines (Right); the hard-link publish then either
    * wins version last+1 or the loop re-derives against the new
    * latest. Hard-link into place is atomic AND put-if-absent —
    * a rename would silently replace a concurrent winner; the temp
    * file's name is unique to this publish. */
  private def publishLoop(table: String, what: String)
      (mkLines: Seq[Long] => Either[Long, Seq[String]]): Long = {
    val nonce = newNonce()
    Files.createDirectories(manifestDir(table))
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 1000,
        s"$what to $table lost ${attempt - 1} straight publish races " +
          "— livelocked against a pathological writer storm")
      val snapshot = versions(table)
      mkLines(snapshot) match {
        case Left(ver) => return ver
        case Right(lines) =>
          val v = snapshot.lastOption.getOrElse(0L) + 1L
          val tmp = manifestDir(table).resolve(s".v$v-$nonce.tmp")
          // every publish stamps its wall-clock commit time — the
          // seam TIMESTAMP AS OF resolves against (manifests from
          // before the stamp existed fall back to file mtime)
          Files.writeString(tmp,
            (s"#at=${System.currentTimeMillis()}" +: lines)
              .mkString("", "\n", "\n"))
          try {
            Files.createLink(manifestDir(table).resolve(s"v$v"), tmp)
            Files.delete(tmp)
            // a table dropped and re-created at this path publishes
            // its version numbers again: forget the dropped table's v
            val key = (Paths.get(table).toAbsolutePath.toString, v)
            tagCache.remove(key)
            atCache.remove(key)
            return v
          } catch {
            case _: FileAlreadyExistsException =>
              Files.delete(tmp) // lost the race; re-derive and retry
          }
      }
    }
    -1L // unreachable
  }

  /** Published manifests are IMMUTABLE (put-if-absent, never
    * rewritten), so a (table, version) → tag lookup caches for the
    * life of the JVM — without the cache a long-running
    * [[streamCommit]] re-reads every historical manifest per batch,
    * quadratic in batch count. */
  private val tagCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[String]]()

  /** A version's commit wall-clock (epoch millis): the `#at=` stamp
    * every publish writes, or the manifest file's mtime for
    * pre-stamp manifests. Cached — manifests are immutable. */
  private val atCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  /** Cached read schema of a published snapshot: the by-name union of
    * its live files' footers, with `mergeSchema`'s semantics — a file
    * missing an evolved column reads it as NULL, and a candidate subset
    * that predates an evolved column still reads under the full table
    * schema. The union is read once per snapshot, on the driver
    * ([[snapshotSchema]], no Spark job), from the seed an append left
    * ([[appendSeeds]]), or seeded by the rewrite that made the version
    * ([[publishReplace]]). Every scan of the version reads under it —
    * [[read]], [[readPrunedTyped]], [[readChanges]], every
    * `graft-manifest` scan ([[ManifestV2.schemaFor]]) and every DML
    * and compaction scan ([[liveFrame]]), whichever files it reads —
    * so none infers a schema while it plans. Keyed by [[schemaKey]]. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String),
      org.apache.spark.sql.types.StructType]()

  /** Appended versions whose union is not cached yet, by
    * [[schemaKey]]: the carried snapshot's union and one staged file
    * (none when nothing was staged), whose footer the version's first
    * [[snapshotSchema]] merges into that union instead of reading
    * every footer. Kept apart from [[schemaCache]] so the commit
    * itself reads no footer. */
  private val appendSeeds =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String),
      (org.apache.spark.sql.types.StructType, Option[String])]()

  /** The [[schemaCache]] key of snapshot `version` of `table` whose
    * live data files are `files` (relative to `table`, or absolute):
    * the table, the version and a SHA-256 of the files' absolute
    * paths in order. Data files are immutable and every write names
    * its own, so the file list fixes the union. The version number
    * alone does not: a table dropped and re-created at the same path
    * publishes v1, v2, … again over other files, possibly with other
    * columns. */
  private def schemaKey(table: String, version: Long,
      files: Seq[String]): (String, Long, String) = {
    val root = Paths.get(table).toAbsolutePath
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      md.update(root.resolve(f).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    (root.toString, version,
      java.util.HexFormat.of().formatHex(md.digest()))
  }

  /** The cached union schema of snapshot `version` of `table`, whose
    * data files are `files` (relative to `table`, or absolute): on a
    * miss, each file's footer converted as Spark's inference converts
    * it ([[fileSchema]]), unioned in file order by Spark's own merge
    * rule ([[org.apache.spark.sql.classic.GraftDatasets.unionOf]]) —
    * or, for an append's seed, the carried union and its one staged
    * footer. */
  private[sources] def snapshotSchema(spark: SparkSession, table: String,
      version: Long, files: Seq[String])
      : org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(schemaKey(table, version, files), key => {
      require(files.nonEmpty, s"snapshot v$version of $table lists " +
        "no data files — there is no schema to read")
      val hadoopConf = spark.sessionState.newHadoopConf()
      def footer(f: String) = fileSchema(spark, hadoopConf,
        new org.apache.hadoop.fs.Path(Paths.get(table).resolve(f).toString))
      org.apache.spark.sql.classic.GraftDatasets.unionOf(
        Option(appendSeeds.remove(key)) match {
          case Some((carried, staged)) => carried +: staged.map(footer).toSeq
          case None => files.map(footer)
        })
    })

  /** The Spark schema of ONE data file: its footer (row groups
    * skipped) converted by `readSchemaFromFooter` with a converter
    * built from the session's parquet settings — exactly what Spark's
    * own inference gives the file. */
  private[sources] def fileSchema(spark: SparkSession,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      converter)
  }

  /** The cached merged schema of the published snapshot `version` of
    * `table`, if any. */
  private[graft] def cachedSchema(table: String, version: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    Option(schemaCache.get(
      schemaKey(table, version, manifestOf(table, version).files)))

  /** What a rewriting writer knows of its publish's schema: it read
    * snapshot `base` under its union `schema`, and wrote each staged
    * file with one of the schemas `written`. */
  private[graft] final case class SchemaSeed(base: Long,
      schema: org.apache.spark.sql.types.StructType,
      written: Seq[org.apache.spark.sql.types.StructType])

  /** Publish-time seed of [[schemaCache]] for version `v` of a
    * rewrite, whose files are `files`: the writer's `seed.schema`,
    * without a footer union, when that IS the union by construction.
    * It is when the publish won `seed.base + 1`, so no rival file
    * landed in between; every staged file was written with exactly
    * `schema`'s fields; and one was staged, or none was dropped. The
    * new snapshot's files are then a subset of the base's, whose
    * union is `schema`, plus files of `schema` — the same fields and
    * types, so the next writer on the table skips the union. */
  private def seedSchema(table: String, v: Long, files: Seq[String],
      seed: SchemaSeed, dropped: Boolean): Unit = {
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType, f.metadata))
    if (v == seed.base + 1 && (seed.written.nonEmpty || !dropped) &&
        seed.written.forall(s => fields(s) == fields(seed.schema)))
      schemaCache.putIfAbsent(schemaKey(table, v, files), seed.schema)
  }

  private def commitTimeOf(table: String, version: Long): Long =
    atCache.computeIfAbsent(
      (Paths.get(table).toAbsolutePath.toString, version),
      _ => {
        val p = manifestDir(table).resolve(s"v$version")
        Files.readAllLines(p).asScala.collectFirst {
          case l if l.startsWith("#at=") => l.drop(4).toLong
        }.getOrElse(Files.getLastModifiedTime(p).toMillis)
      })

  /** TIMESTAMP AS OF resolution: the NEWEST version committed at or
    * before `epochMillis` (the Delta convention). Loud when the
    * timestamp predates the table's oldest retained version — time
    * travel cannot answer from vacuumed history. */
  def versionAt(table: String, epochMillis: Long): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val at = vs.filter(v => commitTimeOf(table, v) <= epochMillis)
    require(at.nonEmpty,
      s"timestamp $epochMillis predates the oldest retained version " +
        s"of $table (v${vs.head} at ${commitTimeOf(table, vs.head)})")
    at.last
  }

  private def tagOf(table: String, version: Long): Option[String] =
    tagCache.computeIfAbsent(
      (Paths.get(table).toAbsolutePath.toString, version),
      _ => Files.readAllLines(manifestDir(table).resolve(s"v$version"))
        .asScala.collectFirst {
          case l if l.startsWith("#tag=") => l.drop(5)
        })

  /** Commit `df` as the next snapshot. `append = true` carries the
    * previous snapshot's files forward (blind append); `false` makes
    * the new files the whole snapshot (atomic overwrite — old files
    * stay on disk for time travel until a retention sweep). Returns
    * the published version. */
  def commit(df: DataFrame, table: String, append: Boolean): Long =
    commitTagged(df, table, append, tag = None)

  /** [[commit]] with an IDEMPOTENCE tag: if any published manifest
    * already carries `tag`, the call is a no-op returning that
    * version — the exactly-once handshake a streaming `foreachBatch`
    * sink needs (tag = the deterministic batch id, so a replayed
    * micro-batch re-commits nothing; the same contract Delta's
    * txn-version check provides). The tag rides as a `#tag=` comment
    * line inside the manifest — still one atomic publish, no side
    * ledger to drift. */
  def commitTagged(df: DataFrame, table: String, append: Boolean,
      tag: Option[String]): Long =
    commitFrame(df, table, append, tag, statsCols = None)

  /** Stage `df` under `data/s-<nonce>` — recording per-file stats
    * over `statsCols` when given — and publish it with
    * [[publishAppend]]. A tag already published returns its version
    * before anything is written; a rival publishing it while this
    * call stages is caught by the publish's own tag check. */
  private def commitFrame(df: DataFrame, table: String,
      append: Boolean, tag: Option[String],
      statsCols: Option[Seq[String]]): Long =
    taggedIn(table, tag, versions(table)).getOrElse {
      val nonce = newNonce()
      val (fresh, meta) = writeStaged(df, table, s"s-$nonce", statsCols)
      publishAppend(table, fresh, meta, append, tag)
    }

  /** Exactly-once streaming sink into the manifest table: each
    * micro-batch commits under tag `batch-<id>`, so checkpoint
    * replays and restarted queries never double-append (the graded
    * proof: running the whole stream TWICE from fresh checkpoints
    * yields the same snapshot — without the tags every count would
    * double). Blocks until the available data is processed.
    *
    * Each micro-batch commits on the CALLER's session (`stream`'s),
    * not the per-query clone Spark starts the stream on: executors
    * keep one classloader per session UUID and the codegen cache is
    * keyed by classloader, so on the clone every query would
    * recompile the staging write's generated classes
    * ([[graft.streaming.Incremental.foreachBatchOnOwner]]). */
  def streamCommit(stream: DataFrame, table: String,
      checkpoint: String): Unit =
    graft.streaming.Incremental.foreachBatchOnOwner(stream, checkpoint) {
      (batch: DataFrame, id: Long) =>
        commitTagged(batch, table, append = true,
          tag = Some(s"batch-$id")); ()
    }.awaitTermination()

  /** Streaming UPSERT sink — the Delta "streaming MERGE" shape: each
    * micro-batch [[mergeByKey]]s into the table (matched keys
    * replaced, new keys appended), so the table converges to
    * latest-row-per-key instead of append history. Within a batch,
    * `orderCol` picks the LATEST row per key (a CDC batch can carry
    * several updates to one key; mergeByKey requires one). Rows tied
    * on (key, orderCol) break on a VALUE hash of the full row — the
    * key itself is constant within its window partition, so only a
    * real data discriminator makes the pick a pure function of the
    * batch's VALUES (what replay convergence needs: a checkpoint
    * replay or full rerun re-picks the same row; fully identical
    * duplicate rows tie harmlessly — either pick is the same row).
    *
    * Exactly-once here needs NO batch tags: a keyed MERGE is
    * idempotent by VALUE (replaying a batch upserts the same rows to
    * the same state), so checkpoint replays and full stream reruns
    * converge — contrast [[streamCommit]], whose append-only counts
    * need the tag handshake. Each batch's rewrite is confined to
    * zone-overlapping files exactly as in batch MERGE; the table
    * must be seeded (one [[commitWithStats]] on the key column)
    * before the stream starts, so candidate pruning bites from the
    * first batch. */
  /** `dvMaxFraction` forwards to [[mergeByKeyDv]]: a CDC stream whose
    * batches touch few rows per file pays deletion-vector metadata
    * instead of per-batch file rewrites — the merge-on-read posture a
    * streaming upsert needs most (every micro-batch is a small DML);
    * the nightly OPTIMIZE purges the accumulated vectors. Replay
    * convergence is unchanged: a DV'd position and a rewritten row
    * read back identically, so the value-idempotence proof carries.
    *
    * Each micro-batch merges on the CALLER's session (`stream`'s),
    * not the clone Spark starts every streaming query on. The clone
    * has a fresh session UUID, executors keep one classloader per
    * session UUID, and the codegen cache is keyed by (classloader,
    * code): on the clone each call recompiled all of the merge's
    * generated classes (about 23 a merge) even when byte-identical
    * to the previous call's, then ran them cold. On the caller's
    * session a same-shape second call compiles none
    * ([[graft.streaming.Incremental.foreachBatchOnOwner]]). */
  def streamMerge(stream: DataFrame, table: String, checkpoint: String,
      keyCol: String, orderCol: String,
      dvMaxFraction: Double = 0.0): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, xxhash64}
    graft.streaming.Incremental.foreachBatchOnOwner(stream, checkpoint) {
      (batch: DataFrame, _: Long) =>
        // row_number()=1 survives for every non-empty batch, so the
        // emptiness gate tests the BATCH (a limit-1 probe) instead of
        // paying the window; mergeByKeyDv checkpoints the surviving
        // frame internally, so the scan + window run once per batch
        // no matter how many jobs the merge issues.
        if (!batch.isEmpty) {
          val latest = batch
            .withColumn("__rn", row_number().over(
              Window.partitionBy(keyCol)
                .orderBy(col(orderCol).desc,
                  xxhash64(batch.columns.map(col): _*).asc)))
            .filter(col("__rn") === 1).drop("__rn")
          // row_number()=1 holds one row per key BY CONSTRUCTION, so
          // the merge's dup-check aggregation (a whole batch pass per
          // micro-batch) is skipped
          mergeByKeyDv(batch.sparkSession, table, latest, keyCol,
            dvMaxFraction, checkUnique = false)
        }
        ()
    }.awaitTermination()
  }

  /** [[commitWithStats]] over a single stats column — the common
    * case, delegating to the multi-column form. */
  def commitWithStats(df: DataFrame, table: String, append: Boolean,
      statsCol: String, tag: Option[String] = None): Long =
    commitWithStats(df, table, append, Seq(statsCol), tag)

  /** [[commit]] carrying PER-FILE min/max stats of one or more
    * integer columns in the manifest — the Iceberg/Delta
    * file-skipping mechanism: the manifest becomes the zone map, so
    * a predicate-bearing read ([[readPruned]]) plans its scan from
    * ONE small-file read and never opens data files whose range
    * can't match. Stats ride as `#stats=path|col|min|max` comment
    * lines, one per (file, column) — invisible to every existing
    * reader (comments are skipped by [[read]]), and carried
    * forward for still-live files on append so a snapshot's stats
    * stay complete across commits. Every column's per-file lines are
    * gathered row by row inside the tasks that write the file
    * ([[FileStats]]), so the commit runs the write's job alone,
    * whatever its file count; an all-NULL column in a file gets no
    * stats line for that column and the file is always scanned for
    * predicates on it — skipping is only ever an optimization, never
    * a filter.
    *
    * Real lakehouse tables prune on several columns at once
    * (ingest date + business key); recording them all in the same
    * commit is a loop over agg expressions, not extra passes. For the
    * skipping to BITE on a column, commits should be range-disjoint
    * on it (range-sliced batches, or one repartitionByRange write
    * per commit) — exactly the layout contract zone maps have (L2),
    * applied at the manifest layer. */
  def commitWithStats(df: DataFrame, table: String, append: Boolean,
      statsCols: Seq[String], tag: Option[String]): Long = {
    require(statsCols.nonEmpty, "need at least one stats column")
    statsCols.foreach(c => require(!c.contains("|"),
      s"stats column name cannot contain '|': $c"))
    commitFrame(df, table, append, tag, Some(statsCols))
  }

  /** How a stats column's values ENCODE into zone lines, decided by
    * its data type: 'L' integer (recorded as-is), 'D' date (epoch
    * days), 'T' timestamp (epoch microseconds) — all three ride the
    * int64 `#stats=` lines — and 'S' string (`#sstats=` hex-UTF-8
    * lines, byte-compared). Loud on any other type: a float or
    * nested column has no exact zone encoding here. */
  private[sources] def statKindOf(
      dt: org.apache.spark.sql.types.DataType, c: String): Char = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => 'L'
      case DateType => 'D'
      case TimestampType => 'T'
      case StringType => 'S'
      case other => throw new IllegalArgumentException(
        s"stats column $c has type $other — zone stats cover " +
          "integer, date, timestamp, and string columns")
    }
  }

  /** Write `df` as parquet under `data/<dir>`, hive-partitioned by
    * `partitionBy`, as `df.write.mode("errorifexists").parquet(...)`
    * does (same format, options and checks), with a
    * [[ManifestStatsTracker]] gathering each file's [[FileStats]] over
    * `statsCols` inside the write's own tasks. The tasks write their
    * files in place under attempt-unique final names
    * ([[ManifestCommitProtocol]]): the stage holds exactly the written
    * files and their `.crc` sidecars, and the caller's manifest publish
    * is the commit. A local stage is written through
    * [[GraftLocalFileSystem]], so the tasks set each file's and
    * sidecar's mode in-process instead of starting a `chmod` per file.
    * Returns (table-relative path, stats) per written file, sorted by
    * path. */
  private def writeFiles(df: DataFrame, table: String, dir: String,
      statsCols: Seq[String],
      partitionBy: Seq[String] = Nil): Seq[(String, FileStats)] = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{
      BasicWriteJobStatsTracker, FileFormatWriter}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.GraftDatasets.checkParquetWrite(df,
      partitionBy)
    // a save's conf: `newHadoopConfWithOptions` skips "path"
    val hadoopConf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(GraftLocalFileSystem.local(
      Paths.get(table, "data", dir).toString, hadoopConf))
    val options = Map("path" -> out.toString)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    require(!fs.exists(qualified),
      s"staging directory $qualified already exists")
    // a fresh execution of the frame's analyzed plan, as a save plans
    val qe = spark.sessionState.executePlan(df.queryExecution.analyzed)
    val output = qe.optimizedPlan.output
    val tracker = new ManifestStatsTracker(
      org.apache.spark.sql.types.StructType(
        df.schema.filterNot(f => partitionBy.contains(f.name))),
      statsCols, partitionBy.size)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(spark, qe.executedPlan, new ParquetFileFormat,
        new ManifestCommitProtocol(qualified.toString),
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, output),
        hadoopConf, output.filter(a => partitionBy.contains(a.name)), None,
        // Spark's basic tracker keeps the task output metrics (bytes
        // and records written) a save reports
        Seq(new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics), tracker),
        options)
    }
    tracker.files.map { case (rel, st) => (s"data/$dir/$rel", st) }
  }

  /** `written`'s files with their stats as [[FileMeta]] over `cols`. */
  private def metaOf(written: Seq[(String, FileStats)],
      cols: Seq[String]): FileMeta =
    written.map { case (f, st) => st.meta(f, cols) }
      .foldLeft(FileMeta())(_ ++ _)

  /** Stage `df` under `data/<dir>` and return its data files with
    * their metadata — the one staging step every writer shares. `dir`
    * is writer-unique (it carries the writer's nonce), so staging is
    * conflict-free and the data write happens exactly once however
    * many publish attempts follow: the files are written in place,
    * so staging renames nothing and the publish is the only commit.
    * `files > 0` coalesces the write to that many files. With
    * `statsCols` each file's row count, zone, NDV and histogram lines
    * are recorded from the write tasks themselves ([[writeFiles]]):
    * one job, no pass over written data. Without `statsCols` nothing
    * is recorded. */
  private def writeStaged(df: DataFrame, table: String, dir: String,
      statsCols: Option[Seq[String]] = None,
      files: Int = 0): (Seq[String], FileMeta) = {
    val written = writeFiles(if (files > 0) df.coalesce(files) else df,
      table, dir, statsCols.getOrElse(Nil))
    (written.map(_._1),
      statsCols.fold(FileMeta())(metaOf(written, _)))
  }

  /** Move the files a write partitioned by ONE integer column staged
    * under `data/<stage>` — as its tracker reported them — to their
    * final table-relative paths `to(value, basename, index)`, `index`
    * counting the partition's files in name order, each with its
    * `.crc` sidecar renamed alongside, then drop the emptied stage.
    * Returns (partition value, final path, stats) in final-path
    * order. */
  private def flatten(table: String, stage: String,
      written: Seq[(String, FileStats)])
      (to: (Int, String, Int) => String): Seq[(Int, String, FileStats)] = {
    val moved = written
      .groupBy(w => w._1.split('/').reverse(1).split('=')(1).toInt)
      .toSeq.flatMap { case (v, fs) =>
        fs.sortBy(_._1).zipWithIndex.map { case ((f, st), i) =>
          val dst = to(v, f.split('/').last, i)
          val (from, into) = (Paths.get(table, f), Paths.get(table, dst))
          Files.createDirectories(into.getParent)
          Files.move(from, into)
          if (Files.exists(crcOf(from))) Files.move(crcOf(from), crcOf(into))
          (v, dst, st)
        }
      }
    deleteRecursively(Paths.get(table, "data", stage))
    moved.sortBy(_._2)
  }

  /** The columns every one of `files` carries per `cols` (sorted;
    * none when there are no files) — what a rewrite of those files
    * can re-record, or what their merged metadata can state. */
  private def colsInAll(files: Seq[String])
      (cols: String => Seq[String]): Seq[String] =
    if (files.isEmpty) Seq.empty
    else files.map(f => cols(f).toSet).reduce(_ intersect _).toSeq.sorted

  /** A frame over `files` of snapshot `version` of `table`, whose
    * manifest `m` the caller already parsed: the `graft-manifest` scan
    * ([[ManifestV2.frameOf]]) of that snapshot narrowed to those files,
    * each masked inside the reader by its deletion vector — `m`'s, or
    * the one `dvs` gives it. The frame reads under the snapshot's
    * cached union ([[snapshotSchema]]), whichever files it holds, so
    * building it starts no Spark job; [[withRowIds]] selects each
    * row's identity from the scan. */
  private def liveFrame(spark: SparkSession, table: String, version: Long,
      m: Manifest, files: Seq[String], dvs: Dvs = noDvs): DataFrame =
    ManifestV2.frameOf(spark, table,
      ManifestV2.pinnedOf(table, Snapshot(version, files, m.meta.stats,
        m.meta.rows, m.meta.dvs ++ dvs, m.meta.sstats, m.meta.pvals,
        m.meta.ndvs)),
      snapshotSchema(spark, table, version, m.files))

  /** `df`, a [[liveFrame]], with the scan's row-id columns `ids`
    * appended: `_graft_file` (the row's manifest-relative data file)
    * and `_graft_pos` (its physical position in that file, what a
    * `#dv=` line records). Selected straight off the scan, before any
    * filter or join; a table column of either name would shadow them,
    * so it is refused. */
  private def withRowIds(df: DataFrame, ids: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(!df.columns.exists(Set("_graft_file", "_graft_pos")),
      s"a table column named _graft_file or _graft_pos collides with " +
        s"the scan's row ids: ${df.columns.toSeq}")
    df.select(col("*") +: ids.map(col): _*)
  }

  /** Predicate-pruned snapshot read: plan the scan from the
    * manifest's `#stats=` zone lines — only files whose [min, max]
    * intersects [lo, hi] on `statsCol` are opened (files without
    * stats always scan: skipping never filters). The scan's reader
    * applies the BETWEEN to every row of the files it opens, so the
    * result is exact regardless of how coarse the zones are. Returns
    * (frame, files in snapshot, files scanned) — the skip arithmetic
    * a 100 TB reader reports. */
  def readPruned(spark: SparkSession, table: String, statsCol: String,
      lo: Long, hi: Long,
      version: Option[Long] = None): (DataFrame, Int, Int) =
    readPruned(spark, table, Seq((statsCol, lo, hi)), version)

  /** Multi-predicate pruned read: every `(col, lo, hi)` range must
    * hold (conjunction), and EACH predicate independently prunes on
    * that column's zone line where the file carries one — the
    * date-plus-key scan plan a real lakehouse read runs. A file
    * skips as soon as ANY predicate's recorded range misses; a file
    * with no line for a predicate's column scans for that predicate
    * (skipping is an optimization, never a filter). Returns
    * (frame, files in snapshot, files scanned). */
  def readPruned(spark: SparkSession, table: String,
      preds: Seq[(String, Long, Long)],
      version: Option[Long]): (DataFrame, Int, Int) =
    readPrunedTyped(spark, table,
      preds.map(p => (p._1, p._2: Any, p._3: Any)), version)

  /** TYPED multi-predicate pruned read — the real-lakehouse scan
    * plan, where the most common pruning predicates are DATE ranges
    * and STRING keys, not pre-encoded integers. Each `(col, lo, hi)`
    * bound may be:
    *
    *  - `Long`/`Int` — integer columns (the classic path);
    *  - `java.time.LocalDate` / `java.sql.Date` — date columns,
    *    pruned against the manifest's epoch-day `#stats=` lines;
    *  - `java.time.Instant` / `java.sql.Timestamp` — timestamp
    *    columns, pruned against epoch-microsecond lines;
    *  - `String` — string columns, pruned against the `#sstats=`
    *    hex-UTF-8 lines by unsigned byte comparison (equality is
    *    `lo == hi`).
    *
    * NULL semantics: rows with a NULL predicate column never match
    * (BETWEEN is UNKNOWN on NULL); an all-NULL column in a file
    * published no zone line, so the file scans and the row filter
    * drops it — skipping is an optimization, never a filter.
    * Truncation semantics: stored string bounds are conservative
    * (truncated mins sort ≤ the true min, truncated maxes are
    * incremented above the true max), so a truncated zone can only
    * admit extra files, never skip a matching one. Returns
    * (frame, files in snapshot, files scanned). */
  def readPrunedTyped(spark: SparkSession, table: String,
      preds: Seq[(String, Any, Any)],
      version: Option[Long]): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    require(preds.nonEmpty, "need at least one prune predicate")
    def zoned(x: Any): Boolean = x match {
      case _: Long | _: Int | _: java.time.LocalDate | _: java.sql.Date |
          _: java.sql.Timestamp | _: java.time.Instant => true
      case _ => false
    }
    preds.foreach { case (c, lo, hi) =>
      val ok = (lo, hi) match {
        case (_: String, _: String) => true
        case _ => zoned(lo) && zoned(hi)
      }
      if (!ok) throw new IllegalArgumentException(
          s"prune bounds for $c must both be integer, date, " +
            s"timestamp, or string values: ($lo, $hi)")
    }
    val pinned = ManifestV2.resolvePinned(ManifestV2Options(table, version))
    require(pinned.slices.nonEmpty,
      s"snapshot v${pinned.version} of $table lists no data files — a " +
        "pruned read has no schema to produce; read() an earlier " +
        "version or commit data first")
    val frame = ManifestV2.frameOf(spark, table, pinned)
    // the bounds as the source filters Spark pushes into the scan, so
    // the count is the scan's own file test over the same snapshot: an
    // entry recorded for ANOTHER column never prunes, a file KNOWN
    // empty (#nrows=0) skips, a DV'd file's zones stay conservative,
    // and repeated ranges on one column meet in their intersection
    val kept = ManifestScan.staticSurvivors(pinned, table,
      preds.flatMap { case (c, lo, hi) =>
        Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)) },
      frame.schema)
    val filtered = preds.foldLeft(frame) { case (d, (c, lo, hi)) =>
      d.filter(col(c).between(lit(lo), lit(hi)))
    }
    (filtered, pinned.slices.size, kept.size)
  }

  /** METADATA-ONLY row count: when every live file of the snapshot
    * carries a `#nrows=` line (committed via [[commitWithStats]] or
    * rewritten by [[deleteRange]]/[[compact]], which both preserve
    * counts), `count(*)` is the sum of manifest entries — ONE
    * small-file read, zero data I/O. The Iceberg/Delta trick that
    * answers the most common query at 100 TB from pure metadata.
    * Returns None when any file lacks a count (a plain [[commit]]
    * landed it) — callers fall back to a scan; a metadata count is
    * only ever served when it is exact. */
  def countRows(table: String,
      version: Option[Long] = None): Option[Long] = {
    val (_, Manifest(files, meta)) = snapshotOf(table, version)
    // live rows = physical rows − the file's DV cardinality:
    // positions are distinct and each names exactly one physical
    // row, so the subtraction is exact, and metadata-only counts
    // survive merge-on-read DML
    val counts = files.map(f => meta.rows.get(f)
      .map(_ - meta.dvs.getOrElse(f, Seq.empty).size))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** METADATA-ONLY min/max of a stats column — the partner of
    * [[countRows]]: when every live file either carries a `#stats=`
    * line for `colName` or is KNOWN empty (`#nrows=0` — an empty
    * range-slice's file has no stats yet contributes nothing to the
    * extrema), the snapshot's min/max is the fold of the manifest
    * lines: ONE small-file read, zero data I/O. Per-file min/max are
    * exact (commitWithStats computes them from the staged rows), so
    * the folded answer is exact — served only when it is; any file
    * with unknown stats AND unknown-or-nonzero rows returns None
    * and callers fall back to a scan. None also when every live
    * file is empty (no extrema exist), and None when any live file
    * carries a DELETION VECTOR: a DV'd file's recorded min/max may
    * BE a deleted row, so the fold would only bound the answer, not
    * equal it (exact-or-None; an OPTIMIZE purges the DVs and makes
    * bounds metadata-answerable again). */
  def statsBounds(table: String, colName: String,
      version: Option[Long] = None): Option[(Long, Long)] = {
    val (_, Manifest(files, meta)) = snapshotOf(table, version)
    if (files.exists(f => meta.dvs.get(f).exists(_.nonEmpty)))
      return None
    val perFile: Seq[Option[Option[(Long, Long)]]] = files.map { f =>
      meta.stats.getOrElse(f, Seq.empty).find(_._1 == colName) match {
        case Some((_, mn, mx)) => Some(Some((mn, mx)))
        case None if meta.rows.get(f).contains(0L) => Some(None)
        case None => None // unknown — cannot answer exactly
      }
    }
    if (perFile.exists(_.isEmpty)) None
    else {
      val bounds = perFile.flatten.flatten
      if (bounds.isEmpty) None
      else Some((bounds.map(_._1).min, bounds.map(_._2).max))
    }
  }

  /** INCREMENTAL snapshot-diff read (CDC-lite, the Delta
    * CDF-without-row-tracking shape): the rows of every data file
    * present in `toVersion` but absent from `sinceVersion` — for an
    * append-only history this is EXACTLY the rows inserted after
    * `sinceVersion`, which is what an incremental consumer
    * (downstream ETL, index refresh, training-data top-up) polls
    * for. File-level semantics, stated plainly: a maintenance
    * rewrite ([[compact]]/[[deleteRange]]) re-adds surviving rows
    * under new file names, so consumers should read between
    * NON-maintenance versions or dedup downstream — the same caveat
    * Delta documents for change feeds across OPTIMIZE. Cost is
    * manifest-diff + a scan of only the ADDED files, never the
    * snapshot: the `graft-manifest` scan of `toVersion` narrowed to
    * them, read under `toVersion`'s schema union as [[read]] reads it
    * ([[liveFrame]]). `toVersion`'s DVs apply to the added files too:
    * a row both inserted and DV-deleted inside the window is not a
    * change the consumer should see. Returns (frame, files added). */
  def readChanges(spark: SparkSession, table: String,
      sinceVersion: Long,
      toVersion: Option[Long] = None): (DataFrame, Int) = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no published version in $table")
    val to = toVersion.getOrElse(vs.last)
    require(vs.contains(sinceVersion) && vs.contains(to),
      s"need live versions: since=$sinceVersion to=$to (have $vs)")
    require(sinceVersion <= to,
      s"sinceVersion $sinceVersion is after toVersion $to")
    val before = manifestOf(table, sinceVersion).files.toSet
    val toM = manifestOf(table, to)
    val added = toM.files.filterNot(before)
    (liveFrame(spark, table, to, toM, added), added.size)
  }

  /** Copy-on-write range DELETE — the DML half of the lakehouse
    * lifecycle (the GDPR/retention shape: purge a key or time
    * range): rewrite ONLY the files whose zone stats say they might
    * hold matching rows, carry every other file untouched by
    * reference, publish one atomic version. Files without a
    * `#stats=` line for `statsCol` must be rewritten (no zones — no
    * proof of absence); rows with a NULL `statsCol` are never
    * deleted (a range predicate is UNKNOWN on NULL, per SQL DELETE).
    * The rewrite pass recomputes zone stats and row counts for the
    * surviving rows' new files over every column ALL touched inputs
    * carried, so pruning and [[countRows]] stay live after the DML.
    *
    * Concurrency: same optimistic loop as [[compact]] — if a rival
    * removed a touched input, abort loudly; rival APPENDS ride
    * along untouched, i.e. the delete applies to the snapshot it
    * read (write-serializable, Delta's default isolation for
    * non-conflicting writers). Old versions still read the deleted
    * rows until [[vacuum]] — time travel is the undo button.
    *
    * Returns (published version, files rewritten, files in the new
    * snapshot). */
  def deleteRange(spark: SparkSession, table: String,
      statsCol: String, lo: Long, hi: Long): (Long, Int, Int) = {
    val (v, rewritten, _, after) =
      deleteRangeDv(spark, table, statsCol, lo, hi, dvMaxFraction = 0.0)
    (v, rewritten, after)
  }

  /** [[deleteRange]] with MERGE-ON-READ deletion vectors (the Delta
    * DV / Iceberg v2 position-delete posture): candidate files whose
    * live matching rows are few — at most `dvMaxFraction` of the
    * file's live rows AND at most `dvMaxPositions` — publish their
    * dead positions as a `#dv=` manifest line instead of being
    * rewritten, so a one-key GDPR purge against a 100 TB table
    * commits ZERO rewritten data files. Files above the threshold
    * take the copy-on-write path (a DV longer than a meaningful
    * fraction of the file costs more to carry and mask than the
    * rewrite it avoids — the same crossover real DV encodings tune).
    * Zone-level false positives (candidate files holding NO matching
    * row) are carried untouched in DV mode — the match scan that
    * prices the DV decision proves their absence for free.
    *
    * `dvMaxFraction = 0.0` is exactly classic [[deleteRange]]: pure
    * zone-level planning, no match scan, every candidate rewritten.
    * Read-side cost of a DV: every scan, DML and OPTIMIZE included,
    * skips the file's dead positions in the columnar reader's live-row
    * mapping ([[liveFrame]]), until the next [[compact]] of its group
    * purges it. [[countRows]] stays exact (live = physical − |dv|);
    * [[statsBounds]] degrades to None while DVs are live
    * (exact-or-None).
    *
    * Concurrency: the [[compact]]/CoW conflict rules, PLUS abort if
    * a rival DV landed on any of our inputs between plan and publish
    * (our position lists and rewrite would silently resurrect the
    * rival's deletes otherwise).
    *
    * `statsCol` may be an integer, DATE, or TIMESTAMP column;
    * [lo, hi] is its zone encoding (values / epoch days / epoch
    * microseconds respectively — what the `#stats=` lines carry and
    * what the SQL DELETE seam's filter conversion produces).
    *
    * Returns (published version, files rewritten, files DV'd, files
    * in the new snapshot). */
  def deleteRangeDv(spark: SparkSession, table: String,
      statsCol: String, lo: Long, hi: Long, dvMaxFraction: Double,
      dvMaxPositions: Int = 1000000): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, lit, not, sum,
      unix_date, unix_micros, when}
    require(dvMaxFraction >= 0.0 && dvMaxFraction <= 1.0,
      s"dvMaxFraction must be in [0, 1]: $dvMaxFraction")
    require(dvMaxPositions > 0,
      s"dvMaxPositions must be positive: $dvMaxPositions")
    val (latest, m) = snapshotOf(table)
    val candidates = m.files.filter { f =>
      m.meta.stats.getOrElse(f, Seq.empty).find(_._1 == statsCol) match {
        case Some((_, mn, mx)) => mx >= lo && mn <= hi
        case None => true // no zones — might hold matches
      }
    }
    if (candidates.isEmpty)
      return (latest, 0, 0, m.files.size)
    // [lo, hi] is the column's ZONE ENCODING: integer values as-is,
    // DATE columns epoch days, TIMESTAMP columns epoch micros — the
    // same int64 the #stats= lines carry (and what the SQL DELETE
    // seam's filter conversion produces), so a date-range GDPR purge
    // works without the caller pre-encoding its data
    def encOf(df: DataFrame): org.apache.spark.sql.Column =
      statKindOf(df.schema(statsCol).dataType, statsCol) match {
        case 'L' => col(statsCol).cast("long")
        case 'D' => unix_date(col(statsCol)).cast("long")
        case 'T' => unix_micros(col(statsCol))
        case 'S' => throw new IllegalArgumentException(
          s"deleteRange needs an integer/date/timestamp column; " +
            s"$statsCol is a string")
      }
    def matchPredOf(df: DataFrame): org.apache.spark.sql.Column = {
      val e = encOf(df)
      e.isNotNull && e.between(lo, hi)
    }
    def liveOf(files: Seq[String]): DataFrame =
      liveFrame(spark, table, latest, m, files)
    // DV vs rewrite, per candidate: one counting scan of the
    // candidates (dv mode only — CoW mode keeps the pure zone-level
    // plan and never pays a pre-scan)
    val (dvFiles, cowFiles) =
      if (dvMaxFraction <= 0.0) (Seq.empty[String], candidates)
      else {
        val cand = withRowIds(liveOf(candidates), "_graft_file")
        val byFile = cand.groupBy(col("_graft_file"))
          .agg(sum(when(matchPredOf(cand), 1L).otherwise(0L)).as("__m"),
            count(lit(1)).as("__n"))
          .collect().map(r => r.getString(0) ->
            (if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
          .toMap
        val split = candidates.flatMap { f =>
          byFile.get(f) match {
            case None | Some((0L, _)) => None // proven empty: carry
            case Some((mm, nn)) if mm <= dvMaxPositions.toLong &&
                mm.toDouble <= dvMaxFraction * nn => Some((f, true))
            case Some(_) => Some((f, false))
          }
        }
        (split.collect { case (f, true) => f },
          split.collect { case (f, false) => f })
      }
    if (dvFiles.isEmpty && cowFiles.isEmpty)
      return (latest, 0, 0, m.files.size) // nothing matches anywhere
    // DV path: the matched live rows' physical positions, unioned
    // with any existing vector (driver-bounded by the per-file cap)
    val dvUpdates: Dvs =
      if (dvFiles.isEmpty) noDvs
      else {
        val dvSrc = withRowIds(liveOf(dvFiles), "_graft_file", "_graft_pos")
        val hits = dvSrc.filter(matchPredOf(dvSrc))
          .select(col("_graft_file"), col("_graft_pos"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        hits.groupBy(_._1).view.mapValues { ps =>
          (m.meta.dvs.getOrElse(ps.head._1, Seq.empty) ++ ps.map(_._2))
            .distinct.sorted
        }.toMap
      }
    val nonce = newNonce()
    // the rewrite re-records stats over the columns every rewritten
    // input carried (integer OR string zones), so it doesn't erode
    // the snapshot's prunability; the rewrite's own tasks gather
    // them. NOT(match) keeps NULL rows by construction: match is
    // isNotNull && between, so its negation is true on NULL — a
    // range predicate is UNKNOWN on NULL, per SQL DELETE
    val (rewritten, rewrittenMeta) =
      if (cowFiles.isEmpty) (Seq.empty[String], FileMeta())
      else {
        val cowSrc = liveOf(cowFiles)
        writeStaged(cowSrc.filter(not(matchPredOf(cowSrc))),
          table, s"d-$nonce", Some(colsInAll(cowFiles)(m.meta.zoneCols)))
      }
    // everything deleted: keep the snapshot readable (its schema
    // survives) with one explicit empty file, whose #nrows line is
    // exactly 0 so countRows/statsBounds stay exact after a full purge
    val (staged, stagedMeta) =
      if (rewritten.nonEmpty || !m.files.forall(cowFiles.toSet))
        (rewritten, rewrittenMeta)
      else {
        val (empty, _) = writeStaged(liveOf(cowFiles).limit(0).coalesce(1),
          table, s"d-$nonce-empty")
        (empty, FileMeta(rows = empty.map(_ -> 0L).toMap))
      }
    val (v, after) = publishReplace(table, cowFiles, staged, stagedMeta,
      m.meta.dvs, dvUpdates, "delete")
    (v, cowFiles.size, dvFiles.size, after)
  }

  /** Copy-on-write MERGE by key — Delta's `MERGE INTO … WHEN MATCHED
    * UPDATE WHEN NOT MATCHED INSERT`, keyed: every base row whose
    * `keyCol` appears in `updates` is REPLACED by the update row,
    * every update key absent from the snapshot is APPENDED, and only
    * the files that can actually hold a matched key are rewritten.
    *
    * Candidate pruning is EXACT at the file-range level: the
    * manifest's per-file [min, max] zones (a manifest-sized frame)
    * broadcast-join against the batch's keys, so a file is touched
    * only if SOME batch key falls inside its range — far tighter
    * than intersecting with the batch's overall [min, max], which a
    * single far-away insert key would blow up to the whole table.
    * Files without a `keyCol` zone are always touched (no proof of
    * absence). The rewrite re-records zone stats + row counts over
    * every column all touched inputs carried; the insert file
    * records the same columns.
    *
    * Duplicate base keys (if the table held them) CONVERGE: all
    * copies are replaced by the single update row — upsert-by-key
    * semantics, same as [[graft.operators.Merge.upsertByKey]].
    * `updates` must be unique per key (checked, loud). Concurrency:
    * the [[deleteRange]] conflict rule — removed touched inputs
    * abort, rival appends ride along (write-serializable).
    *
    * Returns (published version, files rewritten, files in the new
    * snapshot). */
  def mergeByKey(spark: SparkSession, table: String,
      updates: DataFrame, keyCol: String): (Long, Int, Int) = {
    val (v, rewritten, _, after) =
      mergeByKeyDv(spark, table, updates, keyCol, dvMaxFraction = 0.0)
    (v, rewritten, after)
  }

  /** [[mergeByKey]] with MERGE-ON-READ deletion vectors: a candidate
    * file whose matched live rows are few — at most `dvMaxFraction`
    * of its live rows AND at most `dvMaxPositions` — gets its matched
    * positions published as a `#dv=` line instead of being rewritten;
    * the matched keys' NEW rows ride the batch's single insert file.
    * A CDC batch touching one key per file thus commits ZERO
    * rewritten data files — the write-amplification cliff Delta DVs /
    * Iceberg v2 position deletes exist for. Files above the threshold
    * take the copy-on-write rewrite; candidates the match scan proves
    * key-free are carried untouched. `dvMaxFraction = 0.0` is exactly
    * classic [[mergeByKey]] (zone-level planning, no match scan).
    *
    * Returns (published version, files rewritten, files DV'd, files
    * in the new snapshot). */
  def mergeByKeyDv(spark: SparkSession, table: String,
      updates: DataFrame, keyCol: String, dvMaxFraction: Double,
      dvMaxPositions: Int = 1000000,
      checkUnique: Boolean = true): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col,
      count, lit, sum}
    import spark.implicits._
    require(dvMaxFraction >= 0.0 && dvMaxFraction <= 1.0,
      s"dvMaxFraction must be in [0, 1]: $dvMaxFraction")
    require(dvMaxPositions > 0,
      s"dvMaxPositions must be positive: $dvMaxPositions")
    val (latest, m) = snapshotOf(table)
    require(m.files.nonEmpty, s"snapshot v$latest of $table is empty")
    // the batch feeds MANY jobs (dup check, zone hits, the match
    // scan, the rewrite and insert writes) — materialize it once so
    // each job reads cached blocks instead of re-running the batch's
    // lineage (for a streaming MERGE that lineage is a scan + window
    // per job). LAZY: the dup check below is the materializing
    // action, so the previous separate eager-checkpoint job folds
    // into it. Freed as soon as the staged writes consumed it — and
    // on ANY failure path (the catch below), so an aborted merge
    // can't pin the batch's blocks for the session's life.
    val up0 = updates.localCheckpoint(eager = false)
    var toFree = Seq.empty[DataFrame]
    try {
    // `checkUnique = false` is for callers that CONSTRUCTED one row
    // per key (streamMerge's latest-per-key window pick) — the check
    // would re-prove a property that holds by construction, one
    // whole batch aggregation per micro-batch
    if (checkUnique) {
      val dup = up0.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(dup == 0L,
        s"updates carry $dup duplicated $keyCol keys — a keyed MERGE " +
          "needs one row per key")
    }
    // exact range-level candidate test: batch keys x file zones —
    // integer keys against the int64 #stats zones (dates as epoch
    // days, timestamps as micros), STRING keys against the #sstats
    // hex bounds: lower(hex(key)) IS StrStat's encoding (two
    // lowercase hex chars per UTF-8 byte), so plain string
    // comparison of the hex equals unsigned byte order and a
    // string-business-key CDC batch prunes candidates exactly
    // instead of touching every file
    import org.apache.spark.sql.functions.{hex, lower, unix_date,
      unix_micros}
    val keyKind = statKindOf(updates.schema(keyCol).dataType, keyCol)
    val (zonedFiles, hitFiles): (Set[String], Set[String]) =
      keyKind match {
        case 'S' =>
          val zonedS = m.files.flatMap(f =>
            m.meta.sstats.getOrElse(f, Seq.empty).find(_._1 == keyCol)
              .map { case (_, mn, mx) => (f, mn, mx) })
          val hits =
            if (zonedS.isEmpty) Set.empty[String]
            else up0.select(lower(hex(col(keyCol))).as("__kh"))
              .join(broadcast(zonedS.toDF("__f", "__mn", "__mx")),
                col("__kh").between(col("__mn"), col("__mx")))
              .select("__f").distinct().as[String].collect().toSet
          (zonedS.map(_._1).toSet, hits)
        case k =>
          val keyEnc = k match {
            case 'L' => col(keyCol).cast("long")
            case 'D' => unix_date(col(keyCol)).cast("long")
            case _   => unix_micros(col(keyCol))
          }
          val zoned = m.files.flatMap(f =>
            m.meta.stats.getOrElse(f, Seq.empty).find(_._1 == keyCol)
              .map { case (_, mn, mx) => (f, mn, mx) })
          val hits =
            if (zoned.isEmpty) Set.empty[String]
            else up0.select(keyEnc.as("__k"))
              .join(broadcast(zoned.toDF("__f", "__mn", "__mx")),
                col("__k").between(col("__mn"), col("__mx")))
              .select("__f").distinct().as[String].collect().toSet
          (zoned.map(_._1).toSet, hits)
      }
    val zoneless = m.files.toSet -- zonedFiles
    val candidates = m.files.filter(f =>
      hitFiles.contains(f) || zoneless.contains(f))
    val nonce = newNonce()
    // align the batch to the table schema (by name, loud on drift) —
    // the snapshot's merged schema is cached per version, and every
    // scan below reads under it
    val tableSchema = snapshotSchema(spark, table, latest, m.files)
    val tableCols = tableSchema.fieldNames.toSeq
    require(updates.columns.toSet == tableCols.toSet,
      s"updates schema ${updates.columns.toSeq} must match table " +
        s"columns $tableCols")
    val up = up0.select(tableCols.map(col): _*)
    val upKeys = up.select(col(keyCol)).distinct()
    def liveOf(files: Seq[String]): DataFrame =
      liveFrame(spark, table, latest, m, files)
    // DV vs rewrite, per candidate (dv mode only): ONE match scan
    // answers both the budget split and the DV position lists — the
    // matched live rows' (file, pos) pairs are collected once;
    // per-file matched counts are the group sizes, and live totals
    // come from the manifest's own arithmetic (#nrows minus the
    // existing DV's length), so the previous separate counting
    // pre-scan disappears. Only files that match rows but carry no
    // recorded row count (plain commit() files) pay a counting scan,
    // restricted to themselves. Memory note: positions of files the
    // budget then routes to CoW are collected and discarded — bounded
    // by the batch's total matched live rows, the same order the DV
    // path always collected.
    val (dvFiles, cowFiles, dvUpdates) =
      if (dvMaxFraction <= 0.0 || candidates.isEmpty)
        (Seq.empty[String], candidates, noDvs)
      else {
        val matched =
          withRowIds(liveOf(candidates), "_graft_file", "_graft_pos")
            .join(broadcast(upKeys), Seq(keyCol), "left_semi")
            .select(col("_graft_file"), col("_graft_pos"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
        val mCount: Map[String, Long] =
          matched.groupBy(_._1).view.mapValues(_.length.toLong).toMap
        val missing = candidates.filter(f =>
          mCount.getOrElse(f, 0L) > 0L && !m.meta.rows.contains(f))
        val scannedN: Map[String, Long] =
          if (missing.isEmpty) Map.empty
          else withRowIds(liveOf(missing), "_graft_file")
            .groupBy(col("_graft_file")).agg(count(lit(1)).as("__n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        def liveN(f: String): Long = scannedN.getOrElse(f,
          m.meta.rows(f) -
            m.meta.dvs.get(f).map(_.size.toLong).getOrElse(0L))
        val split = candidates.flatMap { f =>
          mCount.getOrElse(f, 0L) match {
            case 0L => None // proven key-free: carry
            case mm if mm <= dvMaxPositions.toLong &&
                mm.toDouble <= dvMaxFraction * liveN(f) =>
              Some((f, true))
            case _ => Some((f, false))
          }
        }
        val dvF = split.collect { case (f, true) => f }
        val dvSet = dvF.toSet
        // DV path: matched live rows' positions; their replacement
        // rows ride the insert file below (the key is NOT in any CoW
        // file's base keys, so the anti-join keeps them)
        val dvUp: Dvs =
          if (dvF.isEmpty) noDvs
          else matched.filter(p => dvSet.contains(p._1))
            .groupBy(_._1).view.mapValues { ps =>
              (m.meta.dvs.getOrElse(ps.head._1, Seq.empty) ++
                ps.map(_._2))
                .distinct.sorted
            }.toMap
        (dvF, split.collect { case (f, false) => f }, dvUp)
      }
    // re-record metadata over the columns all rewritten inputs
    // carried — integer or string zones (fresh tables / no rewrite:
    // just the key column); the write tasks gather them
    val keepCols =
      if (cowFiles.isEmpty) Seq(keyCol)
      else colsInAll(cowFiles)(m.meta.zoneCols)
    val (rewritten, rewrittenMeta, inserts) =
      if (cowFiles.isEmpty) (Seq.empty[String], FileMeta(), up)
      else {
        val base = liveOf(cowFiles).localCheckpoint(eager = false)
        val baseKeys = base.select(col(keyCol)).distinct()
          .localCheckpoint(eager = false)
        toFree = Seq(base, baseKeys)
        val replaced = base
          .join(up.select(col(keyCol)), Seq(keyCol), "left_anti")
          .unionByName(up.join(baseKeys, Seq(keyCol), "left_semi"))
        // keep the file count at the rewritten-file count: the rewrite
        // replaces N files with N, not with one-per-shuffle-partition
        val (rw, rwMeta) = writeStaged(replaced, table, s"m-$nonce",
          Some(keepCols).filter(_.nonEmpty), files = cowFiles.size)
        // inserts: update keys matching NO rewritten file (untouched
        // files provably hold none of the batch's keys — the zone or
        // match-scan proof; DV'd rows are dead, so their keys' new
        // rows insert)
        (rw, rwMeta, up.join(baseKeys, Seq(keyCol), "left_anti"))
      }
    // the batch's new keys land as ONE append file (batch-sized),
    // with the count (and stats) gathered by the write task — the
    // previous isEmpty pre-probe job folds into the write: a batch
    // with no inserts deletes the staged junk file after the fact
    // instead of having probed first, so an empty file never lands
    // in the snapshot (it would poison the exact-or-None row count)
    val (insListed, insMeta) = writeStaged(inserts, table,
      s"m-$nonce-ins", Some(keepCols), files = 1)
    val insEmpty = insListed.isEmpty || insMeta.rows.values.sum == 0L
    if (insEmpty && insListed.nonEmpty)
      deleteRecursively(Paths.get(table, "data", s"m-$nonce-ins"))
    val insertStaged = if (insEmpty) Seq.empty[String] else insListed
    // both writes consumed the base checkpoints (and the batch's own
    // checkpoint) — release them now instead of pinning per-MERGE
    // copies for the session's life
    (up0 +: toFree).foreach(Lineage.freeLocalCheckpoint)
    // no column every rewritten input carried: nothing is recorded,
    // not even row counts
    val meta =
      if (keepCols.isEmpty) FileMeta()
      else rewrittenMeta ++ (if (insEmpty) FileMeta() else insMeta)
    // rewrites are written as the union of tableSchema's base rows
    // and the batch, inserts as the batch: both carry exactly
    // tableSchema when the batch's fields match it
    val (v, after) = publishReplace(table, cowFiles,
      rewritten ++ insertStaged, meta, m.meta.dvs, dvUpdates, "merge",
      Some(SchemaSeed(latest, tableSchema,
        if (rewritten.isEmpty && insertStaged.isEmpty) Nil
        else Seq(up.schema))))
    (v, cowFiles.size, dvFiles.size, after)
    } catch {
      case t: Throwable =>
        // error path: release the batch checkpoint (and any base
        // checkpoints taken before the failure) — unpersist is
        // idempotent, so a failure after the success-path frees is
        // harmless
        (up0 +: toFree).foreach(Lineage.freeLocalCheckpoint)
        throw t
    }
  }

  /** Publish one DELTA commit — the seam the SQL merge-on-read
    * row-level operations ([[ManifestDeltaOperation]]) commit
    * through: `deletes` are NEW dead positions per live file (from
    * the writers' (`_graft_file`, `_graft_pos`) row ids), `staged`
    * the already-written insert files with their metadata. ONE
    * atomic version lands: touched files keep their bytes and gain
    * unioned `#dv=` lines, inserts append — zero rewritten data
    * files… except files whose ACCUMULATED deletion vector would
    * blow the budget (`> dvMaxFraction` of the file's rows, or
    * `> dvMaxPositions` absolute), which are rewritten live-minus-DV
    * inline — the same copy-on-write crossover [[deleteRangeDv]] and
    * [[mergeByKeyDv]] apply up front, enforced here at commit because
    * a planner-driven MERGE only learns its matches row-by-row.
    *
    * Same DML conflict rules as [[publishReplace]]: a rival rewrite
    * that removed a touched file aborts (the delete positions were
    * computed against the pinned snapshot), and a rival DV landing
    * on a touched file aborts (unioning would conflate two
    * serializations). Untouched-file rivals ride along.
    *
    * Returns (version, dv-files, rewritten-files). */
  private[graft] def applyDeltaCommit(spark: SparkSession,
      table: String, deletes: Dvs, staged: Seq[String],
      stats: Stats, sstats: SStats, rows: Map[String, Long],
      pvals: Pvals, expectDvs: Dvs, dvMaxFraction: Double,
      dvMaxPositions: Int = 1000000,
      ndvs: Ndvs = noNdvs): (Long, Int, Int) = {
    require(dvMaxFraction >= 0.0 && dvMaxFraction <= 1.0,
      s"dvMaxFraction must be in [0, 1]: $dvMaxFraction")
    val (latest, m) = snapshotOf(table)
    deletes.keys.foreach(f => require(m.files.contains(f),
      s"delta commit deletes from $f, which is not live in $table"))
    // merged per-file vectors; split into keep-as-DV vs rewrite
    val merged: Dvs = deletes.map { case (f, ps) =>
      f -> (expectDvs.getOrElse(f, Seq.empty) ++ ps).distinct.sorted
    }
    val (dvKeep, rewrite) = merged.partition { case (f, all) =>
      val overCap = all.size > dvMaxPositions
      val overFrac = m.meta.rows.get(f)
        .exists(n => all.size.toDouble > dvMaxFraction * n)
      !(overCap || overFrac)
    }
    val nonce = newNonce()
    // CoW fallback: rewrite each over-budget file live-minus-DV, the
    // merged vector masking in the reader and the snapshot's union as
    // the schema (as every rewrite writes) — ONE staged file per
    // input, keeping its partition tuple and re-recording its zone
    // columns (or, stat-less, just its exact #nrows count) in the
    // rewrite job itself
    val rewrites = rewrite.keys.toSeq.sorted.zipWithIndex.map {
      case (f, i) =>
        val (out, meta) = writeStaged(
          liveFrame(spark, table, latest, m, Seq(f), Map(f -> rewrite(f))),
          table, s"dx-$nonce-$i", Some(colsInAll(Seq(f))(m.meta.zoneCols)),
          files = 1)
        require(out.size == 1,
          s"single-file rewrite staged ${out.size} files")
        (out.head, meta ++ FileMeta(pvals = m.meta.pvals.get(f)
          .filter(_.nonEmpty).map(out.head -> _).toMap))
    }
    // on a conflict abort the CoW-fallback rewrites staged under
    // data/dx-<nonce>-* are unreferenced by any manifest — reclaim
    // them eagerly rather than leave orphans for vacuum (the delta
    // write's own s-<nonce> staging is dropped by
    // ManifestDeltaBatchWrite.abort; these dirs are staged HERE, so
    // they are cleaned HERE)
    val (v, _) =
      try publishReplace(table, rewrite.keys.toSeq,
        staged ++ rewrites.map(_._1),
        rewrites.map(_._2).foldLeft(
          FileMeta(stats, sstats, rows, ndvs, pvals))(_ ++ _),
        expectDvs, dvKeep, "delta-operation")
      catch {
        case e: Throwable =>
          rewrites.indices.foreach(i =>
            deleteRecursively(Paths.get(table, "data", s"dx-$nonce-$i")))
          throw e
      }
    (v, dvKeep.size, rewrite.size)
  }

  /** OPTIMIZE — the compaction half next to [[vacuum]]'s retention:
    * coalesce the LATEST snapshot's small files into ~`targetBytes`
    * outputs and publish the rewrite as ONE atomic commit whose
    * manifest lists (survivors + compacted), so readers flip from
    * many-small-files to few-big-files in a single version step.
    * Old manifests still name the old files — time travel keeps
    * working until a [[vacuum]] reclaims them. This is the
    * maintenance operation a 100 TB streaming-ingested table runs
    * nightly: the exactly-once sink lands one file per micro-batch
    * ([[streamCommit]]), and scan cost decays unless something
    * re-packs (the [[graft.operators.Layout.compactionPlan]]
    * prefix-sum discipline, applied to the manifest's own metadata).
    *
    * Grouping runs DRIVER-SIDE over the manifest's file list — the
    * same manifest-sized metadata every commit already reads; the
    * data itself moves through ONE distributed job for ALL groups
    * (inputs tagged with their group id by a broadcast lookup on the
    * scan's `_graft_file`, clustered by group, written partitioned by
    * group), so a nightly OPTIMIZE over thousands of groups never
    * serializes group-at-a-time on the driver. Groups that are
    * already one file are carried untouched (no write amplification
    * on compacted state — re-running compact is a no-op publish...
    * which is skipped entirely, returning the current version).
    *
    * Zone stats SURVIVE compaction: when every input of a group
    * carries a `#stats=` line for a column, the output file gets
    * that column's merged min(mins)/max(maxes) — pure manifest
    * arithmetic, no data scan — so [[readPruned]] keeps skipping the
    * (biggest, hottest) compacted files a nightly OPTIMIZE produces,
    * exactly as Iceberg/Delta OPTIMIZE preserves file stats. A group
    * with any stats-less input publishes no line for the output
    * (always-scan fallback: merged bounds would be a guess).
    *
    * Concurrency: the publish runs the same put-if-absent loop as
    * [[commitTagged]]. On losing a race, the rewrite is still valid
    * iff every compacted input is STILL live in the new latest
    * (rivals appended); their new files are carried alongside. If a
    * rival REMOVED a compacted input (a concurrent rewrite), the
    * compaction aborts loudly rather than resurrect dropped rows —
    * the Delta/Iceberg conflict rule for competing OPTIMIZEs.
    *
    * Returns (published version, files before, files after). */
  def compact(spark: SparkSession, table: String,
      targetBytes: Long): (Long, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val (latest, m0) = snapshotOf(table)
    val files = m0.files
    val root = Paths.get(table)
    def hasDv(f: String): Boolean =
      m0.meta.dvs.get(f).exists(_.nonEmpty)
    // prefix-sum packing in manifest order (compactionPlan's rule,
    // driver-side: the file list IS metadata)
    var cum = 0L
    val grouped = files.map { f =>
      val sz = Files.size(root.resolve(f))
      val grp = (cum / targetBytes)
      cum += sz
      (f, grp)
    }.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
    // already-one-file groups are carried untouched — UNLESS a member
    // carries a deletion vector: OPTIMIZE is where merge-on-read debt
    // is paid down, so DV'd files always rewrite (the rewrite applies
    // the mask and the published manifest drops the #dv= line)
    val (single, multi) = grouped.partition(g =>
      g.size == 1 && !g.exists(hasDv))
    if (multi.isEmpty) return (latest, files.size, files.size)
    val nonce = newNonce()
    // ONE job rewrites every group: tag each input row with its group
    // through a lookup on the scan's `_graft_file` (the manifest path,
    // shipped as a broadcast variable — no broadcast job, no stage
    // boundary), cluster by group so each group lands whole in one
    // task, and write partitioned by group — N groups never become N
    // sequential driver-looped jobs. The scan reads under the
    // snapshot's cached union (groups spanning a schema-evolution
    // boundary rewrite under it, late columns NULL), and DV'd inputs
    // rewrite through the reader's mask: their dead rows fall out
    // here, once, instead of at every later read.
    import org.apache.spark.sql.functions.{col, udf}
    val groupOf = spark.sparkContext.broadcast(
      multi.zipWithIndex.flatMap { case (grp, gi) => grp.map(_ -> gi) }
        .toMap)
    val srcSchema = snapshotSchema(spark, table, latest, m0.files)
    val src = withRowIds(
      liveFrame(spark, table, latest, m0, multi.flatten), "_graft_file")
    val dataCols = srcSchema.fieldNames.toSeq
    require(!dataCols.contains("__grp"),
      s"compact's internal column collides with a table column of $table")
    // groups that paid down merge-on-read debt: the inputs' manifest
    // arithmetic no longer bounds their output EXACTLY (the masked
    // rows may have held the min/max), so their outputs' stats and
    // counts come from the rewrite's own tasks, over the columns every
    // counted input carried (the write tracks the union of those
    // groups' columns; each group keeps its own); statsBounds turns
    // exact again the moment the DVs purge. Other groups' outputs get
    // MERGED lines for every column all their inputs carry — the
    // union's min(mins)/max(maxes) bounds any output file exactly —
    // and the summed row count when every input carries one (the
    // output holds exactly its inputs' rows). KNOWN-empty inputs
    // (#nrows=0) contribute no rows, so their (absent) stats must not
    // erase the output's: only inputs that can hold rows join the
    // column intersection.
    val countedOf = multi.map(_.filterNot(f =>
      m0.meta.rows.get(f).contains(0L)))
    val dvCols = multi.zip(countedOf).map { case (grp, counted) =>
      if (grp.exists(hasDv)) colsInAll(counted)(m0.meta.zoneCols)
      else Seq.empty }
    val tracked = dvCols.flatten.distinct
    val grp = udf((f: String) => groupOf.value(f))
    val written = writeFiles(
      src.withColumn("__grp", grp(col("_graft_file")))
        .repartition(multi.size, col("__grp"))
        .select((dataCols.map(col) :+ col("__grp")): _*),
      table, s".c-$nonce-stage", tracked, partitionBy = Seq("__grp"))
    // flatten the partitioned staging layout into per-group dirs; a
    // group whose inputs were all empty wrote no partition — give it
    // an explicit empty file so its rows-preserving identity (and the
    // snapshot's schema) survive. Every output takes its group's
    // `g<gi>-` prefix, so its basename names its group (the staged
    // names are already unique: each file has its own UUID).
    val moved = flatten(table, s".c-$nonce-stage", written) {
      (gi, name, _) => s"data/c-$nonce-$gi/g$gi-$name" }
    val staged: Seq[Seq[(String, FileStats)]] = multi.indices.map { gi =>
      val outs = moved.collect { case (g, f, st) if g == gi => (f, st) }
      if (outs.nonEmpty) outs
      else writeFiles(src.limit(0).select(dataCols.map(col): _*)
        .coalesce(1), table, s"c-$nonce-$gi", tracked)
    }
    val meta = multi.indices.map { gi =>
      val (grp, counted, outs) = (multi(gi), countedOf(gi),
        staged(gi).map(_._1))
      def fold[E](entries: Map[String, Seq[E]], name: E => String)
          (merge: Seq[E] => E): Seq[E] =
        colsInAll(counted)(f => entries.getOrElse(f, Seq.empty).map(name))
          .map(c => merge(counted.map(f => entries(f).find(name(_) == c).get)))
      if (grp.exists(hasDv)) metaOf(staged(gi), dvCols(gi))
      else {
        val st = fold(m0.meta.stats, (_: (String, Long, Long))._1) { es =>
          (es.head._1, es.map(_._2).min, es.map(_._3).max) }
        // string zones merge the same way — min of stored mins / max
        // of stored maxes by BYTE comparison; stored bounds are
        // already conservative, so their fold bounds any output file
        // exactly as soundly
        def pick(keep: Int => Boolean)(a: String, b: String): String =
          if (keep(StrStat.cmp(StrStat.unhex(a), StrStat.unhex(b)))) a
          else b
        val sst = fold(m0.meta.sstats,
            (_: (String, String, String))._1) { es =>
          (es.head._1, es.map(_._2).reduce(pick(_ <= 0)),
            es.map(_._3).reduce(pick(_ >= 0))) }
        // NDV sketches merge by register max (HLL union law) and
        // histogram counts by vector ADD (fixed log frame, emitted
        // only when every input carries one) — pure manifest
        // arithmetic. A multi-output group stamps each output with
        // the union sketch: per-file it only over-covers, and the
        // table-level register max over any subset stays the exact
        // union.
        val nd = fold(m0.meta.ndvs,
            (_: (String, Long, String, String))._1) { es =>
          val regs = es.map(e => StrStat.unhex(e._3)).reduce(NdvSketch.merge)
          val hist =
            if (es.exists(_._4.isEmpty)) ""
            else graft.expressions.LogHist.encode(
              es.map(e => graft.expressions.LogHist.decode(e._4))
                .reduce(graft.expressions.LogHist.merge))
          (es.head._1, es.map(_._2).sum, StrStat.hex(regs), hist)
        }
        val counts = grp.map(m0.meta.rows.get)
        FileMeta(outs.map(_ -> st).toMap, outs.map(_ -> sst).toMap,
          if (outs.size == 1 && counts.forall(_.isDefined))
            Map(outs.head -> counts.flatten.sum)
          else Map.empty,
          outs.map(_ -> nd).toMap)
      }
    }.reduce(_ ++ _)
    // rivals' appends since our snapshot ride along untouched
    // every group's output is written from `src`, read under the
    // snapshot's schema
    val (v, after) = publishReplace(table, multi.flatten,
      staged.flatten.map(_._1), meta, m0.meta.dvs, what = "compacted",
      seed = Some(SchemaSeed(latest, srcSchema, Seq(srcSchema))))
    (v, files.size, after)
  }

  /** Candidate `#pval=` encodings of a user-supplied partition
    * value: typed values encode directly (the canonical int64 / hex
    * forms); a STRING value — the SQL CALL surface — additionally
    * tries the integer and date renderings, and the file match picks
    * whichever encoding the partition actually carries. */
  private def pvalCandidates(value: Any): Set[String] = value match {
    case null => Set("N")
    case s: String =>
      Set("S:" + StrStat.hex(StrStat.bytesOf(s))) ++
        scala.util.Try(s.trim.toLong).toOption.map(l => s"L:$l") ++
        scala.util.Try(java.time.LocalDate.parse(s.trim).toEpochDay)
          .toOption.map(d => s"L:$d")
    case l: Long => Set(s"L:$l")
    case i: Int => Set(s"L:${i.toLong}")
    case d: java.sql.Date => Set(s"L:${d.toLocalDate.toEpochDay}")
    case d: java.time.LocalDate => Set(s"L:${d.toEpochDay}")
    case t: java.sql.Timestamp => Set(
      s"L:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L}")
    case i: java.time.Instant => Set(
      s"L:${Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000L}")
    case other => throw new IllegalArgumentException(
      s"unsupported partition value type: ${other.getClass}")
  }

  /** Partition-scoped OPTIMIZE — the realistic maintenance shape
    * for partitioned tables at 100 TB (compact yesterday's
    * partition, never the table): bin-packs and rewrites ONLY the
    * files whose `#pval=` tuple matches `partCol = value`, each FULL
    * partition tuple independently (multi-column layouts never merge
    * across partitions). Outputs inherit their tuple's pval lines
    * and zone stats re-derived by the rewrite's own tasks; DV'd
    * inputs rewrite through the reader's mask ([[liveFrame]]), paying
    * down merge-on-read debt. Everything else is carried by
    * reference: cost scales with the selected partition's bytes, not
    * the table's. Same optimistic conflict rules as [[compact]]. */
  def compactPartition(spark: SparkSession, table: String,
      targetBytes: Long, partCol: String, value: Any)
      : (Long, Int, Int) = {
    require(targetBytes > 0,
      s"targetBytes must be positive: $targetBytes")
    val (latest, m0) = snapshotOf(table)
    val cands = pvalCandidates(value)
    val eligible = m0.files.filter(f =>
      m0.meta.pvals.getOrElse(f, Seq.empty)
        .exists { case (c, e) => c == partCol && cands.contains(e) })
    require(eligible.nonEmpty,
      s"no live file of $table carries partition $partCol=$value — " +
        "nothing to compact (check the column and value)")
    val root = Paths.get(table)
    def hasDv(f: String): Boolean = m0.meta.dvs.get(f).exists(_.nonEmpty)
    val byTuple = eligible
      .groupBy(f => m0.meta.pvals.getOrElse(f, Seq.empty).sorted)
      .toSeq.sortBy(_._1.mkString("|"))
    val todo = byTuple.filter { case (_, fs) =>
      fs.size > 1 || fs.exists(hasDv) }
    if (todo.isEmpty) return (latest, m0.files.size, m0.files.size)
    val nonce = newNonce()
    val stagedAll = todo.zipWithIndex.map { case ((tuple, fs), gi) =>
      val bytes = fs.map(f => Files.size(root.resolve(f))).sum
      val nOut = math.max(1L,
        (bytes + targetBytes - 1) / targetBytes).toInt
      val counted = fs.filterNot(f => m0.meta.rows.get(f).contains(0L))
      // the group's stats ride its rewrite job's tasks
      val (outs, meta) = writeStaged(
        liveFrame(spark, table, latest, m0, fs), table, s"cp-$nonce-$gi",
        Some(colsInAll(counted)(m0.meta.zoneCols)), files = nOut)
      (outs, meta ++ FileMeta(pvals = outs.map(_ -> tuple).toMap))
    }
    val (v, after) = publishReplace(table, todo.flatMap(_._2),
      stagedAll.flatMap(_._1), stagedAll.map(_._2).reduce(_ ++ _),
      m0.meta.dvs, what = "partition-OPTIMIZE")
    (v, m0.files.size, after)
  }

  /** OPTIMIZE with RE-CLUSTERING — Delta's `OPTIMIZE ZORDER BY` /
    * liquid clustering, vs [[compact]]'s layout-preserving packing:
    * rewrite the WHOLE snapshot sorted by the n-D Hilbert value of
    * `clusterCols`, in ~targetBytes outputs, so post-OPTIMIZE zones
    * TIGHTEN instead of merely merging — a table ingested in arrival
    * order has every file spanning every column's full range (zone
    * maps prune nothing); after the clustered rewrite each file owns
    * a contiguous Hilbert range ≈ a box in cluster-column space, and
    * range predicates on ANY cluster column skip files again. The
    * rewrite reads through the reader's deletion-vector mask and
    * purges the vectors, like [[compact]].
    *
    * Mechanics: each cluster column is scaled into [0, 2^bits) from
    * its snapshot min/max — metadata-only via [[statsBounds]] when
    * the manifest can answer, one aggregate scan otherwise (NULLs
    * cluster at the origin; order inside the curve is what matters,
    * not the exact bucket). One distributed job range-partitions the
    * live rows by the Hilbert value and sorts within partitions —
    * the write IS the layout. Per-file stats are RE-derived over
    * (clusterCols ∪ columns every counted input carried) inside the
    * rewrite's tasks: merged input arithmetic would be worthless
    * here, the whole point is that rows MOVED.
    *
    * Concurrency: [[compact]]'s rules — all inputs must still be
    * live with unchanged DVs at publish; rival appends ride along
    * (they join the clustered layout at the NEXT OPTIMIZE, exactly
    * Delta's incremental-clustering behavior).
    *
    * Returns (published version, files before, files after). */
  def compactClustered(spark: SparkSession, table: String,
      targetBytes: Long, clusterCols: Seq[String],
      bits: Int = 12): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max,
      min}
    require(targetBytes > 0,
      s"targetBytes must be positive: $targetBytes")
    require(clusterCols.size >= 2,
      s"clustered OPTIMIZE needs >= 2 cluster columns (one column " +
        s"is a plain sort): $clusterCols")
    require(bits > 0 && clusterCols.size.toLong * bits <= 62,
      s"dims*bits must be in (0, 62]: ${clusterCols.size}*$bits")
    val (latest, m0) = snapshotOf(table)
    require(m0.files.nonEmpty,
      s"snapshot v$latest of $table lists no data files")
    val root = Paths.get(table)
    val src = liveFrame(spark, table, latest, m0, m0.files)
    val dataCols = src.columns.toSeq
    require(clusterCols.forall(dataCols.contains),
      s"cluster columns $clusterCols must exist in $dataCols")
    require(!dataCols.contains("__h"),
      s"compactClustered's internal column collides with a table " +
        s"column of $table")
    // cluster columns scale onto an integer Hilbert grid via their
    // canonical int64 encoding — the SAME one the zone stats use
    // (statKindOf: integers as-is, DATE as epoch days, TIMESTAMP as
    // epoch micros), so manifest-answered bounds and the scaling
    // expression always agree; strings have no such grid — loud
    case class ClusterEnc(kind: Char) {
      def sql(c: String): String = kind match {
        case 'D' => s"unix_date(`$c`)"
        case 'T' => s"unix_micros(`$c`)"
        case _   => s"`$c`"
      }
    }
    val encOf: Map[String, ClusterEnc] = clusterCols.map { c =>
      val k = statKindOf(src.schema(c).dataType, c)
      require(k != 'S',
        s"clustered OPTIMIZE scales cluster columns onto an integer " +
          s"Hilbert grid; string column $c cannot cluster — derive " +
          "a hash or dictionary-code column and cluster on that")
      c -> ClusterEnc(k)
    }.toMap
    // per-column [min, max] — manifest-answered when possible, one
    // aggregate scan otherwise
    val bounds: Seq[(String, Long, Long)] = {
      val fromMeta = clusterCols.map(c =>
        c -> statsBounds(table, c, Some(latest)))
      if (fromMeta.forall(_._2.isDefined))
        fromMeta.map { case (c, b) => (c, b.get._1, b.get._2) }
      else {
        val aggs = clusterCols.flatMap(c => Seq(
          min(org.apache.spark.sql.functions.expr(encOf(c).sql(c))
            .cast("long")).as(s"__mn_$c"),
          max(org.apache.spark.sql.functions.expr(encOf(c).sql(c))
            .cast("long")).as(s"__mx_$c")))
        val r = src.agg(aggs.head, aggs.tail: _*).head()
        clusterCols.zipWithIndex.map { case (c, i) =>
          require(!r.isNullAt(2 * i),
            s"cluster column $c is all-NULL/empty — nothing to " +
              "cluster on")
          (c, r.getLong(2 * i), r.getLong(2 * i + 1))
        }
      }
    }
    val cell = (1L << bits) - 1
    val scaled = bounds.map { case (c, mn, mx) =>
      // ALL arithmetic in DECIMAL(38,0): for extreme domains (min
      // near Long.MinValue, max near Long.MaxValue) both (c - mn)
      // and (mx - mn) wrap in int64 — the range is computed as
      // BigInt driver-side and the subtraction runs decimal, so a
      // valid-but-wide column still clusters instead of feeding
      // negative cells to the Hilbert walk
      val range = (BigInt(mx) - BigInt(mn)).max(BigInt(1))
      org.apache.spark.sql.functions.expr(
        s"CAST((CAST(${encOf(c).sql(c)} AS DECIMAL(38,0)) - " +
          s"CAST(${mn} AS DECIMAL(38,0))) * $cell " +
          s"div CAST($range AS DECIMAL(38,0)) AS BIGINT)")
    }
    // NULL cluster values sort at the origin cell (order inside the
    // curve is what matters, not the exact bucket)
    val scaledSafe = scaled.map(e => coalesce(e, lit(0L)))
    val totalBytes = m0.files.map(f => Files.size(root.resolve(f))).sum
    val nOut = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    val nonce = newNonce()
    require(!dataCols.contains("__c") && !dataCols.contains("__bkt"),
      s"compactClustered's internal columns collide with a table " +
        s"column of $table")
    val withH = src.withColumn("__h", graft.operators.Layout
      .hilbertValueNd(scaledSafe, bits))
    // DETERMINISTIC equal-frequency range boundaries, replacing
    // repartitionByRange: the RangePartitioner SAMPLES (seeded by
    // rdd id), so the same OPTIMIZE could cut the curve differently
    // run to run — boundary drift that costs a pruned read an extra
    // file. One map-side-combined histogram over the Hilbert values
    // quantized to <= 2^16 cells (metadata-sized: the collect is the
    // cell census, never rows) prefix-sums driver-side into exact
    // cut points; rows then pick their output file through a
    // broadcast cell->bucket join. Balance granularity = one cell's
    // rows (they never split across buckets).
    val hBits = clusterCols.size * bits
    val shift = math.max(0, hBits - 16)
    import org.apache.spark.sql.functions.{broadcast, count => cnt,
      shiftright}
    val hist = withH
      .groupBy(shiftright(col("__h"), shift).as("__c"))
      .agg(cnt(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val totalRows = hist.map(_._2).sum
    var bkt = 0
    var run = 0L
    val cellBkt = hist.map { case (c, n) =>
      val pair = (c, bkt)
      run += n
      while (bkt < nOut - 1 && run * nOut >= totalRows * (bkt + 1L))
        bkt += 1
      pair
    }
    import spark.implicits._
    // stats: the cluster columns (that's what the layout now serves)
    // plus whatever every counted input already carried — gathered by
    // the rewrite's own tasks: merged input arithmetic would be
    // worthless here, the whole point is that rows MOVED
    val counted = m0.files.filterNot(f => m0.meta.rows.get(f).contains(0L))
    val statsCols =
      (clusterCols ++ colsInAll(counted)(m0.meta.zoneCols)).distinct.sorted
    val written = writeFiles(withH
      .withColumn("__c", shiftright(col("__h"), shift))
      .join(broadcast(cellBkt.toSeq.toDF("__c", "__bkt")), "__c")
      .repartition(math.max(1, nOut), col("__bkt"))
      .sortWithinPartitions(col("__bkt"), col("__h"))
      .select((dataCols.map(col) :+ col("__bkt")): _*),
      table, s".cc-$nonce-stage", statsCols, partitionBy = Seq("__bkt"))
    // flatten the partitioned staging layout into the final stage dir
    // with bucket-prefixed names: curve order survives in the file
    // names, and names stay unique even when one task wrote several
    // buckets' files
    val moved = flatten(table, s".cc-$nonce-stage", written) {
      (b, _, i) => f"data/cc-$nonce/part-b$b%05d-$i%03d-$nonce.parquet" }
    // a fully-DV'd (zero live rows) snapshot wrote no bucket: stage
    // one explicit empty file so the snapshot's schema survives the
    // rewrite (compact's empty-group rule)
    val outs =
      if (moved.nonEmpty) moved.map(m => (m._2, m._3))
      else writeFiles(src.limit(0).select(dataCols.map(col): _*)
        .coalesce(1), table, s"cc-$nonce", statsCols)
    val staged = outs.map(_._1)
    val meta = metaOf(outs, statsCols)
    val (v, after) = publishReplace(table, m0.files, staged, meta,
      m0.meta.dvs, what = "clustered-OPTIMIZE")
    (v, m0.files.size, after)
  }

  /** The checksum sidecar Hadoop's local file system writes beside
    * data file `p` (and verifies on every read of it). */
  private[sources] def crcOf(p: Path): Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.delete)
      }
    }

  /** Retention sweep (the VACUUM half of the lifecycle, next to the
    * [[graft.operators.Layout.compactionPlan]] OPTIMIZE half): delete
    * every data file not referenced by the newest `keepVersions`
    * manifests — including orphans staged by crashed or race-losing
    * writers — then retire the older manifests. Time travel contracts
    * to the retained window, storage stops growing without bound. The
    * ONLY place the data directory is ever listed (a maintenance job,
    * not a read path), and still metadata-sized work: the candidate
    * set is file names, never file contents. Only `.parquet` files not
    * named `_…` are candidates, and each deleted file's `.crc`
    * checksum sidecar goes with it.
    *
    * `graceMs` is the IN-FLIGHT-WRITER guard (Delta/Iceberg's
    * retention window in miniature): an unreferenced file younger
    * than it is presumed to be a concurrent commit's staged data —
    * not yet published, about to be — and is left alone. Without the
    * window, vacuum racing a live writer deletes its staged files,
    * the writer then wins its publish, and the committed snapshot
    * 404s on read. The default comfortably exceeds any staging
    * write's duration; pass 0 only when no writer can be in flight
    * (tests, single-process maintenance). Returns
    * (files kept, files deleted). */
  def vacuum(table: String, keepVersions: Int,
      graceMs: Long = 20L * 60L * 1000L): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be ≥1: $keepVersions")
    val vs = versions(table)
    val keep = vs.takeRight(keepVersions)
    val live = keep.flatMap(manifestOf(table, _).files).toSet
    val dataRoot = Paths.get(table, "data")
    val all =
      if (!Files.isDirectory(dataRoot)) Seq.empty[Path]
      else Using.resource(Files.walk(dataRoot)) { stream =>
        stream.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith("_"))
          .toSeq
      }
    val root = Paths.get(table)
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = all.filterNot(p => live.contains(
        root.relativize(p).toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
    dead.foreach { p => Files.delete(p); Files.deleteIfExists(crcOf(p)) }
    vs.dropRight(keepVersions).foreach(v =>
      Files.delete(manifestDir(table).resolve(s"v$v")))
    (live.size, dead.size)
  }

  /** DESCRIBE HISTORY — the audit view a lakehouse table owner reads
    * daily: one row per live version with its file count, metadata
    * row count when every file carries one (live = physical − |dv|,
    * −1 when unknown: exact-or-refuse, same contract as
    * [[countRows]]), total deletion-vector positions, and the
    * idempotence tag if the commit carried one. Pure manifest reads —
    * version-count-sized work, zero data I/O. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    vs.map { v =>
      val m = manifestOf(table, v)
      val live = m.files.map(f => m.meta.rows.get(f)
        .map(_ - m.meta.dvs.getOrElse(f, Seq.empty).size))
      val nRows =
        if (live.forall(_.isDefined)) live.flatten.sum else -1L
      val nDv = m.files.map(f =>
        m.meta.dvs.getOrElse(f, Seq.empty).size.toLong).sum
      (v, m.files.size.toLong, nRows, nDv,
        tagOf(table, v).getOrElse(""))
    }.toDF("version", "n_files", "n_rows", "dv_positions", "tag")
  }

  /** Read a snapshot: the given version, or the latest. Scans exactly
    * the manifest's file list — the data directory is never listed —
    * through the `graft-manifest` scan over that one pinned snapshot
    * ([[ManifestV2.frameOf]]): small files pack into Spark-sized
    * partitions and deletion vectors mask inside the reader. The
    * schema is the union of the listed files' footers (the S16
    * read-side evolution contract applied to a snapshot: a commit
    * that ADDED columns reads as one frame with the older commits'
    * missing columns as NULL, what Spark's `mergeSchema` inference
    * gives the same files). The union is the version's cached
    * [[snapshotSchema]], paid once per snapshot on the driver or
    * seeded by the publish, so building the frame starts no Spark
    * job. */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame =
    ManifestV2.frameOf(spark, table,
      ManifestV2.resolvePinned(ManifestV2Options(table, version)))
}

/** The `#ndv=` register sketch: a fixed-[[M]] HyperLogLog whose
  * update/merge/estimate discipline is BIT-IDENTICAL to the engine's
  * K1 sketches ([[graft.expressions.HllRegistersAgg]] with m = M,
  * unsalted): h = top 60 md5 bits of the canonical string, bucket =
  * h % M, rho = (60 − log2 M) + 1 − bitlen(h div M). The streaming
  * writers update registers per row through [[FileStats]], the one
  * accumulator the DSv2 task writer and the Scala API's write tasks
  * share — one blob format, any write path. */
private[graft] object NdvSketch {
  /** Register count: 256 bytes/column/file (512 hex chars on the
    * manifest line — metadata-sized), standard error ≈ 1.04/√M ≈
    * 6.5%, ample for CBO join/broadcast decisions. */
  val M = 256

  private val vBits = 60 - Integer.numberOfTrailingZeros(M)

  def empty(): Array[Byte] = new Array[Byte](M)

  /** Fold one canonical-string observation into the registers. */
  def update(regs: Array[Byte], utf8: Array[Byte]): Unit = {
    val h = graft.expressions.Md5Fold.hash60(utf8)
    val bucket = (h % M).toInt
    val q = h / M
    val rho =
      if (q == 0L) vBits + 1
      else vBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(q))
    if (rho > regs(bucket)) regs(bucket) = rho.toByte
  }

  /** Union = byte-wise max (the HLL merge law — what lets zone-level
    * sketches roll up to any file subset without a data scan). */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length,
      s"register width mismatch: ${a.length} vs ${b.length}")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = if (a(i) >= b(i)) a(i) else b(i)
      i += 1
    }
    out
  }

  /** Distinct-count estimate: the raw HLL harmonic mean with the
    * standard small-range LINEAR COUNTING correction (file-level
    * cardinalities are routinely below the 2.5·M raw regime). */
  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    val alpha = 0.7213 / (1 + 1.079 / m)
    var harm = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      harm += math.pow(2.0, -(regs(i) & 0xFF))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m * m / harm
    val e =
      if (raw <= 2.5 * m && zeros > 0)
        m * math.log(m.toDouble / zeros)
      else raw
    math.max(1L, math.round(e))
  }
}

/** STRING zone-stat encoding shared by the manifest (`#sstats=`
  * lines) and the DSv2 scan's pruning: values are UTF-8 BYTES,
  * compared unsigned byte-wise — identical to Spark's UTF8String
  * ordering and DuckDB's string comparison, so a zone test can never
  * disagree with the engine's own row-level filter. Hex keeps the
  * manifest line format delimiter-safe for arbitrary content
  * (including '|', newlines, and invalid-UTF-8-after-truncation
  * upper bounds that no String round-trip could carry). */
private[graft] object StrStat {

  /** Stored bound length cap — a manifest line stays metadata-sized
    * no matter how long the column's values run. */
  val MaxBytes = 64

  def bytesOf(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xFF}%02x"))
    sb.toString
  }

  def unhex(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** Unsigned byte-wise lexicographic compare (prefix sorts first). */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Conservative stored LOWER bound: a byte prefix sorts ≤ the full
    * value, so plain truncation is sound. */
  def truncLower(b: Array[Byte]): Array[Byte] =
    if (b.length <= MaxBytes) b else b.take(MaxBytes)

  /** Conservative stored UPPER bound: the value itself when short;
    * otherwise the [[MaxBytes]] prefix with its last non-0xFF byte
    * incremented and the tail dropped — strictly above every byte
    * string starting with the original prefix (Iceberg's
    * truncate-and-increment rule). None when no byte can increment
    * (all 0xFF): the column gets no line and the file always scans. */
  def truncUpper(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= MaxBytes) Some(b)
    else {
      val p = b.take(MaxBytes)
      var i = p.length - 1
      while (i >= 0 && (p(i) & 0xFF) == 0xFF) i -= 1
      if (i < 0) None
      else {
        val out = p.take(i + 1)
        out(i) = ((out(i) & 0xFF) + 1).toByte
        Some(out)
      }
    }

  /** One `#sstats=` entry from an observed (min, max) — hex-encoded,
    * truncation-conservative; None when the max is un-boundable. */
  def entry(c: String, mn: String,
      mx: String): Option[(String, String, String)] =
    truncUpper(bytesOf(mx)).map(hi =>
      (c, hex(truncLower(bytesOf(mn))), hex(hi)))
}
