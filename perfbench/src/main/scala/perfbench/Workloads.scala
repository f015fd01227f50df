package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.hashBucket
import graft.operators.{Dedup, Sharding, TextAnalysis}
import graft.pipelines.{Attributes, Enrichment, Importer}
import graft.sources.ManifestTable

/** Latency samples, attempts and failures of the timed operations.
  * A call that throws counts as attempted and failed and yields no
  * latency sample. Nothing is recorded while `on` is false (set-up). */
final class Ops {
  private val latencies = mutable.LinkedHashMap.empty[String,
    mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var on = false

  def apply[T](kind: String)(body: => T): T = {
    if (on) attempted += 1
    val t0 = System.nanoTime()
    val r =
      try body
      catch { case e: Throwable => if (on) failed += 1; throw e }
    if (on) latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e6
    r
  }

  def samples(kind: String): Seq[Double] =
    latencies.get(kind).map(_.toSeq).getOrElse(Nil)
}

/** What one iteration did: input records and bytes it consumed, the
  * wall time they count against, and the bytes it wrote to storage. */
final case class Iter(records: Long, inputBytes: Long, ms: Double,
    bytesWritten: Long)

/** A failed output check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** Runs independent jobs on `threads` driver threads and waits for all
  * of them, rethrowing the first error; with one thread, in order on the
  * caller. Only the untimed warm-up uses more than one. */
object Par {
  def run(threads: Int)(jobs: Seq[() => Unit]): Unit =
    if (threads <= 1) jobs.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try jobs.map(j => pool.submit(new Runnable { def run(): Unit = j() }))
        .foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      finally pool.shutdownNow()
    }
}

/** Span helpers shared by workloads and their parts. */
abstract class Layered(ops: Ops, trace: () => Option[Trace]) {
  protected def span[T](name: String)(body: => T): T =
    trace() match {
      case Some(t) => t.span(name)(body)
      case None => body
    }

  /** A timed operation inside a layer span. */
  protected def op[T](kind: String, layer: String)(body: => T): T =
    span(layer)(ops(kind)(body))
}

/** One benchmark workload bound to a session and a working directory.
  * With `corrupt` set, each iteration damages its own output before
  * checking it, which must make the check fail. */
abstract class Workload(ops: Ops, trace: () => Option[Trace])
    extends Layered(ops, trace) {

  /** Write the seeded inputs; returns their size facts for the artifact. */
  def generate(): Map[String, Any]

  /** Set-up work after generation (none by default). */
  def prepare(): Unit = ()

  /** The untimed warm-up. */
  def warmup(): Unit = iteration(0)

  /** One iteration, rebuilt from the on-disk inputs; checks its output. */
  def iteration(i: Int): Iter

  /** Iterations per unit of the timed loop: it stops, and traced and
    * untraced runs alternate, only on whole blocks. */
  def block: Int = 1

  /** Fewest blocks an untraced run times, whatever `--seconds` says. */
  def minBlocks: Int = 2

  /** Final output checks and end-of-run work; facts for the artifact. */
  def finish(): Map[String, Any] = Map.empty

  /** This workload's per-layer values (names from [[Layers.all]]). */
  def layers(r: Trace#Report): Map[String, Double]
}

/** One job of the batch workload: its stages write under `out`. */
abstract class Part(ops: Ops, trace: () => Option[Trace])
    extends Layered(ops, trace) {
  def generate(): Map[String, Any]
  def records: Long
  def inputBytes: Long
  def stages(out: Path): Unit
  /** Damage the output (corrupt mode), then check it. */
  def check(out: Path, i: Int, damage: Boolean): Unit
  def finish(out: Path): Map[String, Any]
  def layers(r: Trace#Report, out: Path): Map[String, Double]
}

// ------------------------------------------------------------------ batch

/** The nightly batch: the catalog import job, then the training-data
  * curation job, each rebuilt from its own seeded inputs. */
final class Batch(dir: Path, ops: Ops, trace: () => Option[Trace],
    corrupt: Boolean, ingest: Ingest, curate: Curate)
    extends Workload(ops, trace) {

  private val parts = Seq(ingest, curate)
  private var lastIter = -1
  private def iterDir(i: Int): Path = dir.resolve(s"iter-$i")

  def generate(): Map[String, Any] =
    Map("ingest" -> ingest.generate(), "curate" -> curate.generate())

  /** The untimed warm-up's cost is mostly cold driver work (query
    * compilation, codegen, JIT) that one thread would serialise, so it
    * runs the two parts, which share no input or output, side by side,
    * and the import job's independent commits on three threads. */
  override def warmup(): Unit = {
    val out = iterDir(0)
    Par.run(2)(Seq(() => ingest.stages(out, threads = 3),
      () => curate.stages(out)))
    parts.foreach(_.check(out, 0, corrupt))
    lastIter = 0
  }

  def iteration(i: Int): Iter = {
    val out = iterDir(i)
    val t0 = System.nanoTime()
    span("iteration")(parts.foreach(_.stages(out)))
    val ms = (System.nanoTime() - t0) / 1e6
    parts.foreach(_.check(out, i, corrupt))
    val bytes = Stats.treeBytes(out)
    if (lastIter >= 0) Stats.deleteTree(iterDir(lastIter))
    lastIter = i
    Iter(parts.map(_.records).sum, parts.map(_.inputBytes).sum, ms, bytes)
  }

  override def finish(): Map[String, Any] =
    parts.flatMap(_.finish(iterDir(lastIter))).toMap

  def layers(r: Trace#Report): Map[String, Double] =
    parts.flatMap(_.layers(r, iterDir(lastIter))).toMap
}

/** The catalog import job: Importer.run with its 14 tables committed,
  * then Attributes and Enrichment over the committed tables. */
final class Ingest(spark: SparkSession, dir: Path, seed: Long, ops: Ops,
    trace: () => Option[Trace], size: Gen.IngestSize, mapPath: String)
    extends Part(ops, trace) {

  private var truth: Gen.IngestTruth = _

  def generate(): Map[String, Any] = {
    truth = Gen.ingest(dir, seed, size)
    Map("raw_rows" -> truth.rows, "raw_bytes" -> truth.bytes,
      "masters" -> size.masters, "max_variants" -> size.maxVariants,
      "categories" -> size.categories, "attr_keys" -> size.attrKeys,
      "attr_values" -> size.attrValues, "zipf_s" -> size.zipfS,
      "expected_rows" -> truth.tables)
  }

  def records: Long = truth.rows
  def inputBytes: Long = truth.bytes

  private def commit(df: DataFrame, table: Path, statsCol: String): Unit =
    op("write", "sources.commit") {
      ManifestTable.commitWithStats(df, table.toString, append = false,
        statsCol)
    }

  private def read(table: Path): DataFrame =
    ManifestTable.read(spark, table.toString)

  def stages(out: Path): Unit = stages(out, threads = 1)

  /** The stages into `out`, with independent commits over `threads`
    * driver threads. */
  def stages(out: Path, threads: Int): Unit = {
    span("pipelines.importer") {
      val t = Importer.run(spark,
        dir.resolve("raw_products.csv").toString, mapPath)
      val tables = Seq(
        ("collections", t.collections, "collection_id"),
        ("products", t.products, "sku"),
        ("categories", t.categories, "category_id"),
        ("collection_category", t.collectionCategory, "collection_id"),
        ("collection_translations", t.collectionTranslations, "id"),
        ("details_html", t.detailsHtml, "details_html_id"),
        ("collection_details_html", t.collectionDetailsHtml,
          "collection_id"),
        ("img_arrays", t.imgArrays, "img_array_id"),
        ("collection_img_array", t.collectionImgArray, "collection_id"),
        ("langs", t.langs, "lang_id"),
        ("sources", t.sources, "source_id"),
        ("source_translations", t.sourceTranslations, "id"),
        ("category_translations", t.categoryTranslations, "id"),
        ("details_html_translations", t.detailsHtmlTranslations, "id"))
      Par.run(threads)(tables.map { case (name, df, key) =>
        () => commit(df, out.resolve(name), key) })
    }
    span("pipelines.attributes") {
      val pairs = Attributes.explodePairs(read(out.resolve("collections")),
        "collection_id", col("attributes_raw"))
      val none = spark.emptyDataFrame.select(
        lit(null).cast("string").as("collection_id"),
        lit(null).cast("string").as("attr_value_id"))
      Par.run(threads)(Seq(
        () => commit(Attributes.keyDict(pairs), out.resolve("attr_keys"),
          "attr_key_id"),
        () => commit(Attributes.valueDict(pairs), out.resolve("attr_values"),
          "attr_value_id"),
        () => commit(Attributes.links(pairs, "collection_id", none),
          out.resolve("attr_links"), "collection_id")))
    }
    span("pipelines.enrichment") {
      commit(Enrichment.run(read(out.resolve("details_html")),
          "details_html_id", col("details_html")),
        out.resolve("enrichment"), "details_html_id")
    }
  }

  /** Every table's metadata row count against the generator's truth. */
  def check(out: Path, i: Int, damage: Boolean): Unit = {
    if (damage) ManifestTable.commit(read(out.resolve("langs")),
      out.resolve("langs").toString, append = true)
    truth.tables.foreach { case (name, want) =>
      val got = ManifestTable.countRows(out.resolve(name).toString)
      Check(got.contains(want),
        s"ingest: $name has countRows $got, generator says $want")
    }
  }

  /** Scanned row counts of the last iteration's tables. */
  def finish(out: Path): Map[String, Any] = {
    truth.tables.foreach { case (name, want) =>
      val got = read(out.resolve(name)).count()
      Check(got == want,
        s"ingest: $name scans $got rows, generator says $want")
    }
    Map("checked_tables" -> truth.tables.size)
  }

  def layers(r: Trace#Report, out: Path): Map[String, Double] = Map(
    "pipelines.importer.ms" -> r.msPerIter("pipelines.importer"),
    "pipelines.importer.self_ms" -> r.selfMsPerIter("pipelines.importer"),
    "pipelines.importer.jobs" ->
      r.countPerIter("pipelines.importer", _.jobs.get),
    "pipelines.importer.scan_amp" ->
      r.countPerIter("pipelines.importer", _.bytesRead.get) / truth.bytes,
    "pipelines.attributes.ms" -> r.msPerIter("pipelines.attributes"),
    "pipelines.attributes.self_ms" ->
      r.selfMsPerIter("pipelines.attributes"),
    "pipelines.attributes.shuffle_write_bytes" ->
      r.countPerIter("pipelines.attributes", _.shuffleWrite.get),
    "pipelines.enrichment.ms" -> r.msPerIter("pipelines.enrichment"),
    "pipelines.enrichment.self_ms" ->
      r.selfMsPerIter("pipelines.enrichment"),
    "sources.commit.driver_ms" -> r.driverMsPerIter("sources.commit"),
    "sources.commit.jobs" -> r.countPerIter("sources.commit", _.jobs.get),
    "sources.commit.bytes_written" ->
      r.countPerIter("sources.commit", _.bytesWritten.get))
}

/** The training-data curation job: q_e2e_curation's chain with one
  * durable output per stage. */
final class Curate(spark: SparkSession, dir: Path, seed: Long, ops: Ops,
    trace: () => Option[Trace], size: Gen.CurateSize)
    extends Part(ops, trace) {

  private var truth: Gen.CurateTruth = _
  private def docsPath: String = dir.resolve("documents.jsonl").toString
  private var digest: Option[(Long, Long)] = None

  def generate(): Map[String, Any] = {
    truth = Gen.curate(dir, seed, size)
    Map("docs" -> truth.docs, "docs_bytes" -> truth.bytes,
      "vocab" -> size.vocab, "zipf_s" -> size.zipfS,
      "dup_rate" -> size.dupRate, "max_group" -> size.maxGroup,
      "edit_rate" -> size.editRate,
      "tokens" -> s"${size.minTokens}-${size.maxTokens}",
      "planted_copies" -> truth.plantedCopies,
      "planted_groups" -> truth.plantedGroups)
  }

  def records: Long = truth.docs
  def inputBytes: Long = truth.bytes

  private def docs: DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").json(docsPath)

  private def write(df: DataFrame, p: Path): Unit =
    df.write.mode("overwrite").parquet(p.toString)

  private def read(p: Path): DataFrame = spark.read.parquet(p.toString)

  def stages(out: Path): Unit = {
    op("write", "operators.text_analysis") {
      write(TextAnalysis.analyze(docs, "text")
        .select("doc_id", "ws_tokens", "quality"), out.resolve("quality"))
    }
    op("write", "operators.lsh_pairs") {
      write(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 8, 4, 1000),
        out.resolve("pairs"))
    }
    op("write", "operators.clusters") {
      write(Dedup.duplicateClusters(docs.select("doc_id"), "doc_id",
          read(out.resolve("pairs")).select("id_a", "id_b")),
        out.resolve("clusters"))
    }
    op("write", "operators.select_pack") {
      val kept = read(out.resolve("quality"))
        .join(read(out.resolve("clusters")), Seq("doc_id"))
        .filter(col("quality") >= 0.8)
      val best = Dedup.keepBestPerCluster(kept, "doc_id", "cluster_id",
        "ws_tokens")
      val samp = best.filter(hashBucket(col("doc_id"), 100) < 50)
      write(Sharding.packByTokenBudget(samp, "doc_id", "ws_tokens", 2000L,
          4).select("doc_id", "cluster_id", "bucket", "shard", "ws_tokens",
          "quality"),
        out.resolve("shards"))
    }
  }

  /** One survivor per cluster, quality ≥ 0.8, the same output as the
    * first iteration. */
  def check(out: Path, i: Int, damage: Boolean): Unit = {
    if (damage) read(out.resolve("shards")).limit(1)
      .write.mode("append").parquet(out.resolve("shards").toString)
    val shards = read(out.resolve("shards"))
    val row = shards.agg(count(lit(1)), countDistinct(col("cluster_id")),
      coalesce(min(col("quality")), lit(1.0)),
      coalesce(sum(pmod(xxhash64(shards.columns.map(col).toSeq: _*),
        lit(1000000007L))), lit(0L)))
      .head()
    val (n, clusters, minQ, hash) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getLong(3))
    Check(n > 0, "curate: no document survived")
    Check(n == clusters, s"curate: $n survivors for $clusters clusters")
    Check(minQ >= 0.8, s"curate: survivor quality $minQ < 0.8")
    digest match {
      case None => digest = Some((n, hash))
      case Some(d) => Check(d == ((n, hash)),
        s"curate: iteration $i output differs from the first: $d vs ${(n, hash)}")
    }
  }

  /** What the oracle comparison needs: run.py replays the oracle SQL in
    * DuckDB on the corpus and compares it with the last shards. */
  def finish(out: Path): Map[String, Any] = Map(
    "shards_dir" -> out.resolve("shards").toString,
    "docs_path" -> docsPath,
    "oracle_sql" -> graft.SparkEntry.oracleSql("q_e2e_curation"),
    "survivors" -> digest.map(_._1).getOrElse(0L))

  def layers(r: Trace#Report, out: Path): Map[String, Double] = {
    val pr = read(out.resolve("pairs")).agg(count(lit(1)),
      sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L))).head()
    val stages = Seq("operators.text_analysis", "operators.lsh_pairs",
      "operators.clusters", "operators.select_pack")
    Map(
      "operators.text_analysis.self_ms" ->
        r.selfMsPerIter("operators.text_analysis"),
      "operators.lsh_pairs.self_ms" -> r.selfMsPerIter("operators.lsh_pairs"),
      "operators.lsh_pairs.shuffle_write_bytes" ->
        r.countPerIter("operators.lsh_pairs", _.shuffleWrite.get),
      "operators.lsh_pairs.useful_frac" ->
        (if (pr.getLong(0) == 0) 0.0
         else pr.getLong(1).toDouble / pr.getLong(0)),
      "operators.clusters.self_ms" -> r.selfMsPerIter("operators.clusters"),
      "operators.clusters.jobs" ->
        r.countPerIter("operators.clusters", _.jobs.get),
      "operators.select_pack.self_ms" ->
        r.selfMsPerIter("operators.select_pack"),
      "operators.spill_bytes" ->
        stages.map(r.countPerIter(_, _.spill.get)).sum)
  }
}

// ------------------------------------------------------------------ upsert

/** Catalog maintenance on one manifest table: rounds of a CDC batch
  * applied by a streaming MERGE followed by pruned point and range
  * reads; every `compactEvery` rounds a compaction, and a vacuum at the
  * end of the run. */
final class Upsert(spark: SparkSession, dir: Path, seed: Long, ops: Ops,
    trace: () => Option[Trace], corrupt: Boolean, size: Gen.UpsertSize,
    reads: Int, rangeWidth: Long, compactEvery: Int, compactBytes: Long)
    extends Workload(ops, trace) {

  private val gen = new Gen.Upsert(dir, seed, size)
  private val table = dir.resolve("table")
  private val src = dir.resolve("cdc")
  private val ckpt = dir.resolve("checkpoint")
  private val schema = "k BIGINT, payload STRING, seq BIGINT"
  private var rounds = 0
  private var seedMs = 0.0
  private var vacuumMs = 0.0
  // per-round facts for the per-layer view
  private val rewritten = mutable.ArrayBuffer.empty[Double]
  private val dvAdded = mutable.ArrayBuffer.empty[Double]
  private val scannedFrac = mutable.ArrayBuffer.empty[Double]
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private val compactWritten = mutable.ArrayBuffer.empty[Double]

  override def block: Int = compactEvery
  override def minBlocks: Int = 3

  def generate(): Map[String, Any] = {
    Files.createDirectories(src)
    gen.writeBase()
    Map("base_keys" -> size.baseKeys, "base_files" -> size.baseFiles,
      "batch_rows" -> size.batchRows, "recent_window" -> size.recentWindow,
      "recent_frac" -> size.recentFrac, "new_frac" -> size.newFrac,
      "zipf_s" -> size.zipfS, "reads_per_round" -> reads,
      "range_width" -> rangeWidth, "compact_every" -> compactEvery)
  }

  /** Seed the table: one range-sliced commit with stats on the key. */
  override def prepare(): Unit = {
    val t0 = System.nanoTime()
    val base = spark.read.schema(schema)
      .csv(dir.resolve("base.csv").toString)
    ManifestTable.commitWithStats(
      base.repartitionByRange(size.baseFiles, col("k"))
        .sortWithinPartitions("k"),
      table.toString, append = false, "k")
    seedMs = (System.nanoTime() - t0) / 1e6
    Check(ManifestTable.countRows(table.toString).contains(gen.nextKey),
      "upsert: seed table row count differs from the generator")
  }

  /** One round and one compaction, then the bookkeeping starts over. */
  override def warmup(): Unit = {
    iteration(0)
    ManifestTable.compact(spark, table.toString, compactBytes)
    rounds = 0
    Seq(rewritten, dvAdded, scannedFrac, planMs, compactWritten)
      .foreach(_.clear())
  }

  private def latest: Long = ManifestTable.versions(table.toString).last

  private def manifest(v: Long): Path =
    table.resolve("_manifests").resolve(s"v$v")

  /** Data files a published snapshot lists (its non-comment lines). */
  private def filesOf(v: Long): Set[String] =
    Files.readAllLines(manifest(v)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet

  private def dvPositions: Long =
    ManifestTable.history(spark, table.toString)
      .orderBy(col("version").desc).head().getAs[Long]("dv_positions")

  private def storedBytes: Long =
    Stats.treeBytes(table) + Stats.treeBytes(ckpt)

  def iteration(i: Int): Iter = {
    val batch = gen.writeBatch(src)
    val bytes0 = storedBytes
    val files0 = filesOf(latest)
    val dv0 = dvPositions
    val t0 = System.nanoTime()
    span("iteration") {
      op("write", "sources.merge") {
        ManifestTable.streamMerge(
          spark.readStream.schema(schema).csv(src.toString),
          table.toString, ckpt.toString, "k", "seq", dvMaxFraction = 0.5)
      }
      if (corrupt) ManifestTable.commit(
        ManifestTable.read(spark, table.toString).limit(1),
        table.toString, append = true)
      for (j <- 0 until reads) {
        val point = j % 2 == 0
        val lo = if (point) gen.pointKey() else gen.rangeStart(rangeWidth)
        val hi = if (point) lo else lo + rangeWidth - 1
        op("read", "sources.read") {
          val p0 = System.nanoTime()
          val (df, nFiles, nScanned) =
            ManifestTable.readPruned(spark, table.toString, "k", lo, hi)
          planMs += (System.nanoTime() - p0) / 1e6
          scannedFrac += nScanned.toDouble / nFiles
          if (point) {
            val rows = df.collect()
            Check(rows.length == 1 &&
                rows(0).getString(1) == gen.payload(lo) &&
                rows(0).getLong(2) == gen.seqOf(lo),
              s"upsert: point read of key $lo returned " +
                rows.mkString(",") + s", the model has ${gen.payload(lo)}")
          } else {
            val n = df.count()
            val want = math.max(0L, math.min(hi + 1, gen.nextKey) - lo)
            Check(n == want,
              s"upsert: range [$lo, $hi] read $n rows, the model has $want")
          }
        }
      }
      rounds += 1
      if (i > 0 && rounds % compactEvery == 0) {
        val c0 = storedBytes
        op("maintenance", "sources.compact") {
          ManifestTable.compact(spark, table.toString, compactBytes)
        }
        compactWritten += (storedBytes - c0).toDouble
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    rewritten += (files0 -- filesOf(latest)).size.toDouble
    dvAdded += math.max(0L, dvPositions - dv0).toDouble
    Check(ManifestTable.countRows(table.toString).contains(gen.nextKey),
      s"upsert: the table counts " +
        s"${ManifestTable.countRows(table.toString)} rows after round $i, " +
        s"the model has ${gen.nextKey}")
    Iter(size.batchRows, Files.size(batch), ms, storedBytes - bytes0)
  }

  /** Vacuum, then the final snapshot against the replay model. */
  override def finish(): Map[String, Any] = {
    val v0 = System.nanoTime()
    ManifestTable.vacuum(table.toString, keepVersions = 1, graceMs = 0L)
    vacuumMs = (System.nanoTime() - v0) / 1e6
    val rows = ManifestTable.read(spark, table.toString).collect()
    Check(rows.length == gen.nextKey,
      s"upsert: the final snapshot has ${rows.length} rows, " +
        s"the model has ${gen.nextKey}")
    rows.foreach { r =>
      val k = r.getLong(0)
      Check(gen.payload.get(k).contains(r.getString(1)) &&
          gen.seqOf.get(k).contains(r.getLong(2)),
        s"upsert: final row $r differs from the model")
    }
    val once = dir.resolve("written-once")
    ManifestTable.read(spark, table.toString).repartition(1)
      .write.parquet(once.toString)
    val reads = ops.samples("read")
    val merges = ops.samples("write")
    Map("space_amp" -> Stats.treeBytes(table).toDouble / Stats.treeBytes(once),
      "merge_ms_p50" -> Stats.median(merges),
      "merge_ms_tail" -> Stats.tail(merges),
      "read_ms_p50" -> Stats.median(reads),
      "read_ms_tail" -> Stats.tail(reads),
      "seed_commit_ms" -> seedMs,
      "final_rows" -> gen.nextKey, "change_rows" -> gen.changeRows)
  }

  def layers(r: Trace#Report): Map[String, Double] = {
    val trig = r.triggers
    def d(m: Map[String, Long], k: String): Double =
      m.getOrElse(k, 0L).toDouble
    def trigMean(f: Map[String, Long] => Double): Double =
      Stats.mean(trig.map(f))
    Map(
      "sources.commit.seed_ms" -> seedMs,
      "sources.merge.self_ms" -> trigMean(d(_, "addBatch")),
      "sources.merge.jobs" -> r.countPerIter("sources.merge", _.jobs.get),
      "sources.merge.files_rewritten" -> Stats.mean(rewritten.toSeq),
      "sources.merge.dv_positions" -> Stats.mean(dvAdded.toSeq),
      "sources.read.self_ms" ->
        Stats.median(r.selfMsEach("sources.read")),
      "sources.read.plan_ms" -> Stats.median(planMs.toSeq),
      "sources.read.files_scanned_frac" -> Stats.mean(scannedFrac.toSeq),
      "sources.compact.self_ms" ->
        Stats.mean(r.selfMsEach("sources.compact")),
      "sources.compact.bytes_rewritten" -> Stats.mean(compactWritten.toSeq),
      "sources.vacuum.self_ms" -> vacuumMs,
      "sources.manifest_bytes" -> Files.size(manifest(latest)).toDouble,
      "streaming.trigger_ms" -> trigMean(d(_, "triggerExecution")),
      "streaming.overhead_ms" ->
        trigMean(m => d(m, "triggerExecution") - d(m, "addBatch")),
      "streaming.wal_commit_ms" -> trigMean(d(_, "walCommit")),
      "streaming.query_planning_ms" -> trigMean(d(_, "queryPlanning")),
      "streaming.get_batch_ms" -> trigMean(d(_, "getBatch")))
  }
}
