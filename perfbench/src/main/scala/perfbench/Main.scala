package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The benchmark program: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload batch|upsert --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE --map fixtures/map.csv
  *   [--size full|tiny] [--corrupt 0|1] [--gen-only 1]
  * }}}
  *
  * A run sets up once (start a session, generate the inputs, one untimed
  * warm-up iteration, an idle JIT queue), then runs closed-loop
  * iterations from one driver thread for `--seconds`, ending on a whole
  * block and timing at least two blocks. Every iteration rebuilds its
  * result from the on-disk inputs; no query-level or session cache
  * carries over. The
  * run's facts and metrics go to `--out` as JSON; run.py turns them into
  * the result line. Exit code 3 means a failed output check. */
object Main {

  /** Input sizes per workload. `tiny` is for the self-tests. */
  object Sizes {
    def ingest(tiny: Boolean): Gen.IngestSize =
      if (tiny) Gen.IngestSize(800, 6, 40, 12, 30, 1.1)
      else Gen.IngestSize(1200, 6, 120, 24, 200, 1.1)
    def curate(tiny: Boolean): Gen.CurateSize =
      if (tiny) Gen.CurateSize(600, 3000, 1.05, 0.15, 5, 0.05, 12, 90)
      else Gen.CurateSize(600, 20000, 1.05, 0.15, 5, 0.05, 12, 90)
    def upsert(tiny: Boolean): Gen.UpsertSize =
      if (tiny) Gen.UpsertSize(10000, 4, 500, 2000, 0.85, 0.10, 1.1)
      else Gen.UpsertSize(25000, 8, 1000, 2500, 0.85, 0.10, 1.1)
  }

  /** upsert's compaction target. `compact` has no default; on a table of
    * a few MB this target makes every compaction one group, a rewrite of
    * the whole table into one file. */
  val CompactTargetBytes: Long = 128L << 20

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, map: String, tiny: Boolean,
      corrupt: Boolean, genOnly: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(
        throw new IllegalArgumentException(s"missing --$k")))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace", "0") == "1", Paths.get(get("work")).toAbsolutePath,
      Paths.get(get("out")).toAbsolutePath, get("map", "fixtures/map.csv"),
      get("size", "full") == "tiny", get("corrupt", "0") == "1",
      get("gen-only", "0") == "1")
  }

  /** Bench's session settings on local[4] with 4 shuffle partitions. */
  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(a: Args, spark: SparkSession, dir: Path, ops: Ops,
      trace: () => Option[Trace]): Workload = a.workload match {
    case "batch" => new Batch(dir, ops, trace, a.corrupt,
      new Ingest(spark, dir, a.seed, ops, trace, Sizes.ingest(a.tiny),
        Paths.get(a.map).toAbsolutePath.toString),
      new Curate(spark, dir, a.seed, ops, trace, Sizes.curate(a.tiny)))
    case "upsert" => new Upsert(spark, dir, a.seed, ops, trace, a.corrupt,
      Sizes.upsert(a.tiny), reads = 4,
      rangeWidth = if (a.tiny) 500L else 2500L, compactEvery = 2,
      compactBytes = CompactTargetBytes)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Wait (at most 10 s) until the JIT compile queue is idle, so the
    * first timed iteration does not share the cores with compilation
    * the warm-up triggered. */
  private def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    var idle = 0
    while (idle < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val t = jit.getTotalCompilationTime
      idle = if (t == last) idle + 1 else 0
      last = t
    }
  }

  /** Bytes the block manager holds in memory, over all executors. */
  private def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val facts = mutable.LinkedHashMap.empty[String, Any]
    facts ++= Seq("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "size" -> (if (a.tiny) "tiny" else "full"))
    val code =
      try { run(a, facts); 0 }
      catch {
        case e: CheckFailed =>
          log(s"CHECK FAILED: ${e.getMessage}")
          facts("correct") = false
          facts("error") = e.getMessage
          3
        case NonFatal(e) =>
          log(s"run failed: $e")
          e.printStackTrace()
          facts("correct") = false
          facts("error") = e.toString
          2
      }
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, Json.of(facts).getBytes(UTF_8))
    sys.exit(code)
  }

  private def run(a: Args, facts: mutable.Map[String, Any]): Unit = {
    if (a.genOnly) {
      Files.createDirectories(a.work)
      a.workload match {
        case "batch" =>
          Gen.ingest(a.work, a.seed, Sizes.ingest(a.tiny))
          Gen.curate(a.work, a.seed, Sizes.curate(a.tiny))
        case "upsert" =>
          val g = new Gen.Upsert(a.work, a.seed, Sizes.upsert(a.tiny))
          g.writeBase()
          Files.createDirectories(a.work.resolve("cdc"))
          (1 to 3).foreach(_ => g.writeBatch(a.work.resolve("cdc")))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      facts("correct") = true
      return
    }
    // set-up: process start to the first timed iteration
    val ops = new Ops
    var tracer: Option[Trace] = None
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = a.work.resolve("data")
    Files.createDirectories(dir)
    val spark = session(a.work)
    val tSession = System.currentTimeMillis()
    val wl = workload(a, spark, dir, ops, () => tracer)
    facts("inputs") = wl.generate()
    wl.prepare()
    val tPrepared = System.currentTimeMillis()
    wl.warmup()
    val tWarm = System.currentTimeMillis()
    settleJit()
    val tReady = System.currentTimeMillis()
    val setupS = (tReady - jvmStart) / 1000.0
    facts("setup_parts_s") = Map("session" -> (tSession - jvmStart) / 1e3,
      "inputs" -> (tPrepared - tSession) / 1e3,
      "warmup" -> (tWarm - tPrepared) / 1e3,
      "jit_settle" -> (tReady - tWarm) / 1e3)
    log(f"set-up: $setupS%.2f s (session ${(tSession - jvmStart) / 1e3}%.2f, " +
      f"inputs ${(tPrepared - tSession) / 1e3}%.2f, " +
      f"warm-up ${(tWarm - tPrepared) / 1e3}%.2f, " +
      f"JIT settle ${(tReady - tWarm) / 1e3}%.2f)")
    val pinned0 = pinnedBytes(spark)
    if (a.trace) tracer = Some(new Trace(spark))

    // timed phase: closed loop, one driver thread, whole blocks, at least
    // the workload's minimum. A traced run orders its blocks untraced,
    // traced, traced, untraced and ends on a whole group of four, so each
    // side gets as many blocks, and as many early and late ones.
    ops.on = true
    val block = wl.block
    val minBlocks = if (a.trace) 4 else wl.minBlocks
    def tracedBlock(b: Int): Boolean = a.trace && (b % 4 == 1 || b % 4 == 2)
    val blocks = mutable.ArrayBuffer.empty[(Boolean, Seq[Iter])]
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    var i = 1
    var failures = 0
    while ((elapsed < a.seconds || blocks.size < minBlocks ||
        (a.trace && blocks.size % 4 != 0)) &&
        elapsed < 4.0 * a.seconds + 30) {
      val on = tracedBlock(blocks.size)
      val its = mutable.ArrayBuffer.empty[Iter]
      for (_ <- 1 to block) {
        tracer.foreach(t => if (on) t.resume(i) else t.pause())
        try {
          its += wl.iteration(i)
          failures = 0
        } catch {
          case e: CheckFailed => throw e
          case NonFatal(e) =>
            log(s"iteration $i failed: $e")
            failures += 1
            if (failures >= 3) throw e
        }
        i += 1
      }
      blocks += on -> its.toSeq
    }
    tracer.foreach(_.pause())
    val wall = elapsed
    ops.on = false
    val pinnedGrowth = pinnedBytes(spark) - pinned0
    val fin = wl.finish()
    facts ++= fin.filterNot(_._1 == "oracle_sql")
    fin.get("oracle_sql").foreach { sql =>
      val p = a.out.resolveSibling(a.out.getFileName.toString + ".oracle.sql")
      Files.createDirectories(p.getParent)
      Files.write(p, sql.toString.getBytes(UTF_8))
      facts("oracle_sql_path") = p.toString
    }
    def side(on: Boolean): Seq[Seq[Iter]] =
      blocks.collect { case (`on`, its) if its.nonEmpty => its }.toSeq
    val all = blocks.flatMap(_._2).toSeq

    /** Median over blocks of records per second. */
    def rowsPerSec(bs: Seq[Seq[Iter]]): Double =
      Stats.median(bs.map(b =>
        b.map(_.records).sum / (b.map(_.ms).sum / 1000.0)))
    def writeAmp(bs: Seq[Seq[Iter]]): Double =
      Stats.median(bs.map(b =>
        b.map(_.bytesWritten).sum.toDouble / b.map(_.inputBytes).sum))

    val writes = ops.samples("write")
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val v = Map(
          "setup_s" -> setupS,
          "rows_per_s" -> rowsPerSec(side(false)),
          "write_ms_p50" -> Stats.median(writes),
          "write_amp" -> writeAmp(side(false)),
          "peak_rss_mb" -> Stats.peakRssMb)
        Layers.endToEnd.map(m => (m.name, v(m.name), m.unit))
      } else {
        val t = tracer.get
        t.close()
        val r = t.report(side(true).map(_.size).sum)
        val tracedRps = rowsPerSec(side(true))
        val untracedRps = rowsPerSec(side(false))
        // the overhead needs two blocks a side; the time cap can cut it short
        val resolved = side(true).size >= 2 && side(false).size >= 2
        facts("trace_overhead_resolved") = resolved
        val v = Layers.runtime(r) ++ wl.layers(r) ++ Map(
          "storage.pinned_bytes_growth" -> pinnedGrowth.toDouble,
          "trace.rows_per_s" -> tracedRps,
          "trace.overhead_pct" -> (if (!resolved) 0.0
            else 100.0 * (untracedRps - tracedRps) / untracedRps))
        facts("trace_spans") = r.all.size
        Layers.all.map(m => (m.name, v.getOrElse(m.name, 0.0), m.unit))
      }
    facts ++= Seq(
      "correct" -> true,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "failed_frac" -> ops.failed.toDouble / math.max(1L, ops.attempted),
      "blocks" -> blocks.size,
      "iterations" -> all.size,
      "iteration_ms" -> all.map(_.ms),
      "timed_s" -> wall,
      "write_samples" -> writes.size,
      "write_ms_tail" -> Stats.tail(writes),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))
    spark.stop()
  }
}

/** Minimal JSON encoder for the artifact. */
object Json {
  def of(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => of(v)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => quote(k.toString) + ":" + of(v) }
        .mkString("{", ",", "}")
    case t: Product if !t.isInstanceOf[Iterable[_]] =>
      of(t.productIterator.toSeq)
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
