package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink operators (SURVEY.md §2.1, S7-S11 + M7/M8 write semantics).
  *
  * Parquet is the engine's at-rest format (SURVEY.md §1.3); merges are
  * computed as DataFrames (operators.Merge) and these writers decide
  * atomicity: write to a temp dir, then atomic rename — the engine's
  * replacement for the reference's single-transaction commit/rollback
  * (/root/reference/utils/importer/ETL.py:620-626).
  */
object Sinks {

  /** S7: plain append. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** S10: CSV append sink (header once per file part, like the
    * reference's incremental OCR results CSV,
    * /root/reference/utils/details_translator/2_ocr_from_images.py:64-67). */
  def appendCsv(df: DataFrame, path: String): Unit =
    df.write.mode("append").option("header", "true").csv(path)

  /** S14 (write half): ORC sink — the columnar interchange format a
    * warehouse neighbor (Hive/Trino) reads natively; same
    * predicate-pushdown / column-pruning scan contract as parquet on
    * the read side. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** S15 (write half): JSON-lines sink — the interchange format
    * crawl/annotation tooling speaks. One JSON object per line, so
    * the files split and parallelize like any text source. JSON has
    * no type system beyond string/number/bool: writers emit instants
    * as epoch integers (see [[graft.queries.epochUs]]) and readers
    * MUST pass an explicit schema — inference costs a second pass
    * and silently widens types. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S11: partitioned-by-key sink — one directory per key value
    * (replaces the reference's one-CSV-per-product loop,
    * /root/reference/utils/details_translator/
    * 3_group_ocr_results_by_img_&_collection.py:41-48). */
  def partitionedBy(df: DataFrame, path: String,
      keys: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(keys: _*).parquet(path)

  /** S13: log-line sink — stamped text lines appended under a log
    * directory (the reference's per-failure LOG_FILE append,
    * /root/reference/utils/product_collection_img_array_processor.py:71-74,
    * as a distributed append: each run adds text parts instead of
    * contending on one file handle; readers `spark.read.text(dir)`
    * the whole history). `tag` labels the emitting pipeline; rows
    * carry `msgCol`'s text. `stampUs` is the caller's batch stamp
    * (explicit, so reruns are reproducible — no wall-clock read). */
  def appendLog(df: DataFrame, msgCol: String, tag: String,
      stampUs: Long, path: String): Unit =
    df.select(concat_ws("\t", lit(stampUs), lit(tag),
        col(msgCol).cast("string")).as("value"))
      .write.mode("append").text(path)

  /** S12: PDF render sink — each row's HTML renders to
    * `<outDir>/<cleanName(name)>.pdf` inside its executor task
    * (PdfRender — text-layer A4 pagination, no external renderer),
    * replacing the reference's driver-side Chromium/pdfkit loop
    * (/root/reference/utils/html_to_pdf/pupeeter.py:25-54,
    * html_to_pdf_printer.py:26-43). Returns the durable manifest
    * (name, pdf_path, pages, bytes) read back from
    * `<outDir>/_manifest` — the reference's output CSV with the
    * pdf_path column (pupeeter.py:56-58). Rendering happens exactly
    * once, when the manifest parquet is written. Rows sharing one
    * cleaned name overwrite the same file (the reference does too);
    * the manifest makes collisions visible (distinct pdf_path <
    * rows). */
  def renderPdf(df: DataFrame, nameCol: String, htmlCol: String,
      outDir: String, wrapCols: Int = 95): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // a local dir is written through GraftLocalFileSystem (no `chmod`
    // process per file); the manifest keeps naming `outDir`'s paths
    val target = GraftLocalFileSystem.local(outDir,
      spark.sparkContext.hadoopConfiguration)
    val local = new org.apache.hadoop.fs.Path(target).toUri.getScheme ==
      GraftLocalFileSystem.Scheme
    val manifest = df
      .select(col(nameCol).cast("string"), col(htmlCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        // executor-side FS handle — resolves HDFS/S3A/local from the
        // dir's own scheme, the same way the binaryFile source does;
        // only a remote file system needs the site configuration
        val conf = new org.apache.hadoop.conf.Configuration(!local)
        val base = new org.apache.hadoop.fs.Path(outDir)
        val dst = new org.apache.hadoop.fs.Path(target)
        val fs = dst.getFileSystem(conf)
        fs.mkdirs(dst)
        it.map { case (name, html) =>
          val (bytes, pages) =
            PdfRender.render(if (html == null) "" else html, wrapCols)
          val file =
            PdfRender.cleanName(if (name == null) "null" else name) + ".pdf"
          val out = fs.create(new org.apache.hadoop.fs.Path(dst, file), true)
          try out.write(bytes) finally out.close()
          (name, new org.apache.hadoop.fs.Path(base, file).toString, pages,
            bytes.length)
        }
      }
      .toDF("name", "pdf_path", "pages", "bytes")
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
    spark.read.parquet(s"$outDir/_manifest")
  }

  /** M7/M8: atomic overwrite with dry-run. Writes the full result to
    * `<path>.tmp-<nonce>` and only then swaps directories; with
    * dryRun=true the swap is skipped and the temp path returned for
    * inspection (the reference's DRY_RUN rollback). */
  def atomicOverwrite(df: DataFrame, path: String,
      dryRun: Boolean = false): String = {
    val spark = df.sparkSession
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"$path.tmp-$nonce"
    df.write.mode("overwrite").parquet(tmp)
    if (!dryRun) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(conf)
      val target = new org.apache.hadoop.fs.Path(path)
      val src = new org.apache.hadoop.fs.Path(tmp)
      if (fs.exists(target)) {
        val bak = new org.apache.hadoop.fs.Path(s"$path.bak-$nonce")
        if (!fs.rename(target, bak))
          throw new java.io.IOException(
            s"atomicOverwrite: could not move $path aside to $bak; " +
              "target left untouched")
        if (!fs.rename(src, target)) {
          // put the old data back before failing — never leave the
          // target path absent
          fs.rename(bak, target)
          throw new java.io.IOException(
            s"atomicOverwrite: could not move $tmp into place; " +
              s"restored previous data at $path")
        }
        if (fs.exists(target)) fs.delete(bak, true)
      } else if (!fs.rename(src, target))
        throw new java.io.IOException(
          s"atomicOverwrite: could not move $tmp to $path")
      path
    } else tmp
  }
}
