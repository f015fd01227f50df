package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipelines.{Attributes, Importer}
import graft.sources.{ManifestScanFiles, Sinks, Sources}
import graft.streaming.Incremental

/** End-to-end specs: the §7.2 importer slice over the committed CSV
  * fixture, the attribute pipeline, sinks (write → read back), and
  * the Structured Streaming ledger path.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val RawCsv = "/root/repo/fixtures/raw_products.csv"
  private val MapCsv = "/root/repo/fixtures/map.csv"

  test("importer: golden collections and products from the fixture") {
    val t = Importer.run(spark, RawCsv, MapCsv)
    assert(t.collections.count() == 3)
    assert(t.products.count() == 7)
    val skus = t.products.select("sku").collect().map(_.getString(0)).sorted
    assert(skus.toSeq == Seq("M001-A", "M001-B", "M001-C", "M002-A",
      "M002-B", "M002-C", "M003-A"))
    val m1 = t.collections.filter($"master_code" === "M001").collect()(0)
    assert(m1.getAs[String]("collection_name") == "Oak Chair")
    assert(m1.getAs[scala.collection.Seq[String]]("images").toSeq ==
      Seq("https://img/1.jpg", "https://img/2.jpg"))
    // price repair: decimal comma + thousands space
    val pA = t.products.filter($"sku" === "M001-A").collect()(0)
    assert(pA.getAs[Double]("selling_price") == 1299.5)
    // row without master code is dropped (P5)
    assert(!skus.contains("SKIP-1"))
  }

  test("importer: products-per-collection top-k audit") {
    val top = Importer.productsPerCollection(
        Importer.run(spark, RawCsv, MapCsv), 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("M001", 3L), ("M002", 3L), ("M003", 1L)))
  }

  /** The importer's 14 tables with the stats column each is committed
    * under, in the order the catalog load commits them. */
  private def importerTables(t: Importer.Tables)
      : Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
    ("collections", t.collections, "collection_id"),
    ("products", t.products, "sku"),
    ("categories", t.categories, "category_id"),
    ("collection_category", t.collectionCategory, "collection_id"),
    ("collection_translations", t.collectionTranslations, "id"),
    ("details_html", t.detailsHtml, "details_html_id"),
    ("collection_details_html", t.collectionDetailsHtml, "collection_id"),
    ("img_arrays", t.imgArrays, "img_array_id"),
    ("collection_img_array", t.collectionImgArray, "collection_id"),
    ("langs", t.langs, "lang_id"),
    ("sources", t.sources, "source_id"),
    ("source_translations", t.sourceTranslations, "id"),
    ("category_translations", t.categoryTranslations, "id"),
    ("details_html_translations", t.detailsHtmlTranslations, "id"))

  test("importer: one parse of the raw CSV feeds all 14 table commits") {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.sources.ManifestTable
    // jobs and file-scan stages, per phase of the import
    val phase = "graft.spec.importPhase"
    val jobs, scans = scala.collection.concurrent.TrieMap.empty[String, Int]
    def bump(m: scala.collection.concurrent.TrieMap[String, Int],
        props: java.util.Properties): Unit =
      Option(props).flatMap(p => Option(p.getProperty(phase)))
        .foreach(k => m.put(k, m.getOrElse(k, 0) + 1))
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        bump(jobs, j.properties)
      override def onStageSubmitted(s: SparkListenerStageSubmitted)
          : Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          bump(scans, s.properties)
    }
    val root = Files.createTempDirectory("graft-import-onescan").toString
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val tables =
      try {
        sc.setLocalProperty(phase, "run")
        val tables = importerTables(Importer.run(spark, RawCsv, MapCsv))
        sc.setLocalProperty(phase, "commit")
        tables.foreach { case (name, df, key) =>
          ManifestTable.commitWithStats(df, s"$root/$name", append = false,
            key)
        }
        tables
      } finally {
        sc.setLocalProperty(phase, null)
        Thread.sleep(1000L) // let queued listener events drain
        sc.removeSparkListener(listener)
      }
    // every table reads the one checkpointed base, none the CSV itself
    val rdds = tables.flatMap { case (name, df, _) =>
      val plan = df.queryExecution.analyzed
      assert(plan.collectFirst { case r: LogicalRelation => r }.isEmpty,
        s"$name still plans a file relation")
      plan.collect { case r: LogicalRDD => r.rdd.id }
    }
    assert(rdds.nonEmpty && rdds.distinct.size == 1,
      s"tables read several bases: ${rdds.distinct}")
    // the run reads the mapping file twice (header, rows), the raw
    // CSV's header, and parses the raw CSV once: AQE runs the W1
    // window's shuffle stage as the base's checkpoint is declared.
    // The commits then scan no file. Before the shared base, the run
    // started 3 jobs and 3 file-scan stages, and the commits 33 jobs
    // and 14 file-scan stages: every commit re-parsed the CSV.
    assert(scans.get("run").contains(4) && !scans.contains("commit"),
      s"file-scan stages per phase: $scans")
    assert(jobs.get("run").contains(4) && jobs.get("commit").contains(18),
      s"jobs per phase: $jobs")
  }

  test("importer: commits from three driver threads equal the serial " +
      "commits row for row") {
    // the 14 tables share one lazily checkpointed base, so with three
    // threads several commits race to store its blocks first
    import graft.sources.ManifestTable
    def commitAll(threads: Int): Map[String, Seq[Seq[String]]] = {
      val root = Files.createTempDirectory("graft-import-par").toString
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try importerTables(Importer.run(spark, RawCsv, MapCsv))
        .map { case (name, df, key) =>
          pool.submit(new java.util.concurrent.Callable[String] {
            def call(): String = {
              ManifestTable.commitWithStats(df, s"$root/$name",
                append = false, key)
              name
            }
          })
        }
        .map(_.get())
        .map(name =>
          name -> canon(ManifestTable.read(spark, s"$root/$name")))
        .toMap
      finally pool.shutdownNow()
    }
    val serial = commitAll(1)
    assert(serial.size == 14 && serial("products").size == 7)
    assert(commitAll(3) == serial)
  }

  test("mapping Type column coerces projected columns; untyped and " +
      "typeless files keep the old semantics") {
    import graft.model.ColumnMapping
    val dir = Files.createTempDirectory("mapcoerce").toString
    val p = s"$dir/map_typed.csv"
    Files.write(java.nio.file.Paths.get(p),
      ("raw_input_field,db_table,field,type\n" +
        "Product SKU,product,sku,text\n" +
        "Inventory,product,inventory,integer\n" +
        "Selling Price,product,selling_price,double precision\n" +
        "Is Active,product,is_active,boolean\n" +
        "Note,product,note,\n").getBytes("UTF-8"))
    val m = ColumnMapping.fromCsv(spark, p)
    val raw = Seq(("A-1", "42", "19.99", "true", "hi"))
      .toDF("Product SKU", "Inventory", "Selling Price", "Is Active",
        "Note")
    val out = raw.select(m.projectionFor("product"): _*)
    val sch = out.schema
    assert(sch("sku").dataType.typeName == "string")
    assert(sch("inventory").dataType.typeName == "integer")
    assert(sch("selling_price").dataType.typeName == "double")
    assert(sch("is_active").dataType.typeName == "boolean")
    // empty type = no cast (string passthrough)
    assert(sch("note").dataType.typeName == "string")
    val r = out.collect()(0)
    assert(r.getAs[Int]("inventory") == 42)
    assert(r.getAs[Double]("selling_price") == 19.99)
    assert(r.getAs[Boolean]("is_active"))
    // a type-less mapping file (the committed fixture) still works
    assert(ColumnMapping.fromCsv(spark, MapCsv)
      .projectionFor("product").nonEmpty)
    // a typo'd Spark-native type fails loud at mapping time, not as
    // a silently un-cast column
    assert(ColumnMapping.sparkTypeOf("decimal(10,2)").contains("decimal(10,2)"))
    assert(ColumnMapping.sparkTypeOf("integerr").isEmpty)
  }

  test("attributes pipeline: dictionaries + links from fixture attrs") {
    val raw = Importer.run(spark, RawCsv, MapCsv).collections
      .select($"master_code", $"attributes_raw")
    val pairs = Attributes.explodePairs(raw, "master_code",
      col("attributes_raw"))
    // M001: 品牌+材质; M002: brand; M003: none (first row per master)
    assert(pairs.count() == 3)
    val keys = Attributes.keyDict(pairs)
    assert(keys.count() == 3)
    val values = Attributes.valueDict(pairs)
    assert(values.count() == 3)
    val empty = values.select($"attr_value_id")
      .withColumn("master_code", lit("")).limit(0)
      .select("master_code", "attr_value_id")
    val links = Attributes.links(pairs, "master_code", empty)
    assert(links.count() == 3)
    // idempotent: inserting the same links again changes nothing
    assert(Attributes.links(pairs, "master_code", links).count() == 3)
  }

  test("enrichment DAG: html to logistics struct, ordered concat") {
    import graft.pipelines.Enrichment
    val df = Seq(
      (1L, """<img src="http://a/x.jpg"><img src="http://b/y.png">"""),
      (2L, "no images here")).toDF("doc_id", "html")
    val out = Enrichment.run(df, "doc_id", col("html")).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: two images, OCR'd in image_index order, ' | '-joined
    val full = out(1L).getAs[String]("full_text")
    assert(full == "http a x jpg | http b y png")
    assert(out(1L).getAs[Long]("n_images") == 2L)
    val tr = out(1L).getAs[String]("translated")
    assert(tr.startsWith("[zh->en] http a x jpg"))
    // logistics struct has the 5 fields
    val lg = out(1L).getAs[org.apache.spark.sql.Row]("logistics")
    assert(lg.getAs[String]("incoterm") == "FOB")
    assert(lg.getAs[String]("origin") == "[z")
    // doc 2 has no images -> no row after the explode
    assert(!out.contains(2L))
  }

  test("sinks: parquet/csv append + partitioned sink round-trip") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.append(df, s"$dir/pq")
    Sinks.append(df, s"$dir/pq")
    assert(spark.read.parquet(s"$dir/pq").count() == 4)
    Sinks.appendCsv(df, s"$dir/csv")
    Sinks.appendCsv(df, s"$dir/csv")
    val back = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(back.count() == 4)
    Sinks.partitionedBy(df, s"$dir/part", Seq("v"))
    assert(spark.read.parquet(s"$dir/part").count() == 2)
    assert(new java.io.File(s"$dir/part/v=a").exists())
  }

  test("sinks: atomic overwrite swaps, dry run does not") {
    val dir = Files.createTempDirectory("graft-atomic").toString
    val target = s"$dir/table"
    Sinks.atomicOverwrite(Seq((1L, "a")).toDF("k", "v"), target)
    assert(spark.read.parquet(target).count() == 1)
    val tmp = Sinks.atomicOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), target, dryRun = true)
    assert(spark.read.parquet(target).count() == 1)   // unchanged
    assert(spark.read.parquet(tmp).count() == 2)      // inspectable
    Sinks.atomicOverwrite(Seq((3L, "c")).toDF("k", "v"), target)
    assert(spark.read.parquet(target).collect()(0).getLong(0) == 3L)
  }

  test("typed Dataset surface: importer products as Entities.Product") {
    val t = Importer.run(spark, RawCsv, MapCsv)
    val ds = t.products
      .select($"sku", $"master_code", $"collection_id",
        $"selling_price", $"inventory")
      .as[graft.model.Entities.Product]
    val cheapest = ds.filter(_.selling_price.exists(_ < 100.0))
      .map(_.sku).collect()
    assert(cheapest.toSeq == Seq("M003-A"))
    assert(ds.count() == 7)
  }

  test("sources: binary scan sees committed fixtures") {
    val files = Sources.binaryFiles(spark, "/root/repo/fixtures/media",
        "*.bin")
      .select("length").collect().map(_.getLong(0)).sorted
    assert(files.toSeq == Seq(20L, 23L))
  }

  test("sources: httpFetch stub applies per row") {
    val out = Sources.httpFetch(
        Seq("u1", "u2").toDF("url"), "url",
        (u: String) => s"body-of-$u", minIntervalMs = 0)
      .collect().map(_.getString(1)).sorted
    assert(out.toSeq == Seq("body-of-u1", "body-of-u2"))
  }

  test("streaming: file stream + foreachBatch ledger merge") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val src = s"$dir/src"
    val ckpt = s"$dir/ckpt"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.parquet(src)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val schema = spark.read.parquet(src).schema
    val q = Incremental.streamWithLedger(spark, src, schema, Seq("k"),
      ckpt) { (batch, _) => seen.addAndGet(batch.count()) }
    q.awaitTermination()
    assert(seen.get() == 2L)
    // restart with no new files: AvailableNow processes nothing new
    val q2 = Incremental.streamWithLedger(spark, src, schema, Seq("k"),
      ckpt) { (batch, _) => seen.addAndGet(batch.count()) }
    q2.awaitTermination()
    assert(seen.get() == 2L)
  }

  test("observe: pipeline metrics ride the action without extra scans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i % 7 == 0)).toDF("v", "bad")
    val observed = df.observe("load_metrics",
      count(lit(1)).as("rows"),
      sum(when($"bad", 1L).otherwise(0L)).as("bad_rows"))
    val filtered = observed.filter(!$"bad")
    // metrics attach to the QueryExecution an action runs on — collect
    // drives the Dataset's own execution (write would build a new one)
    assert(filtered.collect().length == 86)
    val m = filtered.queryExecution.observedMetrics("load_metrics")
    assert(m.getAs[Long]("rows") == 100L)
    assert(m.getAs[Long]("bad_rows") == 14L)
  }

  test("sinks: appendLog accumulates stamped lines across runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-log")
      .resolve("log").toString
    val msgs = Seq("download failed: a.jpg", "download failed: b.jpg")
      .toDF("msg")
    graft.sources.Sinks.appendLog(msgs, "msg", "img-fetch", 1000L, dir)
    graft.sources.Sinks.appendLog(msgs.limit(1), "msg", "img-fetch",
      2000L, dir)
    val lines = spark.read.text(dir).as[String].collect().sorted.toSeq
    assert(lines == Seq(
      "1000\timg-fetch\tdownload failed: a.jpg",
      "1000\timg-fetch\tdownload failed: b.jpg",
      "2000\timg-fetch\tdownload failed: a.jpg"))
  }

  test("sinks: renderPdf writes well-formed paginated PDFs plus a manifest") {
    import graft.sources.PdfRender
    val dir = Files.createTempDirectory("graft-pdf").resolve("out").toString
    // 130 short paragraphs -> 130 lines -> 3 pages at 63 lines/page
    val longHtml = "<h1>Catalog &amp; Spec</h1>" +
      (1 to 129).map(i => s"<p>paragraph $i</p>").mkString
    val df = Seq(
      ("Oak Chair / classic", longHtml),
      ("Pine Table", "<div>small &lt;sample&gt;</div>")
    ).toDF("name", "details_html")
    val manifest = graft.sources.Sinks
      .renderPdf(df, "name", "details_html", dir)
    val rows = manifest.collect().map(r => r.getAs[String]("name") ->
      (r.getAs[String]("pdf_path"), r.getAs[Int]("pages"))).toMap
    assert(rows.size == 2)
    assert(rows("Oak Chair / classic")._2 == 3)
    assert(rows("Pine Table")._2 == 1)
    // forbidden filename chars sanitized like the reference
    assert(rows("Oak Chair / classic")._1.endsWith("Oak Chair _ classic.pdf"))

    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get(rows("Oak Chair / classic")._1.stripPrefix("file:")))
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s.startsWith("%PDF-1.4\n") && s.endsWith("%%EOF\n"))
    // page objects: 3 pages + 1 /Pages tree
    assert("/Type /Page[^s]".r.findAllIn(s).length == 3)
    assert(s.contains("/Count 3"))
    // text layer present, entities decoded, parens escapable
    assert(s.contains("(Catalog & Spec) Tj"))
    assert(s.contains("(paragraph 129) Tj"))
    // xref integrity: startxref points at the xref table, and every
    // object offset points at "<id> 0 obj"
    val xrefPos = """startxref\n(\d+)\n""".r.findFirstMatchIn(s).get
      .group(1).toInt
    assert(s.startsWith("xref", xrefPos))
    val offsets = """(\d{10}) 00000 n""".r.findAllMatchIn(s)
      .map(_.group(1).toInt).toSeq
    offsets.zipWithIndex.foreach { case (off, i) =>
      assert(s.startsWith(s"${i + 1} 0 obj", off),
        s"object ${i + 1} offset $off does not land on its header")
    }
    // small doc: entities decoded inside WinAnsi escape rules
    val small = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        rows("Pine Table")._1.stripPrefix("file:"))),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(small.contains("(small <sample>) Tj"))
    // rendering is idempotent: rerunning overwrites to identical bytes
    val again = graft.sources.Sinks
      .renderPdf(df, "name", "details_html", dir)
    assert(again.count() == 2)
    val bytes2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get(rows("Oak Chair / classic")._1.stripPrefix("file:")))
    assert(java.util.Arrays.equals(bytes, bytes2))
  }

  test("sources: xlsx reads sheet1 — shared strings, inlineStr, sparse nulls") {
    val df = graft.sources.Xlsx.xlsx(spark, "/root/repo/fixtures")
    assert(df.columns.toSeq == Seq("Master Code", "Product SKU",
      "Product Name", "Selling Price", "Inventory", "Attributes",
      "Images", "Video Url", "Category", "Details HTML"))
    val bySku = df.collect()
      .map(r => r.getAs[String]("Product SKU") -> r).toMap
    assert(bySku.size == 8)
    val a = bySku("M001-A.0")
    assert(a.getAs[String]("Inventory") == "10") // inlineStr cell
    assert(a.getAs[String]("Attributes") == "品牌:OakCo-材质:橡木")
    assert(a.getAs[String]("Selling Price") == "1 299,50")
    assert(a.getAs[String]("Video Url") == null) // absent cell
    val b = bySku("M001-B")
    assert(b.getAs[String]("Video Url") == "https://v/1.mp4")
    assert(b.getAs[String]("Inventory") == "5") // plain number cell
    assert(bySku("SKIP-1").getAs[String]("Master Code") == null)
    // parity with the CSV read of the same table (CSV nulls blanks)
    val csv = graft.pipelines.Importer.loadRaw(spark,
      "/root/repo/fixtures/raw_products.csv")
    assertSameRows(csv.select("Master Code", "Product SKU", "Category"),
      df.select("Master Code", "Product SKU", "Category"))
  }

  test("importer: xlsx source runs the full pipeline — table parity with CSV") {
    // the runFrom seam: everything downstream of the read is
    // source-agnostic, so the Excel path must produce the exact same
    // seven tables as the CSV path over the mirrored fixture
    val fromCsv = Importer.run(spark, RawCsv, MapCsv)
    val fromXlsx = Importer.runFrom(spark,
      graft.sources.Xlsx.xlsx(spark, "/root/repo/fixtures"), MapCsv)
    assertSameRows(fromCsv.collections, fromXlsx.collections)
    assertSameRows(fromCsv.products, fromXlsx.products)
    assertSameRows(fromCsv.categories, fromXlsx.categories)
    assertSameRows(fromCsv.collectionCategory, fromXlsx.collectionCategory)
    assertSameRows(fromCsv.collectionTranslations,
      fromXlsx.collectionTranslations)
    assertSameRows(fromCsv.detailsHtml, fromXlsx.detailsHtml)
    assertSameRows(fromCsv.collectionDetailsHtml,
      fromXlsx.collectionDetailsHtml)
  }

  test("sources: csvWithRejects quarantines malformed rows, keeps the rest") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-rejects")
    val f = dir.resolve("data.csv")
    java.nio.file.Files.writeString(f,
      """id;name;price
        |1;widget;9.99
        |2;broken-line-without-price
        |3;gadget;12.50
        |not-a-number;x;1.00
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("price", DoubleType)))
    val split = graft.sources.Sources
      .csvWithRejects(spark, f.toString, schema)
    val ids = split.good.select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L), s"good ids: $ids")
    val raw = split.rejects.select("raw_line").as[String].collect().toSet
    assert(raw.exists(_.startsWith("2;broken")), raw)
    assert(raw.exists(_.startsWith("not-a-number")), raw)
    assert(split.rejects.count() == 2L)
    // the shared parse cache is caller-releasable — a long-lived
    // session ingesting many files must not accumulate cached plans
    assert(split.raw.storageLevel.useMemory, "parse must arrive cached")
    split.release()
    assert(split.raw.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "release() must evict the parse cache")
  }

  test("httpFetch over the REAL transport: transient 503s are retried " +
      "to success (hit counts prove it), permanent failures exhaust " +
      "attempts loudly") {
    import graft.sources.{HttpFixture, Sources}
    val port = HttpFixture.port
    HttpFixture.hits.clear()
    val urls = Seq(11L, 12L, 13L).map(i =>
        (i, s"http://127.0.0.1:$port/doc/$i")) ++
      Seq(14L, 15L).map(i => (i, s"http://127.0.0.1:$port/flaky/$i"))
    val out = Sources.httpFetch(urls.toDF("id", "url"), "url",
        Sources.httpGet, attempts = 3, backoffMs = 10,
        minIntervalMs = 0)
      .select("id", "body").as[(Long, String)].collect().toMap
    assert(out == (11L to 15L).map(i => i -> s"doc $i payload").toMap)
    // the flaky endpoints were actually hit twice (503 then 200);
    // healthy ones exactly once — the retry is real, not decorative
    assert(HttpFixture.hits.get("/flaky/14") == 2)
    assert(HttpFixture.hits.get("/flaky/15") == 2)
    assert(HttpFixture.hits.get("/doc/11") == 1)
    // permanent failure: all attempts burned, error surfaces
    val dead = Sources.httpFetch(
      Seq((1L, s"http://127.0.0.1:$port/dead/1")).toDF("id", "url"),
      "url", Sources.httpGet, attempts = 3, backoffMs = 5,
      minIntervalMs = 0)
    val e = intercept[Exception] { dead.collect() }
    assert(e.getMessage != null)
    assert(HttpFixture.hits.get("/dead/1") == 3,
      "permanent failure must burn exactly `attempts` requests")
  }

  test("httpFetchBytes: binary payloads survive the wire bit-exact; " +
      "the retry path covers binary endpoints too") {
    import graft.sources.{HttpFixture, Sources}
    val port = HttpFixture.port
    HttpFixture.hits.clear()
    val urls = Seq((1L, s"http://127.0.0.1:$port/img/1"),
      (2L, s"http://127.0.0.1:$port/imgflaky/2")).toDF("id", "url")
    val out = Sources.httpFetchBytes(urls, "url", Sources.httpGetBytes,
        attempts = 3, backoffMs = 5, minIntervalMs = 0)
      .select("id", "body").as[(Long, Array[Byte])].collect().toMap
    // bit-exact: the payload is NOT valid UTF-8 (JPEG magic 0xFFD8),
    // so any text decode in the transport would corrupt it
    assert(java.util.Arrays.equals(out(1L), HttpFixture.jpegBytes))
    assert(java.util.Arrays.equals(out(2L), HttpFixture.jpegBytes),
      "the post-503 retry must deliver the same bytes")
    assert(HttpFixture.hits.get("/imgflaky/2") == 2)
    assert(HttpFixture.hits.get("/img/1") == 1)
  }

  test("translateHttp: ONE client per partition — handshake count " +
      "equals the non-empty partition count, every row flows through " +
      "that partition's client") {
    import graft.sources.HttpFixture
    val port = HttpFixture.port
    HttpFixture.hits.clear()
    val df = (0 until 8).map(i => (i.toLong, s"hello $i"))
      .toDF("id", "snippet").repartition(4)
    val out = graft.operators.Services.translateHttp(df, "snippet",
        "zh", "en", s"http://127.0.0.1:$port/translate", backoffMs = 5)
      .select("id", "translated").as[(Long, String)].collect().toMap
    assert(out ==
      (0 until 8).map(i => i.toLong -> s"[zh->en] hello $i").toMap)
    assert(HttpFixture.hits.get("/hello-translate") == 4,
      "one client init (handshake GET) per non-empty partition")
    assert(HttpFixture.hits.get("/translate") == 8,
      "each row exactly one POST — no per-row client churn")
  }

  test("chatTranslateHttp: one POST per GROUP (batched wire), lines " +
      "map back 1:1 in ord order, and a first-hit 503 is retried " +
      "through; a line-count mismatch fails loudly") {
    import graft.sources.HttpFixture
    val port = HttpFixture.port
    HttpFixture.hits.clear()
    // 3 groups x 3 lines, shuffled input order
    val df = (for (g <- Seq("a", "b", "c"); i <- 0 until 3)
      yield (g, i.toLong, s"line $g$i")).reverse
      .toDF("grp", "ord", "txt").repartition(4)
    val out = graft.operators.Services.chatTranslateHttp(df,
        "grp", "ord", "txt", "zh", "en",
        s"http://127.0.0.1:$port/chatflaky", backoffMs = 5)
      .as[(String, Long, String)].collect()
    assert(out.length == 9)
    assert(out.toSet ==
      (for (g <- Seq("a", "b", "c"); i <- 0 until 3)
        yield (g, i.toLong, s"[zh->en] line $g$i")).toSet)
    // 3 groups -> 3 POSTs, +1 for the retried 503 on the first hit
    assert(HttpFixture.hits.get("/chatflaky") == 4,
      "request count scales with GROUPS (plus the one retried 503)")
    // a multi-line source line breaks the 1:1 batch frame — loud
    val bad = Seq(("g", 0L, "two\nlines")).toDF("grp", "ord", "txt")
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Services.chatTranslateHttp(bad, "grp", "ord",
        "txt", "zh", "en", s"http://127.0.0.1:$port/chat",
        backoffMs = 5).collect()
    }
    assert(e.getMessage.contains("batch frame") ||
      Option(e.getCause).exists(_.getMessage.contains("batch frame")))
  }

  test("nameSkuHttp: per-row category|collection POST lands Name|SKU " +
      "columns matching the stub transform; first-hit 503 retried") {
    import graft.sources.HttpFixture
    val port = HttpFixture.port
    HttpFixture.hits.clear()
    val df = Seq(("chair", "oak grove"), ("lamp", "brass"))
      .toDF("cat", "coll")
    val out = graft.operators.Services.nameSkuHttp(df, "cat", "coll",
        s"http://127.0.0.1:$port/nameflaky", backoffMs = 5)
      .select("cat", "name", "sku").as[(String, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // transform parity with the stub (the graded oracle's contract)
    val stub = df.select($"cat",
        graft.operators.Services.nameSkuStub($"cat", $"coll").as("ns"))
      .select($"cat", $"ns.name", $"ns.sku")
      .as[(String, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == stub, s"live wire vs stub: $out vs $stub")
    assert(out("chair")._1 == "Chair Oak Grove")
    // 2 rows -> 2 POSTs + 1 retried 503
    assert(HttpFixture.hits.get("/nameflaky") == 3)
  }

  test("PgWire.sqlLiteral renders the write dialect: quoting, arrays, " +
      "UTC timestamps, bytea, NaN") {
    import graft.sources.PgWire.sqlLiteral
    assert(sqlLiteral(null) == "NULL")
    assert(sqlLiteral("o'x") == "'o''x'")
    assert(sqlLiteral(Seq("a", null, "b c")) ==
      "ARRAY['a', NULL, 'b c']")
    assert(sqlLiteral(Seq.empty[String]) == "ARRAY[]::text[]")
    assert(sqlLiteral(java.sql.Timestamp.from(
        java.time.Instant.parse("2026-01-02T03:04:05.123456Z"))) ==
      "'2026-01-02 03:04:05.123456+00'")
    assert(sqlLiteral(Array[Byte](0xde.toByte, 0xad.toByte)) ==
      "'\\xdead'")
    assert(sqlLiteral(Double.NaN) == "'NaN'")
    assert(sqlLiteral(new java.math.BigDecimal("12345.6789")) ==
      "12345.6789")
  }

  test("PgWire SCRAM-SHA-256: the scram-forced role authenticates " +
      "with the right password, rejects a wrong one, and trust users " +
      "are unaffected") {
    import graft.sources.{PgServer, PgWire}
    val (h, p) = PgServer.hostPort
    val (user, pass) = PgServer.scramUser
    val (_, _, rows) = PgWire.query(h, p, user, "postgres",
      "SELECT 41 + 1", password = Some(pass))
    assert(rows.map(_.toSeq) == Seq(Seq("42")))
    val e = intercept[java.io.IOException] {
      PgWire.query(h, p, user, "postgres", "SELECT 1",
        password = Some("wrong-password"))
    }
    assert(e.getMessage.contains("auth") ||
      e.getMessage.contains("password"), e.getMessage)
    // no password at all against a scram-demanding role: loud, named
    val e2 = intercept[java.io.IOException] {
      PgWire.query(h, p, user, "postgres", "SELECT 1")
    }
    assert(e2.getMessage.contains("no password was provided"))
    // the trust superuser path is untouched by the prepended rule
    val (_, _, r2) = PgWire.query(h, p, "graft", "postgres", "SELECT 7")
    assert(r2.map(_.toSeq) == Seq(Seq("7")))
  }

  test("graft-pg DataSourceV2: schema from RowDescription, filter + " +
      "column pushdown compile into the scan SQL, partitioned slices " +
      "union to the truth") {
    import graft.sources.{PgServer, PgWire}
    import org.apache.spark.sql.types._
    val (h, p) = PgServer.hostPort
    PgWire.query(h, p, "graft", "postgres",
      "DROP TABLE IF EXISTS dsv2_probe; " +
        "CREATE TABLE dsv2_probe " +
        "(k bigint, v text, ts timestamptz, price numeric); " +
        "INSERT INTO dsv2_probe SELECT g, 'v' || g, " +
        "'2026-01-01 00:00:00+00'::timestamptz + g * interval '1 hour'," +
        " g FROM generate_series(0, 99) g; " +
        // the adversarial partition keys: NULL (no modulus slice
        // matches without the IS NULL arm) and bigint-min (abs()
        // overflows in pg)
        "INSERT INTO dsv2_probe VALUES (NULL, 'vnull', NULL, NULL), " +
        "(-9223372036854775808, 'vmin', NULL, 12);")
    val df = spark.read.format("graft-pg")
      .option("host", h).option("port", p.toString)
      .option("user", "graft").option("database", "postgres")
      .option("table", "dsv2_probe")
      .option("partitionColumn", "k").option("numPartitions", "4")
      .load()
    // schema came from the server's RowDescription, not a guess
    // (numeric rides as its exact decimal STRING, per the dialect)
    assert(df.schema == StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("ts", TimestampType),
      StructField("price", StringType))))
    // every row lands in exactly one slice — NULL keys and bigint-min
    // included (102 = 100 + the two adversarial rows)
    assert(df.count() == 102)
    assert(df.filter($"k".isNull).select("v").as[String].collect()
      .toSeq == Seq("vnull"))
    // a string comparison on a NUMERIC-backed column must NOT push:
    // Spark compares the canonical TEXT ("12" < "9", "95" > "9"), pg
    // would compare VALUES (12 > 9) — under pg semantics this filter
    // returns 91 rows (10..99 and the vmin row's 12); under Spark's
    // string semantics exactly the ten "90".."99". The oid gate keeps
    // it Spark-side, so the STRING answer is the one we must get.
    val semantic = df.filter($"price" > "9")
    assert(!semantic.queryExecution.executedPlan.toString
      .contains("\"price\" >"),
      "numeric-backed string comparison must stay in Spark")
    assert(semantic.select("k").as[Long].collect().toSet ==
      (90L to 99L).toSet)
    val q = df.filter($"k" >= 10L && $"k" <= 19L).select("k", "v")
    // pushdown is auditable: the scan description carries the exact
    // SQL, with the pruned SELECT list and the compiled WHERE
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("\"k\", \"v\" FROM dsv2_probe"),
      s"column pruning must reach the server SQL:\n$plan")
    assert(plan.contains(">= 10") && plan.contains("<= 19"),
      s"range filter must compile into the WHERE clause:\n$plan")
    assert(q.as[(Long, String)].collect().sorted.toSeq ==
      (10L to 19L).map(i => (i, s"v$i")))
    // timestamps decode per the dialect (hour g = epoch + g*3600s)
    val ts17 = df.filter($"k" === 17L)
      .select(unix_micros($"ts")).as[Long].collect()(0)
    assert(ts17 == 1767225600000000L + 17L * 3600L * 1000000L)
    // unsupported filters stay in Spark and still evaluate: endsWith
    // pushes as LIKE, arithmetic predicate does not push
    assert(df.filter($"v".endsWith("7") && ($"k" % 10L === 7L))
      .count() == 10)
  }

  test("graft-pg DSv2 write: task abort rolls the partition back — a " +
      "poisoned partition lands ZERO rows, never a partial prefix") {
    import graft.sources.{PgServer, PgWire}
    val (h, p) = PgServer.hostPort
    PgWire.query(h, p, "graft", "postgres",
      "DROP TABLE IF EXISTS v2_abort; " +
        "CREATE TABLE v2_abort (grp bigint, k bigint);")
    // grp 0 = clean partition, grp 1 = poisoned: row k=13 throws
    // AFTER rows 10..12 were already written into the COPY stream —
    // without the per-task transaction those three would persist
    val df = (0L until 20L).map(i => (i / 10L, i)).toDF("grp", "k")
      .repartition(2, $"grp")
      .select($"grp",
        when($"k" === 13L, expr("raise_error('boom')").cast("long"))
          .otherwise($"k").as("k"))
    intercept[Exception] {
      df.write.format("graft-pg")
        .option("host", h).option("port", p.toString)
        .option("user", "graft").option("database", "postgres")
        .option("table", "v2_abort").mode("append").save()
    }
    val (_, _, rows) = PgWire.query(h, p, "graft", "postgres",
      "SELECT grp, count(*) FROM v2_abort GROUP BY grp ORDER BY grp")
    val byGrp = rows.map(r => r(0).toLong -> r(1).toLong).toMap
    assert(byGrp.getOrElse(1L, 0L) == 0L,
      s"poisoned partition must roll back wholesale: $byGrp")
    assert(Set(0L, 10L).contains(byGrp.getOrElse(0L, 0L)),
      s"clean partition is all-or-nothing, never partial: $byGrp")
  }

  test("graft-pg aggregate pushdown: COUNT/SUM/MIN/MAX + GROUP BY run " +
      "server-side as per-slice partials, AVG is declined yet exact") {
    import graft.sources.{PgServer, PgWire}
    val (h, p) = PgServer.hostPort
    PgWire.query(h, p, "graft", "postgres",
      "DROP TABLE IF EXISTS agg_probe; " +
        "CREATE TABLE agg_probe (g bigint, x bigint, d double precision); " +
        "INSERT INTO agg_probe SELECT g % 5, g, g * 0.25 " +
        "FROM generate_series(0, 199) g; " +
        "INSERT INTO agg_probe VALUES (1, NULL, NULL);")
    val df = spark.read.format("graft-pg")
      .option("host", h).option("port", p.toString)
      .option("user", "graft").option("database", "postgres")
      .option("table", "agg_probe")
      .option("partitionColumn", "g").option("numPartitions", "3")
      .load()
    val q = df.groupBy($"g").agg(count(lit(1)).as("n"),
      count($"x").as("nx"), min($"x").as("mn"),
      max($"x").as("mx"), sum($"d").as("sd"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("count(*)") && plan.contains("GROUP BY"),
      s"aggregates must appear in the scan's server SQL:\n$plan")
    val got = q.orderBy("g")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val want = (0L to 4L).map { g =>
      val xs = (0L to 199L).filter(_ % 5 == g)
      val nNull = if (g == 1) 1 else 0
      (g, xs.size.toLong + nNull, xs.size.toLong, xs.min,
        xs.max, xs.map(_ * 0.25).sum)
    }
    assert(got == want, s"partial-merge mismatch:\n$got\n$want")
    // SUM(bigint) is DECLINED: pg's numeric partial could overflow the
    // int64 cast server-side on a slice whose overflow would cancel in
    // the merge — the raw column ships and Spark aggregates, exact.
    val sq = df.groupBy($"g").agg(sum($"x").as("sx"))
    val sqSql = sq.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("graft-pg SELECT")).getOrElse("")
    assert(!sqSql.contains("sum(\"x\")"),
      s"sum(bigint) must NOT reach the server SQL: $sqSql")
    val sxs = sq.orderBy("g").as[(Long, Long)].collect().toSeq
    assert(sxs == (0L to 4L).map(g =>
      (g, (0L to 199L).filter(_ % 5 == g).sum)),
      s"unpushed bigint sum must stay exact: $sxs")
    // AVG: this source declines it, and Spark's V2 pushdown then
    // DECOMPOSES it into sum+count partials — which we do accept for
    // float8 — so the server still aggregates and Spark does the
    // exact division. The scan shows the partials, never the raw col.
    val avg = df.groupBy($"g").agg(org.apache.spark.sql.functions
      .avg($"d").as("a"))
    val scanSql = avg.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("graft-pg SELECT")).getOrElse("")
    assert(scanSql.contains("sum(\"d\")") &&
      scanSql.contains("count(\"d\")") &&
      !scanSql.contains("\"d\" FROM"),
      s"avg must ride as pushed sum+count partials: $scanSql")
    val a1 = avg.filter($"g" === 0L).as[(Long, Double)].collect()(0)._2
    assert(a1 ==
      (0L to 199L).filter(_ % 5 == 0).map(_ * 0.25).sum / 40)
    // LIMIT pushes per-slice (partial): the server stops after n rows
    // per slice, Spark takes the global n over the union — and the
    // undrained streams the limit abandons are closed by the task
    // listener, not leaked
    val lim = df.select("g").limit(4)
    val limSql = lim.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("graft-pg SELECT")).getOrElse("")
    assert(limSql.contains("LIMIT 4"),
      s"limit must reach the server SQL: $limSql")
    assert(lim.collect().length == 4)
  }

  test("graft-pg semantic gates: min/max(boolean) and bpchar equality " +
      "stay in Spark; a wide repartition of a tiny frame still writes") {
    import graft.sources.{PgServer, PgWire}
    val (h, p) = PgServer.hostPort
    PgWire.query(h, p, "graft", "postgres",
      "DROP TABLE IF EXISTS gate_probe; " +
        "CREATE TABLE gate_probe (k bigint, flag boolean, c char(3)); " +
        "INSERT INTO gate_probe VALUES (1, true, 'a'), (2, false, 'ab');")
    val df = spark.read.format("graft-pg")
      .option("host", h).option("port", p.toString)
      .option("user", "graft").option("database", "postgres")
      .option("table", "gate_probe").load()
    // pg has no max(boolean): the aggregate must stay in Spark and
    // still answer (true > false in Spark's ordering)
    val mx = df.agg(max($"flag")).as[Boolean].collect()(0)
    assert(mx, "max over (true,false) is true")
    // bpchar pads: pg would say 'a  ' = 'a' (row returned); Spark
    // compares the padded text — the gate keeps Spark's answer
    assert(df.filter($"c" === "a").count() == 0,
      "padded char(3) must not equal the unpadded literal")
    assert(df.filter($"c" === "a  ").count() == 1)
    // writer: 3 rows across 24 partitions — empty partitions must
    // cost nothing and the write must land exactly once
    PgWire.query(h, p, "graft", "postgres",
      "DROP TABLE IF EXISTS gate_sink; " +
        "CREATE TABLE gate_sink (k bigint);")
    Seq(1L, 2L, 3L).toDF("k").repartition(24)
      .write.format("graft-pg")
      .option("host", h).option("port", p.toString)
      .option("user", "graft").option("database", "postgres")
      .option("table", "gate_sink").mode("append").save()
    val (_, _, back) = PgWire.query(h, p, "graft", "postgres",
      "SELECT k FROM gate_sink ORDER BY k")
    assert(back.map(_(0).toLong).toSeq == Seq(1L, 2L, 3L))
  }

  test("pg write dialects are adversarially lossless: every escaping " +
      "edge case round-trips bit-exact through BOTH the INSERT and " +
      "COPY paths") {
    import graft.sources.{PgServer, PgWire}
    import org.apache.spark.sql.types._
    val (h, p) = PgServer.hostPort
    // the corpus a fuzzer would find: quoting metacharacters, COPY
    // escapes, array grammar metacharacters, NULL-lookalikes, CJK,
    // emoji, combining marks, whitespace edges. (pg text cannot hold
    // a NUL byte — the one documented exclusion of the dialect.)
    val nasty = Seq(
      "plain", "", " ", "  leading and trailing  ",
      "tab\there", "new\nline", "carriage\rreturn", "back\\slash",
      "single'quote", "double\"quote", "{brace,comma}", "NULL", "null",
      "\\N", "\\x41", "华为—测试", "emoji 🙂 ok", "é combining",
      "mixed \t\n\\ '\" {x,y} end")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType),
      StructField("arr", ArrayType(StringType))))
    val rows = nasty.zipWithIndex.map { case (s, i) =>
      org.apache.spark.sql.Row(i.toLong, s, Seq(s, null, s + "|2"))
    }
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    for ((path, table) <- Seq("insert" -> "nasty_ins",
        "copy" -> "nasty_copy")) {
      PgWire.query(h, p, "graft", "postgres",
        s"DROP TABLE IF EXISTS $table; " +
          s"CREATE TABLE $table (id bigint, s text, arr text[]);")
      if (path == "insert")
        PgWire.writeTable(df, h, p, "graft", "postgres", table,
          batchRows = 7)
      else
        PgWire.writeTableCopy(df, h, p, "graft", "postgres", table)
      val back = PgWire.readTable(spark, h, p, "graft", "postgres",
          s"SELECT id, s, arr FROM $table ORDER BY id")
        .collect()
      assert(back.length == nasty.length, s"$path row count")
      back.foreach { r =>
        val i = r.getLong(0).toInt
        assert(r.getString(1) == nasty(i),
          s"$path s[$i]: ${r.getString(1)} != ${nasty(i)}")
        assert(r.getSeq[String](2) ==
          Seq(nasty(i), null, nasty(i) + "|2"), s"$path arr[$i]")
      }
    }
  }

  test("PgWire: live PostgreSQL round trip — the array grammar parses, " +
      "typed driver reads and predicate-sliced executor reads agree " +
      "with the seeded truth") {
    import graft.sources.{PgServer, PgWire}
    // array literal grammar (no server needed): quoting, escapes,
    // NULL element vs quoted "NULL" string, empty array
    assert(PgWire.parsePgArray("{}") == Seq())
    assert(PgWire.parsePgArray("{a,b}") == Seq("a", "b"))
    assert(PgWire.parsePgArray("{\"b c\",NULL,\"q\\\"x\"}") ==
      Seq("b c", null, "q\"x"))
    assert(PgWire.parsePgArray("{\"NULL\"}") == Seq("NULL"))
    val (h, p) = PgServer.hostPort
    PgWire.query(h, p, "graft", "postgres",
      "DROP TABLE IF EXISTS spec_probe; " +
        "CREATE TABLE spec_probe (k bigint, v text); " +
        "INSERT INTO spec_probe " +
        "SELECT g, 'v' || g FROM generate_series(0, 99) g;")
    val full = PgWire.readTable(spark, h, p, "graft", "postgres",
      "SELECT k, v FROM spec_probe")
    assert(full.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    val want = (0L until 100L).map(i => (i, s"v$i")).toSet
    assert(full.as[(Long, String)].collect().toSet == want)
    // partitioned read: 4 disjoint mod-slices, each fetched by its
    // own task's connection, union to the same truth
    val parts = PgWire.readPartitioned(spark, h, p, "graft",
      "postgres", 4,
      i => s"SELECT k::text, v FROM spec_probe WHERE k % 4 = $i")
    val got = parts.as[Seq[String]].collect()
      .map(c => (c(0).toLong, c(1))).toSet
    assert(got == want, s"partitioned union mismatch: ${got.size}")
  }

  test("ManifestTable.vacuum: the retained window still reads exactly, " +
      "retired versions fail loudly, strays and aborted writes are " +
      "reclaimed") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-vacuum-spec").toString
    val df = (1L to 60L).toDF("k")
    ManifestTable.commit(df.filter($"k" <= 20), table, append = false)
    ManifestTable.commit(df.filter($"k" > 20 && $"k" <= 40), table,
      append = true)
    ManifestTable.commit(df.filter($"k" > 40), table, append = true)
    // a stray file and an aborted (unpublished) write — both
    // unreferenced, both must be reclaimed by the sweep
    df.limit(3).write.parquet(s"$table/data/c999")
    df.limit(5).write.parquet(s"$table/data/c4")
    // default grace window first: the just-written strays are YOUNG,
    // so a retention-safe sweep must presume they are an in-flight
    // writer's staging and keep them
    val (_, deleted0) = ManifestTable.vacuum(table, keepVersions = 3)
    assert(deleted0 == 0,
      "fresh unreferenced files are in-flight staging, not garbage")
    val (kept, deleted) = ManifestTable.vacuum(table, keepVersions = 2,
      graceMs = 0L)
    assert(ManifestTable.versions(table) == Seq(2L, 3L))
    assert(ManifestTable.read(spark, table, Some(3L))
      .as[Long].collect().toSet == (1L to 60L).toSet,
      "latest snapshot must survive the sweep intact")
    assert(ManifestTable.read(spark, table, Some(2L))
      .as[Long].collect().toSet == (1L to 40L).toSet)
    intercept[IllegalArgumentException] {
      ManifestTable.read(spark, table, Some(1L))
    }
    // nothing unreferenced survives on disk: v1's files are still
    // LIVE (v2/v3 carried them forward by reference), so only the
    // stray + aborted files died
    assert(kept >= 3 && deleted >= 2, s"kept=$kept deleted=$deleted")
    val remaining = java.nio.file.Files
      .walk(java.nio.file.Paths.get(table, "data"))
      .iterator()
    val live = scala.jdk.CollectionConverters.IteratorHasAsScala(remaining)
      .asScala
      .count(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_"))
    assert(live == kept, s"disk has $live parquet files, kept=$kept")
  }

  test("ManifestTable.compact: small files coalesce in one version " +
      "step, data and time travel intact, re-compact is a no-op, " +
      "vacuum reclaims the rewritten inputs") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-compact-spec").toString
    val df = (1L to 90L).toDF("k")
    for (m <- 0 to 2)
      ManifestTable.commit(df.filter($"k" % 3 === m).coalesce(1),
        table, append = true)
    val (v, before, after) =
      ManifestTable.compact(spark, table, Long.MaxValue / 2)
    assert((v, before, after) == ((4L, 3, 1)), s"$v $before $after")
    assert(ManifestTable.read(spark, table)
      .as[Long].collect().toSet == (1L to 90L).toSet,
      "compaction must be invisible to values")
    assert(ManifestTable.read(spark, table, Some(2L))
      .as[Long].collect().toSet ==
      (1L to 90L).filter(k => k % 3 <= 1).toSet,
      "pre-compaction versions still read until vacuumed")
    // already-compacted state: no rewrite, no publish
    val (v2, b2, a2) = ManifestTable.compact(spark, table, Long.MaxValue / 2)
    assert((v2, b2, a2) == ((4L, 1, 1)), s"$v2 $b2 $a2")
    // retention sweep now reclaims the three rewritten inputs
    val (kept, deleted) =
      ManifestTable.vacuum(table, keepVersions = 1, graceMs = 0L)
    assert(kept == 1 && deleted == 3, s"kept=$kept deleted=$deleted")
    assert(ManifestTable.read(spark, table)
      .as[Long].collect().toSet == (1L to 90L).toSet)
  }

  test("ManifestTable stats pruning: zones skip non-overlapping " +
      "files, carry across appends, and a stats-less file always " +
      "scans — skipping is an optimization, never a filter") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-prune-spec").toString
    val df = (1L to 90L).toDF("k")
    ManifestTable.commitWithStats(df.filter($"k" <= 30).coalesce(1),
      table, append = true, "k")
    ManifestTable.commitWithStats(
      df.filter($"k" > 30 && $"k" <= 60).coalesce(1),
      table, append = true, "k")
    // a plain commit: its file carries NO stats line
    ManifestTable.commit(df.filter($"k" > 60).coalesce(1),
      table, append = true)
    val (hit, total, scanned) =
      ManifestTable.readPruned(spark, table, "k", 35L, 40L)
    // file 2 overlaps; file 1 skips by stats; file 3 scans (no stats)
    assert((total, scanned) == ((3, 2)), s"$total $scanned")
    assert(hit.as[Long].collect().toSet == (35L to 40L).toSet,
      "the row filter keeps results exact regardless of zones")
    val (none, t2, s2) = ManifestTable.readPruned(spark, table, "k",
      200L, 300L)
    assert(s2 == 1 && none.count() == 0L,
      s"out-of-range probe reads only the stats-less file: $s2")
    assert(t2 == 3)
    // COLUMN-MISMATCH law: stats recorded for k must NEVER prune a
    // read on m — the stats line names its column, so a foreign-
    // column probe scans every file and the row filter decides
    val two = (1L to 30L).map(i => (i, 1000L - i)).toDF("k", "m")
    val t2dir = java.nio.file.Files
      .createTempDirectory("graft-prune-col").toString
    ManifestTable.commitWithStats(two.filter($"k" <= 15).coalesce(1),
      t2dir, append = true, "k")
    ManifestTable.commitWithStats(two.filter($"k" > 15).coalesce(1),
      t2dir, append = true, "k")
    // if the k zones [1,15]/[16,30] were misapplied to this m-range,
    // BOTH files would skip and the result would be silently empty
    val (mhit, tc, sc) =
      ManifestTable.readPruned(spark, t2dir, "m", 970L, 985L)
    assert(tc == 2 && sc == 2,
      s"k-stats must not prune an m-read: scanned $sc of $tc")
    assert(mhit.count() == 16L,
      "the row filter alone decides a foreign-column probe")
  }

  test("ManifestTable multi-column stats: one commit records a zone " +
      "line per column, conjunctive reads intersect the skips, and " +
      "each column prunes independently") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-prune-multi-spec").toString
    // m decorrelated from k so every grid cell is non-empty (a
    // correlated m would leave two cells as empty, stats-less,
    // always-scanned files)
    val df = (1L to 100L).map(i => (i, (i * 37L) % 100L)).toDF("k", "m")
    // 2x2 grid: (k half) x (m half)
    for (kHigh <- Seq(false, true); mHigh <- Seq(false, true)) {
      val slice = df
        .filter(if (kHigh) $"k" > 50 else $"k" <= 50)
        .filter(if (mHigh) $"m" > 50 else $"m" <= 50)
      ManifestTable.commitWithStats(slice.coalesce(1), table,
        append = true, Seq("k", "m"), None)
    }
    // k-only probe: the two low-k files
    val (_, t1, s1) = ManifestTable.readPruned(spark, table, "k", 10L, 20L)
    assert((t1, s1) == ((4, 2)), s"$t1 $s1")
    // m-only probe: the two high-m files
    val (_, t2, s2) = ManifestTable.readPruned(spark, table, "m",
      60L, 70L)
    assert((t2, s2) == ((4, 2)), s"$t2 $s2")
    // conjunction: exactly the (low-k, high-m) cell
    val (hit, t3, s3) = ManifestTable.readPruned(spark, table,
      Seq(("k", 10L, 20L), ("m", 60L, 70L)), None)
    assert((t3, s3) == ((4, 1)), s"$t3 $s3")
    assert(hit.select("k").as[Long].collect().toSet ==
      (10L to 20L).filter(k => { val m = (k * 37) % 100
        m >= 60 && m <= 70 }).toSet,
      "conjunctive row filters keep the result exact")
    // a single-column read against the multi-stat manifest still
    // prunes on just that column (extra lines never misapply)
    val (_, t4, s4) = ManifestTable.readPruned(spark, table, "k",
      200L, 300L)
    assert((t4, s4) == ((4, 0)), s"$t4 $s4")
  }

  test("ManifestTable.compact carries merged zone stats: compacted " +
      "outputs keep min(mins)/max(maxes) of their inputs, so pruned " +
      "reads keep skipping after OPTIMIZE; a stats-less input " +
      "yields an always-scan output") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-compact-stats-spec").toString
    val df = (1L to 120L).toDF("k")
    // four range-disjoint stat-bearing files of ~equal size
    for (q <- 0 to 3)
      ManifestTable.commitWithStats(
        df.filter($"k" > q * 30 && $"k" <= (q + 1) * 30).coalesce(1),
        table, append = true, "k")
    // pair them: group 0 = [1,60], group 1 = [61,120]
    val dataDir = java.nio.file.Paths.get(table, "data")
    val sizes = {
      val st = java.nio.file.Files.walk(dataDir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(
          st.iterator()).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
    val (v, before, after) = ManifestTable.compact(spark, table, sizes / 2 + 1)
    assert((before, after) == ((4, 2)), s"$v $before $after")
    // pruned read against the POST-compaction snapshot still skips:
    // [10,20] lives in compacted group 0 only
    val (hit, total, scanned) =
      ManifestTable.readPruned(spark, table, "k", 10L, 20L)
    assert((total, scanned) == ((2, 1)),
      s"compacted outputs must keep zone stats: scanned $scanned of $total")
    assert(hit.as[Long].collect().toSet == (10L to 20L).toSet)
    // values bit-identical through the rewrite
    assert(ManifestTable.read(spark, table)
      .as[Long].collect().toSet == (1L to 120L).toSet)
    // a group containing ANY stats-less input publishes no line for
    // its output (merged bounds would be a guess) — always scanned
    val t2 = java.nio.file.Files
      .createTempDirectory("graft-compact-stats-mixed").toString
    ManifestTable.commitWithStats(df.filter($"k" <= 60).coalesce(1),
      t2, append = true, "k")
    ManifestTable.commit(df.filter($"k" > 60).coalesce(1),
      t2, append = true) // no stats
    ManifestTable.compact(spark, t2, Long.MaxValue / 2)
    val (_, tt, ts) = ManifestTable.readPruned(spark, t2, "k",
      500L, 600L)
    assert((tt, ts) == ((1, 1)),
      "an output with a stats-less input must always scan")
  }

  test("ManifestTable.deleteRange: copy-on-write DML rewrites only " +
      "zone-overlapping files, keeps NULL rows, preserves stats and " +
      "counts, no-ops on a missing range, and survives delete-all") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-delete-spec").toString
    // file 1: k 1..40 with a NULL row; file 2: k 41..80; file 3: 81..120
    val withNull = (1L to 40L).map(i => Some(i)).:+(None).toDF("k")
    ManifestTable.commitWithStats(withNull.coalesce(1), table,
      append = true, "k")
    ManifestTable.commitWithStats(
      (41L to 80L).toDF("k").coalesce(1), table, append = true, "k")
    ManifestTable.commitWithStats(
      (81L to 120L).toDF("k").coalesce(1), table, append = true, "k")
    val before = ManifestTable.read(spark, table).count()
    assert(before == 121L) // 120 values + 1 null
    // delete [10, 20]: zones prove files 2 and 3 cannot match
    val (v, rewritten, after) =
      ManifestTable.deleteRange(spark, table, "k", 10L, 20L)
    assert(rewritten == 1, s"zones must confine the rewrite: $rewritten")
    assert(after == 3, s"$after")
    val now = ManifestTable.read(spark, table)
    assert(now.count() == 110L, "11 deleted, NULL row kept")
    assert(now.filter($"k".isNull).count() == 1L,
      "a range DELETE never touches NULL rows (predicate UNKNOWN)")
    assert(now.filter($"k".between(10L, 20L)).count() == 0L)
    // time travel: the pre-delete snapshot still reads in full
    assert(ManifestTable.read(spark, table, Some(3L)).count() == 121L)
    // prunability survives: the rewrite re-recorded zone stats
    val (_, t1, s1) = ManifestTable.readPruned(spark, table, "k", 25L, 30L)
    assert((t1, s1) == ((3, 1)),
      s"post-DML pruned read must still skip: scanned $s1 of $t1")
    // metadata count stays exact
    assert(ManifestTable.countRows(table).contains(110L))
    // no-op delete: nothing intersects, nothing published
    val (v2, r2, _) = ManifestTable.deleteRange(spark, table, "k",
      5000L, 6000L)
    assert(v2 == v && r2 == 0, "a miss must not publish a version")
    // delete-all keeps the snapshot readable with the schema intact
    val (_, _, a3) = ManifestTable.deleteRange(spark, table, "k",
      Long.MinValue, Long.MaxValue)
    val emptied = ManifestTable.read(spark, table)
    assert(emptied.filter($"k".isNotNull).count() == 0L)
    assert(emptied.schema.fieldNames.toSeq == Seq("k"))
    assert(a3 >= 1)
  }

  test("ManifestTable.mergeByKey: updates replace matched rows in " +
      "zone-confined rewrites, far inserts don't widen the rewrite, " +
      "duplicate base keys converge, and duplicate update keys fail " +
      "loudly") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-merge-spec").toString
    // three key-sliced files; file 1 holds key 7 TWICE (dup base)
    val f1 = (Seq((7L, 70L)) ++ (1L to 40L).map(i => (i, i * 10)))
      .toDF("k", "p")
    ManifestTable.commitWithStats(f1.coalesce(1), table,
      append = true, "k")
    ManifestTable.commitWithStats(
      (41L to 80L).map(i => (i, i * 10)).toDF("k", "p").coalesce(1),
      table, append = true, "k")
    ManifestTable.commitWithStats(
      (81L to 120L).map(i => (i, i * 10)).toDF("k", "p").coalesce(1),
      table, append = true, "k")
    // batch: update keys 5..9 (file 1 only) + insert key 9999 (far
    // beyond every zone — must NOT touch files 2/3)
    val updates = (Seq((9999L, 1L)) ++ (5L to 9L).map(i => (i, -i)))
      .toDF("k", "p")
    val (v, rewritten, after) =
      ManifestTable.mergeByKey(spark, table, updates, "k")
    assert(rewritten == 1,
      s"zones must confine the rewrite to file 1: $rewritten")
    assert(after == 4, s"3 - 1 + rewritten + insert file: $after")
    val now = ManifestTable.read(spark, table)
    // dup base key 7 converged to ONE update row
    assert(now.filter($"k" === 7L).as[(Long, Long)].collect().toSeq ==
      Seq((7L, -7L)))
    assert(now.filter($"k" === 9999L).count() == 1L)
    assert(now.count() == 121L, // 121 base (41+40+40) -1 dup +1 ins
      s"got ${now.count()}")
    assert(now.filter($"k".between(5L, 9L)).agg(sum($"p"))
      .as[Long].head() == -(5L + 6 + 7 + 8 + 9))
    // untouched rows intact
    assert(now.filter($"k" === 100L).as[(Long, Long)].collect()
      .toSeq == Seq((100L, 1000L)))
    // metadata stays live through the DML
    assert(ManifestTable.countRows(table).contains(121L))
    val (_, t1, s1) = ManifestTable.readPruned(spark, table, "k",
      50L, 60L)
    assert(s1 == 1, s"post-merge pruning must still skip: $s1 of $t1")
    // time travel: pre-merge snapshot unchanged
    assert(ManifestTable.read(spark, table, Some(3L)).count() == 121L)
    // duplicate update keys are a loud contract violation
    intercept[IllegalArgumentException] {
      ManifestTable.mergeByKey(spark, table,
        Seq((1L, 0L), (1L, 1L)).toDF("k", "p"), "k")
    }
    // schema drift is loud
    intercept[IllegalArgumentException] {
      ManifestTable.mergeByKey(spark, table,
        Seq((1L, 0L, "x")).toDF("k", "p", "extra"), "k")
    }
    assert(v > 3L)
  }

  test("ManifestTable deletion vectors: small DELETE/MERGE commit " +
      "ZERO rewritten files, reads mask exactly, counts stay exact, " +
      "bounds go exact-or-None, and OPTIMIZE purges the debt") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-dv-spec").toString
    for (r <- Seq(1L to 40L, 41L to 80L, 81L to 120L))
      ManifestTable.commitWithStats(
        r.map(i => (i, i * 10)).toDF("k", "p").coalesce(1), table,
        append = true, "k")
    // merge-on-read DELETE of 3 rows living in file 2
    val (v1, rw1, dv1, after1) = ManifestTable.deleteRangeDv(
      spark, table, "k", 50L, 52L, dvMaxFraction = 0.2)
    assert(rw1 == 0 && dv1 == 1 && after1 == 3,
      s"($v1, $rw1, $dv1, $after1)")
    val now = ManifestTable.read(spark, table)
    assert(now.count() == 117L)
    assert(now.filter($"k".between(50L, 52L)).count() == 0L)
    // metadata count subtracts the DV exactly; bounds refuse (a DV'd
    // file's recorded extremes may be dead rows)
    assert(ManifestTable.countRows(table).contains(117L))
    assert(ManifestTable.statsBounds(table, "k").isEmpty)
    // pruned reads still skip on zones AND mask the DV
    val (pf, t1, s1) = ManifestTable.readPruned(spark, table, "k",
      41L, 60L)
    assert((t1, s1) == ((3, 1)), s"($t1, $s1)")
    assert(pf.count() == 17L, "20 in range - 3 DV'd")
    // a second DV on the same file unions positions
    val (_, rw2, dv2, _) = ManifestTable.deleteRangeDv(
      spark, table, "k", 53L, 54L, dvMaxFraction = 0.2)
    assert(rw2 == 0 && dv2 == 1)
    assert(ManifestTable.read(spark, table).count() == 115L)
    assert(ManifestTable.countRows(table).contains(115L))
    // time travel: the pre-DV snapshot reads in full
    assert(ManifestTable.read(spark, table, Some(3L)).count() == 120L)
    // over-threshold falls back to copy-on-write
    val (_, rw3, dv3, _) = ManifestTable.deleteRangeDv(
      spark, table, "k", 81L, 119L, dvMaxFraction = 0.2)
    assert(rw3 == 1 && dv3 == 0, s"($rw3, $dv3)")
    assert(ManifestTable.read(spark, table).count() == 76L)
    // merge-on-read MERGE: one key per file + one far insert →
    // zero rewrites, two DVs, one insert file
    val updates = Seq((10L, -1L), (70L, -2L), (9999L, -3L))
      .toDF("k", "p")
    val (_, rw4, dv4, after4) = ManifestTable.mergeByKeyDv(
      spark, table, updates, "k", dvMaxFraction = 0.2)
    assert(rw4 == 0 && dv4 == 2 && after4 == 4,
      s"($rw4, $dv4, $after4)")
    val merged = ManifestTable.read(spark, table)
    assert(merged.filter($"k" === 10L).as[(Long, Long)].collect()
      .toSeq == Seq((10L, -1L)))
    assert(merged.filter($"k" === 70L).as[(Long, Long)].collect()
      .toSeq == Seq((70L, -2L)))
    assert(merged.filter($"k" === 9999L).count() == 1L)
    assert(merged.count() == 77L)
    assert(ManifestTable.countRows(table).contains(77L))
    // OPTIMIZE pays the debt down: values unchanged, #dv lines gone,
    // counts stay exact, bounds turn exact again (recomputed from
    // the rewritten files, not stale input arithmetic)
    val sumBefore = merged.agg(sum($"p")).as[Long].head()
    ManifestTable.compact(spark, table, Long.MaxValue / 2)
    val opt = ManifestTable.read(spark, table)
    assert(opt.count() == 77L)
    assert(opt.agg(sum($"p")).as[Long].head() == sumBefore)
    assert(ManifestTable.countRows(table).contains(77L))
    assert(ManifestTable.statsBounds(table, "k")
      .contains((1L, 9999L)))
    val lastV = ManifestTable.versions(table).last
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, "_manifests", s"v$lastV"))
    assert(!scala.jdk.CollectionConverters.ListHasAsScala(lines)
        .asScala.exists(_.startsWith("#dv=")),
      "OPTIMIZE must purge deletion vectors")
  }

  test("ManifestTable.compactClustered: the rewrite TIGHTENS zones " +
      "— a box predicate scanning every order-preserving-compacted " +
      "file opens strictly fewer clustered files; values, metadata " +
      "counts and DV purge stay intact") {
    import graft.sources.ManifestTable
    // four arrival-order commits, each spanning BOTH dimensions'
    // full ranges (the ingest layout zone maps cannot prune)
    def build(): String = {
      val table = java.nio.file.Files
        .createTempDirectory("graft-cc-spec").toString
      val rows = (0L until 4096L)
        .map(k => (k, k % 64, (k / 64) % 64)).toDF("k", "x", "y")
      for (s <- 0 until 4)
        ManifestTable.commitWithStats(
          rows.filter($"k" % 4 === s.toLong).coalesce(1), table,
          append = true, Seq("x", "y"), None)
      table
    }
    def bytesOf(table: String): Long = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(table, "data"))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(
          st.iterator()).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
    val plain = build()
    val clustered = build()
    // drop two rows via a DV first: the clustered rewrite must purge
    ManifestTable.deleteRangeDv(spark, clustered, "x", 7L, 7L,
      dvMaxFraction = 0.05)
    // order-preserving compaction of already-packed files is a no-op
    // carry: the 4 full-range arrival files stay — the layout zone
    // maps can't prune no matter how OPTIMIZE repacks them
    val (vp, bp, ap) = ManifestTable.compact(spark, plain, 1L)
    assert(bp == 4 && ap == 4, s"($vp, $bp, $ap)")
    val (_, before, after) = ManifestTable.compactClustered(
      spark, clustered, bytesOf(clustered) / 4 + 1, Seq("x", "y"),
      bits = 6)
    assert(before == 4 && after == 4, s"($before, $after)")
    // the box that proves it: a quadrant is ONE contiguous quarter of
    // the curve, so it lands in one file plus at most one
    // sampled-range-boundary neighbor — strictly fewer than the
    // plain layout's all-4 scan (never exactly-1 asserted: range
    // boundaries come from sampling, edge rows may drift one file)
    val (_, tp, sp) = ManifestTable.readPruned(spark, plain,
      Seq(("x", 0L, 31L), ("y", 0L, 31L)), None)
    assert((tp, sp) == ((4, 4)), s"plain: $sp of $tp")
    val (cf, tc, sc) = ManifestTable.readPruned(spark, clustered,
      Seq(("x", 0L, 31L), ("y", 0L, 31L)), None)
    assert(tc == 4 && sc <= 2 && sc < sp, s"clustered: $sc of $tc")
    // value-exact: the quadrant has 16 x-cells * 32 y-cells * 2
    // k-copies... recompute directly
    val want = (0L until 4096L)
      .map(k => (k, k % 64, (k / 64) % 64))
      .filter(r => r._2 <= 31 && r._3 <= 31 && r._2 != 7L)
    assert(cf.count() == want.size.toLong)
    assert(cf.agg(sum($"k")).as[Long].head() == want.map(_._1).sum)
    // DVs purged, metadata exact again
    val lastV = ManifestTable.versions(clustered).last
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(clustered, "_manifests", s"v$lastV"))
    assert(!scala.jdk.CollectionConverters.ListHasAsScala(lines)
      .asScala.exists(_.startsWith("#dv=")))
    assert(ManifestTable.countRows(clustered).contains(4096L - 64L))
    assert(ManifestTable.statsBounds(clustered, "x")
      .contains((0L, 63L)))
  }

  test("ManifestTable.compactClustered: output LAYOUT is deterministic " +
      "— two identical tables clustered with the same parameters in " +
      "one session place every row in the same output file (the " +
      "sampling-based RangePartitioner flake this locks out)") {
    import graft.sources.ManifestTable
    def build(): String = {
      val table = java.nio.file.Files
        .createTempDirectory("graft-ccdet-spec").toString
      val rows = (0L until 4096L)
        .map(k => (k, k % 64, (k / 64) % 64)).toDF("k", "x", "y")
      for (s <- 0 until 4)
        ManifestTable.commitWithStats(
          rows.filter($"k" % 4 === s.toLong).coalesce(1), table,
          append = true, Seq("x", "y"), None)
      table
    }
    // per-file signature of the FINAL snapshot in manifest order:
    // (row count, order-free xxhash sum) — file names carry nonces,
    // so layout equality is per-position content equality
    def layout(table: String): Seq[(Long, BigDecimal)] = {
      val v = ManifestTable.versions(table).last
      import graft.sources.{ManifestTable => MT}
      val root = java.nio.file.Paths.get(table)
      val lines = java.nio.file.Files
        .readAllLines(root.resolve("_manifests").resolve(s"v$v"))
      val files = scala.jdk.CollectionConverters
        .ListHasAsScala(lines).asScala
        .filterNot(_.startsWith("#")).toSeq
      files.map { f =>
        val r = spark.read.parquet(root.resolve(f).toString)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.xxhash64($"k", $"x", $"y")
                .cast("decimal(38,0)"))).head()
        (r.getLong(0), BigDecimal(r.getDecimal(1)))
      }
    }
    def bytesOf(table: String): Long = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(table, "data"))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(
          st.iterator()).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
    val a = build()
    val b = build()
    ManifestTable.compactClustered(spark, a, bytesOf(a) / 4 + 1,
      Seq("x", "y"), bits = 6)
    ManifestTable.compactClustered(spark, b, bytesOf(b) / 4 + 1,
      Seq("x", "y"), bits = 6)
    val (la, lb) = (layout(a), layout(b))
    assert(la == lb,
      s"clustered OPTIMIZE layout differed between identical runs:\n" +
        s"  a=$la\n  b=$lb")
    assert(la.map(_._1).sum == 4096L)
  }

  test("graft-manifest DSv2: zone pruning shrinks InputPartitions, " +
      "COUNT(*) answers from metadata, version option time-travels, " +
      "DVs mask, and schema evolution reads late columns as NULL") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-dsv2-spec").toString
    for (r <- Seq(1L to 40L, 41L to 80L, 81L to 120L))
      ManifestTable.commitWithStats(
        r.map(i => (i, s"v$i")).toDF("k", "s").coalesce(1), table,
        append = true, "k")
    ManifestTable.deleteRangeDv(spark, table, "k", 50L, 52L,
      dvMaxFraction = 0.2)
    val df = spark.read.format("graft-manifest")
      .option("path", table).load()
    assert(df.schema.fieldNames.toSeq == Seq("k", "s"))
    // metadata-only COUNT(*): exact under the DV, and the plan says
    // so (the scan IS the literal answer, zero data partitions)
    assert(df.count() == 117L)
    val countPlan = df.groupBy().count()
      .queryExecution.executedPlan.toString
    assert(countPlan.contains("metadata agg agg_0=117"), countPlan)
    // zone pruning reaches the planner: fewer InputPartitions
    val filtered = df.filter($"k" >= 81L && $"k" <= 100L)
    assert(filtered.rdd.getNumPartitions == 1,
      s"expected 1 surviving file, got " +
        s"${filtered.rdd.getNumPartitions}")
    assert(ManifestScanFiles(df).size == 3)
    assert(unpacked(spark.read.format("graft-manifest")
      .option("path", table).load().rdd.getNumPartitions) == 3)
    assert(filtered.agg(sum($"k")).as[Long].head() ==
      (81L to 100L).sum)
    // residual row filter still applies inside a surviving file
    assert(df.filter($"k" === 45L).select("s").as[String].collect()
      .toSeq == Seq("v45"))
    // the DV masks through the DSv2 reader
    assert(df.filter($"k".between(41L, 60L)).count() == 17L)
    // time travel via option
    val v3 = spark.read.format("graft-manifest")
      .option("path", table).option("version", "3").load()
    assert(v3.count() == 120L)
    // schema evolution: a late column reads as NULL for old files,
    // and the un-counted commit demotes COUNT(*) to a real scan
    // that still agrees
    ManifestTable.commit(
      Seq((200L, "v200", 9L)).toDF("k", "s", "extra"), table,
      append = true)
    val evolved = spark.read.format("graft-manifest")
      .option("path", table).load()
    assert(evolved.schema.fieldNames.toSeq == Seq("k", "s", "extra"))
    assert(evolved.count() == 118L)
    assert(evolved.filter($"k" === 45L).select("extra").head()
      .isNullAt(0))
    assert(evolved.filter($"k" === 200L).select("extra")
      .as[Long].head() == 9L)
  }

  test("ManifestTable.history: one metadata-only row per version " +
      "with exact live counts, DV positions, and tags") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-history-spec").toString
    ManifestTable.commitWithStats((1L to 40L).toDF("k").coalesce(1),
      table, append = false, "k")
    ManifestTable.commitWithStats(
      (41L to 60L).toDF("k").coalesce(1), table, append = true,
      Seq("k"), tag = Some("batch-7"))
    ManifestTable.deleteRangeDv(spark, table, "k", 5L, 7L,
      dvMaxFraction = 0.2)
    val h = ManifestTable.history(spark, table)
      .as[(Long, Long, Long, Long, String)].collect().toSeq.sorted
    assert(h == Seq(
      (1L, 1L, 40L, 0L, ""),
      (2L, 2L, 60L, 0L, "batch-7"),
      (3L, 2L, 57L, 3L, "")), h.toString)
  }

  test("ManifestTable.countRows: metadata-only count is exact for " +
      "stat-committed snapshots, survives compaction, and refuses " +
      "(None) when any file lacks a recorded count") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-count-spec").toString
    ManifestTable.commitWithStats((1L to 50L).toDF("k").coalesce(1),
      table, append = true, "k")
    ManifestTable.commitWithStats((51L to 80L).toDF("k").coalesce(1),
      table, append = true, "k")
    assert(ManifestTable.countRows(table).contains(80L))
    // counts merge through OPTIMIZE (output = sum of inputs)
    ManifestTable.compact(spark, table, Long.MaxValue / 2)
    assert(ManifestTable.countRows(table).contains(80L),
      "compaction must carry summed row counts")
    // a plain commit has no count — the metadata answer must refuse
    // rather than undercount
    ManifestTable.commit((81L to 90L).toDF("k").coalesce(1), table,
      append = true)
    assert(ManifestTable.countRows(table).isEmpty,
      "countRows must be exact-or-None, never approximate")
    // time travel still answers for the fully-counted version
    val vs = ManifestTable.versions(table)
    assert(ManifestTable.countRows(table, Some(vs.dropRight(1).last))
      .contains(80L))
  }

  test("ManifestTable.readChanges: the snapshot diff reads exactly " +
      "the files added after sinceVersion; empty diffs keep the " +
      "schema; bad versions fail loudly") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-changes-spec").toString
    ManifestTable.commit((1L to 10L).toDF("k").coalesce(1), table,
      append = true)
    ManifestTable.commit((11L to 20L).toDF("k").coalesce(1), table,
      append = true)
    ManifestTable.commit((21L to 30L).toDF("k").coalesce(1), table,
      append = true)
    val (d1, n1) = ManifestTable.readChanges(spark, table, 1L)
    assert(n1 == 2)
    assert(d1.as[Long].collect().toSet == (11L to 30L).toSet,
      "append-only diff = exactly the inserted rows")
    val (d2, n2) = ManifestTable.readChanges(spark, table, 2L, Some(3L))
    assert(n2 == 1 && d2.as[Long].collect().toSet == (21L to 30L).toSet)
    val (d0, n0) = ManifestTable.readChanges(spark, table, 3L)
    assert(n0 == 0 && d0.count() == 0L,
      "since == to is an empty diff, not an error")
    assert(d0.schema.fieldNames.toSeq == Seq("k"))
    intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, table, 9L)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, table, 3L, Some(1L))
    }
  }

  test("ManifestTable.compact rewrites ALL groups in one distributed " +
      "job — N groups never become N sequential driver-looped writes") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-compact-onejob-spec").toString
    val df = (1L to 480L).toDF("k")
    // 16 single-file commits pairing into ~8 multi-file groups
    for (q <- 0 to 15)
      ManifestTable.commitWithStats(
        df.filter($"k" > q * 30 && $"k" <= (q + 1) * 30).coalesce(1),
        table, append = true, "k")
    val dataDir = java.nio.file.Paths.get(table, "data")
    val sizes = {
      val st = java.nio.file.Files.walk(dataDir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(
          st.iterator()).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, before, after) =
      try ManifestTable.compact(spark, table, sizes / 8 + 1)
      finally {
        Thread.sleep(1000L) // let queued listener events drain
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(before == 16 && after <= 10, s"$before -> $after")
    // the old implementation looped one read+coalesce+write job per
    // group (>= 8 write jobs alone for ~8 groups, plus a schema-read
    // job each); the single-job rewrite triggers the combined write
    // plus constant footer/schema + AQE-stage housekeeping — a job
    // count independent of, and well below, the group count
    assert(jobs.get() <= 5,
      s"compact of ~8 groups started ${jobs.get()} jobs — looks serial")
    assert(ManifestTable.read(spark, table)
      .as[Long].collect().toSet == (1L to 480L).toSet)
  }

  test("ManifestTable.commitTagged: a replayed tag is a no-op (same " +
      "version, no new data); fresh tags and untagged commits publish") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-manifest-tag").toString
    val b0 = (1L to 10L).toDF("k")
    val v1 = ManifestTable.commitTagged(b0, table, append = true,
      Some("batch-0"))
    // the replay: same tag, DIFFERENT data — must be ignored wholesale
    // (a retried micro-batch is byte-identical in practice; ignoring
    // the payload is what makes the handshake safe under replay)
    val v1b = ManifestTable.commitTagged((90L to 99L).toDF("k"), table,
      append = true, Some("batch-0"))
    assert(v1 == v1b && ManifestTable.versions(table) == Seq(1L))
    assert(ManifestTable.read(spark, table).as[Long].collect().toSet ==
      (1L to 10L).toSet)
    val v2 = ManifestTable.commitTagged((11L to 15L).toDF("k"), table,
      append = true, Some("batch-1"))
    assert(v2 == 2L)
    assert(ManifestTable.read(spark, table).count() == 15L)
    // untagged commits never dedupe
    assert(ManifestTable.commit(b0, table, append = true) == 3L)
    assert(ManifestTable.read(spark, table).count() == 25L)
  }

  test("ManifestTable: snapshots are atomic and listing-proof — stray " +
      "and unpublished files never surface, old versions stay readable") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-manifest-spec").toString
    val df = (1L to 100L).toDF("k")
    val v1 = ManifestTable.commit(df.filter($"k" <= 40), table,
      append = false)
    val v2 = ManifestTable.commit(df.filter($"k" > 40), table,
      append = true)
    assert(v1 == 1L && v2 == 2L && ManifestTable.versions(table) ==
      Seq(1L, 2L))
    // a stray file dropped into the data dir (a half-written commit,
    // a retry's orphan) is invisible: readers scan the manifest's
    // list, never the directory
    df.filter($"k" === 999L || $"k" <= 5)
      .write.parquet(s"$table/data/c999")
    // an UNPUBLISHED write (data files exist, no manifest rename —
    // the abort path) is equally invisible
    df.limit(7).write.parquet(s"$table/data/c3")
    assert(ManifestTable.read(spark, table).count() == 100L,
      "latest snapshot must see exactly its manifest's files")
    assert(ManifestTable.read(spark, table, Some(1L))
      .as[Long].collect().toSet == (1L to 40L).toSet,
      "time travel must reproduce v1 exactly")
    assert(ManifestTable.versions(table) == Seq(1L, 2L),
      "unpublished data must not mint a version")
    // append carried v1's files by reference: v2 lists them, so the
    // overwrite-then-append history reads as one table
    assert(ManifestTable.read(spark, table, Some(2L))
      .as[Long].collect().toSet == (1L to 100L).toSet)
  }

  test("delta-commit conflict rules: a rival DV landing on a touched " +
      "file aborts (two serializations never conflate), a rival " +
      "rewrite removing it aborts, and rival appends ride along") {
    import graft.sources.{ManifestDeltaOperation, ManifestTable, ManifestV2Options}
    import org.apache.spark.sql.connector.write.RowLevelOperation
    def mk(): String = {
      val dir = Files.createTempDirectory("graft-delta-race").toString
      ManifestTable.commitWithStats(
        (1L to 100L).map(k => (k, k * 2)).toDF("k", "p").coalesce(1),
        dir, append = true, "k")
      dir
    }
    // (a) rival DV: pin a delta op's scan, let a rival deleteRangeDv
    // land on the same file, then publish the delta → must abort
    val dirA = mk()
    val opA = new ManifestDeltaOperation(
      RowLevelOperation.Command.MERGE, ManifestV2Options(dirA, None))
    val scanA = opA.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    scanA.asInstanceOf[graft.sources.ManifestRowScan]
      .planInputPartitions() // pin
    val relA = ManifestTable.snapshotFor(dirA, None).files.head
    ManifestTable.deleteRangeDv(spark, dirA, "k", 1L, 2L,
      dvMaxFraction = 1.0) // the rival
    val exA = intercept[IllegalArgumentException] {
      ManifestTable.applyDeltaCommit(spark, dirA,
        deletes = Map(relA -> Seq(5L)), staged = Seq.empty,
        stats = Map.empty, sstats = Map.empty, rows = Map.empty,
        pvals = Map.empty,
        expectDvs = Map.empty, // the PINNED (pre-rival) view
        dvMaxFraction = 0.5)
    }
    assert(exA.getMessage.contains("concurrent DV"), exA.getMessage)
    // (b) rival rewrite removed the touched file → abort
    val dirB = mk()
    val relB = ManifestTable.snapshotFor(dirB, None).files.head
    ManifestTable.compact(spark, dirB, targetBytes = 1L) // no-op (1 file)
    ManifestTable.deleteRange(spark, dirB, "k", 1L, 100L) // rewrites all
    val exB = intercept[IllegalArgumentException] {
      ManifestTable.applyDeltaCommit(spark, dirB,
        deletes = Map(relB -> Seq(5L)), staged = Seq.empty,
        stats = Map.empty, sstats = Map.empty, rows = Map.empty,
        pvals = Map.empty, expectDvs = Map.empty,
        dvMaxFraction = 0.5)
    }
    assert(exB.getMessage.contains("not live"), exB.getMessage)
    // (c) rival APPEND rides along: the delta publishes against the
    // new latest, both the appended file and the DV land
    val dirC = mk()
    val relC = ManifestTable.snapshotFor(dirC, None).files.head
    ManifestTable.commit(
      (200L to 210L).map(k => (k, k)).toDF("k", "p").coalesce(1),
      dirC, append = true) // the rival append
    val (v, dvFiles, rewrites) = ManifestTable.applyDeltaCommit(
      spark, dirC, deletes = Map(relC -> Seq(0L, 1L)),
      staged = Seq.empty, stats = Map.empty, sstats = Map.empty,
      rows = Map.empty, pvals = Map.empty, expectDvs = Map.empty,
      dvMaxFraction = 0.5)
    assert(v == 3L && dvFiles == 1 && rewrites == 0)
    val snap = ManifestTable.snapshotFor(dirC, None)
    assert(snap.files.size == 2, "rival append carried")
    assert(snap.dvs(relC) == Seq(0L, 1L))
    assert(ManifestTable.read(spark, dirC).count() == 98L + 11L)
  }

  test("ManifestTable multi-writer law: racing committers each win " +
      "exactly one version, losers retry onto the next, append " +
      "carry-forward stays correct under contention") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-manifest-race").toString
    val writers = 6
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val threads = (1 to writers).map { w =>
      val th = new Thread(() => {
        start.await()
        // each writer appends its own disjoint payload; the publish
        // loop inside commitTagged is the loser's retry — it must
        // re-derive the carried file list against the new latest
        // snapshot WITHOUT rewriting the staged data
        val v = ManifestTable.commit(
          Seq(w.toLong * 1000L).toDF("k"), table, append = true)
        results.put(w, v); ()
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(results.size == writers, "every racing committer must land")
    val versions = (1 to writers).map(results.get(_))
    // exactly one winner per version: the put-if-absent publish makes
    // the version sequence dense with no clobbers
    assert(versions.sorted == (1L to writers.toLong),
      s"versions must be a permutation of 1..$writers: $versions")
    assert(ManifestTable.versions(table) == (1L to writers.toLong))
    // append semantics under contention: every snapshot contains the
    // payload of every commit published at-or-before it (carry lists
    // were recomputed against the latest snapshot per publish attempt)
    val byVersion = scala.jdk.CollectionConverters
      .MapHasAsScala(results).asScala.map { case (w, v) => v -> w }.toMap
    (1L to writers.toLong).foreach { v =>
      val want = (1L to v).map(u => byVersion(u).toLong * 1000L).toSet
      val got = ManifestTable.read(spark, table, Some(v))
        .as[Long].collect().toSet
      assert(got == want, s"snapshot v$v: got $got want $want")
    }
  }

  test("ManifestTable.statsBounds: metadata min/max folds zone lines " +
      "exactly, known-empty files contribute nothing, unknown files " +
      "refuse the answer, and pruned reads skip #nrows=0 files") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-bounds-spec").toString
    ManifestTable.commitWithStats((10L to 50L).toDF("k").coalesce(1),
      table, append = true, "k")
    ManifestTable.commitWithStats((51L to 80L).toDF("k").coalesce(1),
      table, append = true, "k")
    // an EMPTY commit: 0-row file, no stats line, #nrows=0
    ManifestTable.commitWithStats(
      (1L to 5L).toDF("k").filter(col("k") < 0).coalesce(1),
      table, append = true, "k")
    assert(ManifestTable.statsBounds(table, "k").contains((10L, 80L)),
      "empty file must not block or distort the metadata bounds")
    // a foreign column has no lines anywhere -> None
    assert(ManifestTable.statsBounds(table, "zzz").isEmpty)
    // the known-empty file skips EXACTLY in a pruned read (without
    // the #nrows=0 rule its stats-less file would always scan)
    val (_, nf, ns) = ManifestTable.readPruned(spark, table, "k",
      0L, 20L)
    assert(nf == 3 && ns == 1,
      s"low-range read must open only the low slice: ($nf, $ns)")
    // a plain commit (no stats, unknown rows) refuses the answer
    ManifestTable.commit((81L to 90L).toDF("k").coalesce(1), table,
      append = true)
    assert(ManifestTable.statsBounds(table, "k").isEmpty,
      "statsBounds must be exact-or-None")
    // time travel still answers for the fully-stat'd version
    val vs = ManifestTable.versions(table)
    assert(ManifestTable
      .statsBounds(table, "k", Some(vs.dropRight(1).last))
      .contains((10L, 80L)))
  }

  test("ManifestTable.streamMerge: a replayed stream converges to " +
      "the same latest-row-per-key table (value idempotence, no " +
      "tags), with in-batch latest picks and insert+replace legs") {
    import graft.sources.ManifestTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-stream-merge").toString
    val table = s"$work/table"
    ManifestTable.commitWithStats(
      Seq((1L, "base", 0L), (2L, "base", 0L), (3L, "base", 0L))
        .toDF("k", "v", "ver"),
      table, append = false, "k")
    // updates: k=2 twice in one batch (ver 2 wins), k=9 is new
    val srcDir = java.nio.file.Paths.get(work, "src")
    Seq((2L, "old", 1L), (2L, "new", 2L), (9L, "ins", 1L))
      .toDF("k", "v", "ver")
      .coalesce(1).write.parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    for (run <- 1 to 2) {
      ManifestTable.streamMerge(
        spark.readStream.schema(schema).parquet(srcDir.toString),
        table, s"$work/ckpt$run", "k", "ver")
    }
    val got = ManifestTable.read(spark, table)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, "base", 0L), (2L, "new", 2L),
      (3L, "base", 0L), (9L, "ins", 1L)), got.toString)
    // merge-on-read streaming: the same CDC stream with a DV budget
    // marks matched rows dead instead of rewriting their file —
    // replay still converges to the same values (a DV'd position and
    // a rewritten row read back identically)
    val table2 = s"$work/table2"
    ManifestTable.commitWithStats(
      Seq((1L, "base", 0L), (2L, "base", 0L), (3L, "base", 0L))
        .toDF("k", "v", "ver"), table2, append = false, "k")
    for (run <- 1 to 2) {
      ManifestTable.streamMerge(
        spark.readStream.schema(schema).parquet(srcDir.toString),
        table2, s"$work/ckpt-dv$run", "k", "ver",
        dvMaxFraction = 0.5)
    }
    val got2 = ManifestTable.read(spark, table2)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(got2 == got, got2.toString)
    val v2 = ManifestTable.versions(table2).last
    val lines2 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table2, "_manifests", s"v$v2"))
    assert(scala.jdk.CollectionConverters.ListHasAsScala(lines2)
      .asScala.exists(_.startsWith("#dv=")),
      "the DV-budget stream merge must take the merge-on-read path")
  }

  test("ManifestTable.streamMerge / streamCommit: a second same-shape " +
      "query on one session compiles no generated class") {
    import graft.sources.ManifestTable
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val work = java.nio.file.Files
      .createTempDirectory("graft-stream-compiles").toString
    val srcDir = java.nio.file.Paths.get(work, "src").toString
    Seq((2L, "old", 1L), (2L, "new", 2L), (9L, "ins", 1L),
        (40L, "upd", 1L))
      .toDF("k", "v", "ver").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def stream() = spark.readStream.schema(schema).parquet(srcDir)
    // two identical seeded tables; the first query warms the session
    val tables = Seq("a", "b").map { n =>
      val t = s"$work/merge-$n"
      ManifestTable.commitWithStats(
        (1L to 60L).map(k => (k, "base", 0L)).toDF("k", "v", "ver")
          .repartitionByRange(3, $"k"), t, append = false, "k")
      t
    }
    val added = tables.map { t =>
      val c0 = compiles()
      ManifestTable.streamMerge(stream(), t, s"$t-ckpt", "k", "ver",
        dvMaxFraction = 0.5)
      compiles() - c0
    }
    assert(added(1) == 0L,
      s"streamMerge compiles per query: $added (warm-up, second)")
    assert(ManifestTable.read(spark, tables(1)).filter($"k" === 2L)
      .select("v").as[String].collect().toSeq == Seq("new"))
    val commits = Seq("a", "b").map { n =>
      val c0 = compiles()
      ManifestTable.streamCommit(stream(), s"$work/commit-$n",
        s"$work/commit-$n-ckpt")
      compiles() - c0
    }
    assert(commits(1) == 0L,
      s"streamCommit compiles per query: $commits (warm-up, second)")
    assert(ManifestTable.read(spark, s"$work/commit-b").count() == 4L)
  }

  test("ManifestTable: mergeByKeyDv and compact seed the published " +
      "snapshot's schema with its footer union; a batch whose types " +
      "differ from the table's seeds nothing") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-schema-seed").toString
    ManifestTable.commitWithStats(
      (1L to 90L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(3, $"k"), table, append = false, "k")
    def union(v: Long) = spark.read.option("mergeSchema", "true")
      .parquet(ManifestTable.snapshotFor(table, Some(v)).files
        .map(f => java.nio.file.Paths.get(table, f).toString): _*)
      .schema
    def seeded(v: Long): Unit = {
      val s = ManifestTable.cachedSchema(table, v)
      assert(s.contains(union(v)), s"v$v seeded $s, union ${union(v)}")
    }
    // merge-on-read (DVs + one insert file), then copy-on-write
    val (v1, r1, d1, _) = ManifestTable.mergeByKeyDv(spark, table,
      Seq((5L, "a"), (200L, "b")).toDF("k", "v"), "k", dvMaxFraction = 0.5)
    assert((r1, d1) == ((0, 1)), ManifestTable.snapshotFor(table, None))
    seeded(v1)
    val (v2, r2, _, _) = ManifestTable.mergeByKeyDv(spark, table,
      Seq((40L, "c"), (41L, "d")).toDF("k", "v"), "k", dvMaxFraction = 0.0)
    assert(r2 >= 1)
    seeded(v2)
    val (v3, _, _) = ManifestTable.compact(spark, table, Long.MaxValue / 2)
    assert(v3 == v2 + 1)
    seeded(v3)
    // an INT key against the BIGINT table: the insert file is staged
    // with a different type, so the union is not the table's schema
    val (v4, _, _, _) = ManifestTable.mergeByKeyDv(spark, table,
      Seq((300, "e")).toDF("k", "v"), "k", dvMaxFraction = 0.5)
    assert(ManifestTable.cachedSchema(table, v4).isEmpty)
  }

  test("ManifestTable.compact: outputs of groups one task wrote keep " +
      "distinct basenames, so a DV merge after a multi-group OPTIMIZE " +
      "masks rows of its own file only") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-compact-groups").toString
    val n = 4000L
    val model = scala.collection.mutable.Map[Long, String]()
    (0L until n).foreach(k => model(k) = s"base-$k-payload")
    ManifestTable.commitWithStats(model.toSeq.toDF("k", "v")
        .repartitionByRange(8, $"k").sortWithinPartitions("k"),
      table, append = false, "k")
    def merge(keys: Seq[Long], round: Int): Unit = {
      keys.foreach(k => model(k) = s"r$round-$k")
      ManifestTable.mergeByKeyDv(spark, table,
        keys.map(k => (k, model(k))).toDF("k", "v"), "k",
        dvMaxFraction = 0.5)
    }
    merge(Seq(3L, 700L, 1999L, 3500L, n), 1)
    merge(Seq(4L, 1200L, 2600L, n + 1), 2)
    val (_, _, after) = ManifestTable.compact(spark, table, 20000L)
    val names = ManifestTable.snapshotFor(table, None).files
      .map(_.split('/').last)
    assert(after > 1 && names.distinct.size == names.size,
      s"compact staged duplicate basenames: $names")
    // one more merge, with keys in every compacted output
    merge((0L until n by 250L).map(_ + 7L), 3)
    val want = model.toMap
    for (lo <- 0L until n + 2 by 500L) {
      val hi = lo + 499L
      val (df, _, _) = ManifestTable.readPruned(spark, table, "k", lo, hi)
      val got = df.as[(Long, String)].collect().toSeq.sorted
      val exp = want.toSeq.filter { case (k, _) => k >= lo && k <= hi }
        .sorted
      val bad = got.diff(exp) ++ exp.diff(got)
      assert(bad.isEmpty, s"range [$lo, $hi] read ${got.size} rows, " +
        s"the model has ${exp.size}; differing rows ${bad.take(10)}")
    }
  }

  test("graft-manifest DSv2 WRITE: a distributed append commits ONE " +
      "atomic version with streamed zone stats, bootstraps a fresh " +
      "table, round-trips values, and accepts evolving schemas") {
    import graft.sources.ManifestTable
    val table = java.nio.file.Files
      .createTempDirectory("graft-dsv2w-spec").toString
    // first write CREATES the table (no snapshot to infer a schema
    // from — the write-bootstrap path)
    spark.range(1, 41)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
      .repartitionByRange(2, col("k"))
      .write.format("graft-manifest").option("path", table)
      .option("statsColumns", "k").mode("append").save()
    assert(ManifestTable.versions(table) == Seq(1L))
    // 2 partitions staged 2 files; ONE version; per-file zones from
    // the tasks' streamed min/max — a point read opens 1 of 2
    val (_, t1, s1) = ManifestTable.readPruned(spark, table, "k",
      1L, 1L)
    assert((t1, s1) == ((2, 1)), s"($t1, $s1)")
    assert(ManifestTable.countRows(table).contains(40L))
    assert(ManifestTable.statsBounds(table, "k").contains((1L, 40L)))
    // second job appends atomically
    spark.range(41, 81)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
      .coalesce(1)
      .write.format("graft-manifest").option("path", table)
      .option("statsColumns", "k").mode("append").save()
    assert(ManifestTable.versions(table) == Seq(1L, 2L))
    val back = ManifestTable.read(spark, table)
    assert(back.count() == 80L)
    assert(back.agg(sum($"k")).as[Long].head() == (1L to 80L).sum)
    assert(back.filter($"k" === 5L).select("s").as[String]
      .collect().toSeq == Seq("v5"))
    // and the DSv2 reader closes the loop
    val df = spark.read.format("graft-manifest")
      .option("path", table).load()
    assert(df.count() == 80L)
    assert(ManifestTable.countRows(table).contains(80L))
    // ACCEPT_ANY_SCHEMA: an evolving append lands; the read side
    // unions by name, old rows NULL
    Seq((100L, "v100", 9L)).toDF("k", "s", "extra")
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()
    val ev = ManifestTable.read(spark, table)
    assert(ev.columns.toSeq == Seq("k", "s", "extra"))
    assert(ev.filter($"k" === 100L).select("extra").as[Long]
      .collect().toSeq == Seq(9L))
    assert(ev.filter($"k" === 5L).select("extra").head().isNullAt(0))
    // row counts come free from the task counters even without
    // statsColumns — the metadata count stays exact through the
    // evolving commit
    assert(ManifestTable.countRows(table).contains(81L))
    assert(ev.count() == 81L)
    // mode("overwrite") = truncate: the new snapshot is ONLY the
    // job's files; old versions still time-travel until vacuum
    spark.range(200, 205)
      .select(col("id").as("k"), lit("ow").as("s"))
      .coalesce(1)
      .write.format("graft-manifest").option("path", table)
      .mode("overwrite").save()
    val ow = ManifestTable.read(spark, table)
    assert(ow.count() == 5L)
    assert(ManifestTable.countRows(table).contains(5L))
    assert(ManifestTable.read(spark, table, Some(2L)).count() == 80L)
  }

  test("typed zone stats: date/timestamp/string columns prune through " +
      "readPrunedTyped; NULL and no-line files always scan; string " +
      "bounds are truncation-conservative") {
    import graft.sources.{ManifestTable, StrStat}
    val table = Files.createTempDirectory("graft-typed-stats").toString
    def day(s: String) = java.time.LocalDate.parse(s)
    // four commits: two date halves x two string halves; one extra
    // file with NULLs in the string column (no #sstats line -> scans)
    def slice(lo: Int, names: Seq[String]) =
      names.zipWithIndex.map { case (n, i) =>
        (lo + i.toLong, java.sql.Date.valueOf(s"2020-0${lo / 100}-0${i + 1}"),
          n, java.sql.Timestamp.valueOf(s"2020-01-01 0${i}:00:00"))
      }.toDF("k", "d", "s", "ts")
    ManifestTable.commitWithStats(
      slice(100, Seq("alpha", "bravo")).coalesce(1), table,
      append = true, Seq("d", "s", "ts", "k"), None)
    ManifestTable.commitWithStats(
      slice(200, Seq("victor", "zulu")).coalesce(1), table,
      append = true, Seq("d", "s", "ts", "k"), None)
    val nulls = Seq((300L, java.sql.Date.valueOf("2020-04-01"),
      null: String, java.sql.Timestamp.valueOf("2020-01-01 09:00:00")))
      .toDF("k", "d", "s", "ts")
    ManifestTable.commitWithStats(nulls.coalesce(1), table,
      append = true, Seq("d", "s", "ts", "k"), None)
    // date-range pruning: only the January file survives
    val (f1, total1, kept1) = ManifestTable.readPrunedTyped(spark,
      table, Seq(("d", day("2020-01-01"), day("2020-01-31"))), None)
    assert(total1 == 3 && kept1 == 1, s"$total1/$kept1")
    assert(f1.select("k").as[Long].collect().toSet == Set(100L, 101L))
    // string equality: file 2 has min=victor so 'alpha' prunes it;
    // the NULL file has NO #sstats line for s -> must scan (then the
    // row filter drops it)
    val (f2, total2, kept2) = ManifestTable.readPrunedTyped(spark,
      table, Seq(("s", "alpha", "alpha")), None)
    assert(total2 == 3 && kept2 == 2, s"$total2/$kept2")
    assert(f2.select("k").as[Long].collect().toSet == Set(100L))
    // timestamp range
    val t0 = java.time.Instant.parse("2020-01-01T01:00:00Z")
    val (f3, _, kept3) = ManifestTable.readPrunedTyped(spark, table,
      Seq(("ts", t0, t0)), None)
    // the two sliced files span [00:00, 01:00]; the NULL-string
    // file's ts zone is [09:00, 09:00] and prunes
    assert(kept3 == 2, s"$kept3")
    assert(f3.select("k").as[Long].collect().toSet ==
      Set(101L, 201L))
    // conjunction: date + string together keep exactly one file
    val (f4, _, kept4) = ManifestTable.readPrunedTyped(spark, table,
      Seq(("d", day("2020-01-01"), day("2020-01-31")),
        ("s", "bravo", "bravo")), None)
    assert(kept4 == 1)
    assert(f4.select("k").as[Long].collect().toSet == Set(101L))
    // truncation-conservative long strings: 70-byte values straddle
    // the 64-byte cap; the pruned read must still return them
    val longA = "a" * 70
    val longZ = "z" * 70
    val t2 = Files.createTempDirectory("graft-typed-trunc").toString
    ManifestTable.commitWithStats(
      Seq((1L, longA), (2L, longZ)).toDF("k", "s").coalesce(1),
      t2, append = true, Seq("s"), None)
    val (g1, _, gk1) = ManifestTable.readPrunedTyped(spark, t2,
      Seq(("s", longZ, longZ)), None)
    assert(gk1 == 1 && g1.count() == 1L,
      "truncated upper bound must still admit the true max")
    // a probe equal to the truncated-and-incremented stored bound:
    // above the true max (no row matches) yet inside the zone
    val probe = "z" * 63 + "{"
    val (g2, _, gk2) = ManifestTable.readPrunedTyped(spark, t2,
      Seq(("s", probe, probe)), None)
    assert(gk2 == 1 && g2.count() == 0L,
      "conservative zones may admit, the row filter stays exact")
    // StrStat unit laws on raw bytes
    assert(StrStat.cmp(StrStat.bytesOf("ab"), StrStat.bytesOf("b")) < 0)
    assert(StrStat.cmp(StrStat.bytesOf("a"), StrStat.bytesOf("ab")) < 0)
    val ff = Array.fill(70)(0xFF.toByte)
    assert(StrStat.truncUpper(ff).isEmpty,
      "un-incrementable max publishes no bound")
    val mixed = Array.fill(70)(0xFF.toByte)
    mixed(10) = 0x41
    val up = StrStat.truncUpper(mixed).get
    assert(up.length == 11 && (up(10) & 0xFF) == 0x42,
      "increment the last non-0xFF byte and drop the tail")
    assert(StrStat.cmp(up, mixed) > 0)
    // multi-byte UTF-8 straddling the cap stays conservative
    val uni = "é" * 40 // 80 bytes
    val loB = StrStat.truncLower(StrStat.bytesOf(uni))
    assert(loB.length == 64 && StrStat.cmp(loB, StrStat.bytesOf(uni)) < 0)
    val hiB = StrStat.truncUpper(StrStat.bytesOf(uni)).get
    assert(StrStat.cmp(hiB, StrStat.bytesOf(uni)) > 0)
  }

  test("commitWithStats append onto a DV'd snapshot carries the " +
      "deletion vectors (appends never resurrect deletes)") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-dv-carry").toString
    ManifestTable.commitWithStats((1L to 100L).toDF("k").coalesce(1),
      table, append = true, "k")
    val (_, rw, dvd, _) = ManifestTable.deleteRangeDv(spark, table,
      "k", 10L, 14L, dvMaxFraction = 0.5)
    assert(rw == 0 && dvd == 1, s"expected a DV-only delete: $rw/$dvd")
    assert(ManifestTable.read(spark, table).count() == 95L)
    ManifestTable.commitWithStats((200L to 209L).toDF("k").coalesce(1),
      table, append = true, "k")
    assert(ManifestTable.read(spark, table).count() == 105L,
      "the appended snapshot must still mask the DV'd positions")
    assert(ManifestTable.countRows(table).contains(105L))
  }

  test("DSv2 write race: six concurrent append jobs each publish one " +
      "version; all files and row counts land; basenames stay unique") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-dsv2-race").toString
    val writers = 6
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { w =>
      val th = new Thread(() => {
        start.await()
        try {
          spark.range(w * 100L, w * 100L + 10L)
            .select(col("id").as("k")).coalesce(1)
            .write.format("graft-manifest").option("path", table)
            .option("statsColumns", "k").mode("append").save()
        } catch { case t: Throwable => errs.add(t); () }
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing DSv2 writers failed: ${errs.peek()}")
    assert(ManifestTable.versions(table) == (1L to writers.toLong))
    val ks = ManifestTable.read(spark, table).as[Long].collect().toSet
    assert(ks == (1 to writers).flatMap(w =>
      w * 100L until w * 100L + 10L).toSet)
    assert(ManifestTable.countRows(table).contains(60L))
    // snapshot-unique basenames: DV masking and compaction key on them
    val files = graft.sources.ManifestTable
      .snapshotFor(table, None).files
    val bases = files.map(_.split('/').last)
    assert(bases.distinct.size == bases.size,
      s"duplicate basenames across jobs: $bases")
  }

  test("DSv2 overwrite with an empty frame truncates (publishes an " +
      "empty snapshot) instead of keeping the old data") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-dsv2-empty").toString
    spark.range(10).select(col("id").as("k"), lit("x").as("s"))
      .coalesce(1)
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()
    assert(ManifestTable.read(spark, table).count() == 10L)
    spark.range(0).select(col("id").as("k"), lit("x").as("s"))
      .write.format("graft-manifest").option("path", table)
      .mode("overwrite").save()
    val after = ManifestTable.read(spark, table)
    assert(after.count() == 0L, "overwrite-with-empty must truncate")
    assert(after.columns.toSeq == Seq("k", "s"),
      "the truncated snapshot keeps the written schema")
    assert(ManifestTable.countRows(table).contains(0L))
    // time travel still reads the pre-truncate snapshot
    assert(ManifestTable.read(spark, table, Some(1L)).count() == 10L)
  }

  test("DSv2 typed pruning: date + string pushed filters plan one " +
      "InputPartition per surviving file through the planner") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-dsv2-typed").toString
    def rows(lo: Long, d: String, ss: Seq[String]) =
      ss.zipWithIndex.map { case (s, i) =>
        (lo + i, java.sql.Date.valueOf(d), s) }
        .toDF("k", "d", "s")
    rows(100, "2021-01-05", Seq("alpha", "bravo")).coalesce(1)
      .write.format("graft-manifest").option("path", table)
      .option("statsColumns", "d,s").mode("append").save()
    rows(200, "2021-06-05", Seq("victor", "zulu")).coalesce(1)
      .write.format("graft-manifest").option("path", table)
      .option("statsColumns", "d,s").mode("append").save()
    val df = spark.read.format("graft-manifest")
      .option("path", table).load()
    assert(df.rdd.getNumPartitions == 2)
    val datePruned = df.filter(col("d") <
      lit(java.sql.Date.valueOf("2021-02-01")))
    assert(datePruned.rdd.getNumPartitions == 1,
      "the June file must be date-zone-pruned")
    assert(datePruned.select("k").as[Long].collect().toSet ==
      Set(100L, 101L))
    val strPruned = df.filter(col("s") === "zulu")
    assert(strPruned.rdd.getNumPartitions == 1,
      "the alpha..bravo file must be string-zone-pruned")
    assert(strPruned.select("k").as[Long].collect().toSet == Set(201L))
    // date values round-trip the custom parquet writer/reader
    assert(df.filter(col("k") === 100L).select("d")
      .as[java.sql.Date].head() ==
      java.sql.Date.valueOf("2021-01-05"))
  }

  test("SQL catalog: CREATE TABLE / INSERT INTO / SELECT / VERSION " +
      "AS OF / DELETE FROM (DV-only) / DROP TABLE through " +
      "GraftCatalog") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-cat-root").toString
    spark.conf.set("spark.sql.catalog.gtest",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    spark.sql(s"CREATE TABLE gtest.$t (k BIGINT, s STRING) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO gtest.$t " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(0, 50)")
    spark.sql(s"INSERT INTO gtest.$t " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(50, 100)")
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t")
      .as[Long].head() == 100L)
    // time travel through SQL
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t VERSION AS OF 1")
      .as[Long].head() == 50L)
    // DELETE plans onto deleteRangeDv: a small ranged purge is a
    // deletion-vector-only commit (zero rewritten data files)
    val dir = s"$root/$t"
    val filesBefore = ManifestTable.snapshotFor(dir, None).files.toSet
    spark.sql(s"DELETE FROM gtest.$t WHERE k BETWEEN 10 AND 19")
    val snap = ManifestTable.snapshotFor(dir, None)
    assert(snap.files.toSet == filesBefore,
      "a DV-only DELETE must rewrite zero data files")
    assert(snap.dvs.values.map(_.size).sum == 10)
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t")
      .as[Long].head() == 90L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gtest.$t WHERE k BETWEEN 5 AND 24")
      .as[Long].head() == 10L)
    // non-range DELETE shapes fall through to the group-based
    // copy-on-write rewrite (SupportsRowLevelOperations) — arbitrary
    // predicates delete correctly instead of declining
    spark.sql(s"DELETE FROM gtest.$t WHERE s = '30'")
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t")
      .as[Long].head() == 89L)
    // INSERT OVERWRITE = truncate + append in one atomic publish
    spark.sql(s"INSERT OVERWRITE gtest.$t " +
      "SELECT id AS k, 'ow' AS s FROM range(0, 7)")
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t")
      .as[Long].head() == 7L)
    // pre-overwrite snapshots still time-travel
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t VERSION AS OF 2")
      .as[Long].head() == 100L)
    // CTAS: catalog createTable + the atomic DSv2 write in one
    // statement; SHOW TABLES lists both
    val t2 = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    spark.sql(s"CREATE TABLE gtest.$t2 USING `graft-manifest` AS " +
      s"SELECT k, s FROM gtest.$t WHERE k < 3")
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.$t2")
      .as[Long].head() == 3L)
    val listed = spark.sql("SHOW TABLES IN gtest")
      .select("tableName").as[String].collect().toSet
    assert(listed.contains(t) && listed.contains(t2), listed.toString)
    spark.sql(s"DROP TABLE gtest.$t2")
    spark.sql(s"DROP TABLE gtest.$t")
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("a table dropped and re-created at the same path reads as the " +
      "new table: DROP, then CREATE with other columns, INSERT and " +
      "SELECT return the new schema and rows, and an idempotence tag " +
      "the dropped table published commits again") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-recreate-root").toString
    spark.conf.set("spark.sql.catalog.grec", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grec.root", root)
    val dir = s"$root/t"
    spark.sql("CREATE TABLE grec.t (k BIGINT, s STRING) " +
      "USING `graft-manifest`")
    spark.sql("INSERT INTO grec.t " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(0, 5)")
    spark.sql("INSERT INTO grec.t SELECT id AS k, 'b' AS s FROM range(5, 8)")
    // every read surface reads (and caches) the first table's v1, v2
    assert(spark.sql("SELECT * FROM grec.t").count() == 8L)
    assert(ManifestTable.read(spark, dir, Some(1L)).count() == 5L)
    assert(ManifestTable.readPruned(spark, dir, "k", 0L, 3L)._1
      .count() == 4L)
    assert(ManifestTable.cachedSchema(dir, 2L).isDefined)
    spark.sql("DROP TABLE grec.t")
    spark.sql("CREATE TABLE grec.t (id INT, name STRING, price DOUBLE) " +
      "USING `graft-manifest`")
    spark.sql("INSERT INTO grec.t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    spark.sql("INSERT INTO grec.t VALUES (3, 'c', 3.5)")
    val want = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5))
    def rows(df: org.apache.spark.sql.DataFrame) = {
      assert(df.columns.toSeq == Seq("id", "name", "price"), df.schema)
      df.as[(Int, String, Double)].collect().sorted.toSeq
    }
    assert(rows(spark.sql("SELECT * FROM grec.t")) == want)
    assert(rows(spark.sql("SELECT * FROM grec.t VERSION AS OF 1")) ==
      want.take(2))
    assert(rows(ManifestTable.read(spark, dir)) == want)
    assert(rows(ManifestTable.read(spark, dir, Some(1L))) == want.take(2))
    assert(rows(ManifestTable.readPrunedTyped(spark, dir,
      Seq(("id", 2, 3)), None)._1) == want.drop(1))
    spark.sql("DROP TABLE grec.t")
    // an idempotence tag the dropped table published (and a retry
    // looked up) does not swallow the re-created table's commit
    val tagged = Files.createTempDirectory("graft-retag").toString
    ManifestTable.commitTagged(spark.range(0L, 3L).toDF("k"), tagged,
      append = true, Some("batch-0"))
    assert(ManifestTable.commitTagged(spark.range(0L, 3L).toDF("k"),
      tagged, append = true, Some("batch-0")) == 1L)
    scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(tagged))) {
      st => st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
    }
    ManifestTable.commit(spark.range(5L, 7L).toDF("k"), tagged,
      append = true)
    assert(ManifestTable.commitTagged(spark.range(7L, 9L).toDF("k"),
      tagged, append = true, Some("batch-0")) == 2L)
    assert(ManifestTable.read(spark, tagged).as[Long].collect().sorted
      .toSeq == Seq(5L, 6L, 7L, 8L))
  }

  test("SQL MERGE INTO / UPDATE: group-based copy-on-write through " +
      "SupportsRowLevelOperations — the runtime group filter confines " +
      "the rewrite to files holding matched rows; ranged DELETE still " +
      "takes the DV metadata path") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-rlo-root").toString
    spark.conf.set("spark.sql.catalog.grlo",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grlo.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    // two zone-disjoint files, 50 rows each
    ManifestTable.commitWithStats(
      spark.range(0, 50).select(col("id").as("k"),
        (col("id") * 10).as("p")).coalesce(1),
      dir, append = true, "k")
    ManifestTable.commitWithStats(
      spark.range(50, 100).select(col("id").as("k"),
        (col("id") * 10).as("p")).coalesce(1),
      dir, append = true, "k")
    val srcV = "v_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // source: updates for keys 60..64 (file 2 only) + inserts 200..202
    spark.range(60, 65).select(col("id").as("k"), lit(-1L).as("p"))
      .unionByName(spark.range(200, 203)
        .select(col("id").as("k"), lit(7L).as("p")))
      .createOrReplaceTempView(srcV)
    val before = ManifestTable.snapshotFor(dir, None).files.toSet
    spark.sql(
      s"""MERGE INTO grlo.$t tgt USING $srcV src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET tgt.p = src.p
         |WHEN NOT MATCHED THEN INSERT (k, p) VALUES (src.k, src.p)
         |""".stripMargin)
    val snap = ManifestTable.snapshotFor(dir, None)
    // group filter: file 1 (keys 0..49) holds no matched key and must
    // be carried BY REFERENCE — its physical file survives unchanged
    val carried = snap.files.toSet intersect before
    assert(carried.size == 1,
      s"exactly the unmatched file must carry: before=$before " +
        s"after=${snap.files}")
    val after = ManifestTable.read(spark, dir)
    assert(after.count() == 103L)
    assert(after.filter(col("k").between(60, 64))
      .agg(sum("p")).head().getLong(0) == -5L,
      "matched rows must take the source payload")
    assert(after.filter(col("k") >= 200).count() == 3L,
      "unmatched source rows must insert")
    assert(after.filter(col("k") === 10L).head().getLong(1) == 100L,
      "carried rows must be untouched")
    // zone stats survive the replacement: a pruned read still skips
    val (_, total, scanned) = ManifestTable.readPruned(spark, dir,
      "k", 0L, 5L)
    assert(scanned < total, s"$scanned/$total")
    // UPDATE through the same seam
    spark.sql(s"UPDATE grlo.$t SET p = 0 WHERE k BETWEEN 0 AND 4")
    val upd = ManifestTable.read(spark, dir)
    assert(upd.filter(col("k") < 5).agg(sum("p")).head().getLong(0) == 0L)
    assert(upd.count() == 103L)
    assert(upd.filter(col("k") === 10L).head().getLong(1) == 100L)
    // ranged DELETE still routes to the metadata/DV path (zero
    // rewritten files) even though the table supports row-level ops
    val preDel = ManifestTable.snapshotFor(dir, None).files.toSet
    spark.sql(s"DELETE FROM grlo.$t WHERE k BETWEEN 70 AND 74")
    val postDel = ManifestTable.snapshotFor(dir, None)
    assert(postDel.files.toSet == preDel,
      "ranged DELETE must stay DV-only under row-level ops")
    assert(postDel.dvs.values.map(_.size).sum == 5)
    assert(ManifestTable.read(spark, dir).count() == 98L)
    // a non-range DELETE now rewrites copy-on-write instead of
    // declining: arbitrary predicates work through the planner
    spark.sql(s"DELETE FROM grlo.$t WHERE k % 2 = 1 AND k < 10")
    assert(ManifestTable.read(spark, dir).count() == 93L)
  }

  test("CDC micro-batch stream: each committed version's added files " +
      "arrive exactly once; checkpoint replays deliver nothing new; " +
      "a fresh-checkpoint rerun reproduces the same rows") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-cdc-src").toString
    ManifestTable.commit((1L to 10L).toDF("k").coalesce(1), table,
      append = true)
    ManifestTable.commit((11L to 25L).toDF("k").coalesce(1), table,
      append = true)
    ManifestTable.commit((26L to 30L).toDF("k").coalesce(1), table,
      append = true)
    def drain(checkpoint: String, sinkName: String): Set[Long] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("graft-manifest")
        .option("path", table).option("startingVersion", "2")
        .load()
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").as[Long].collect().foreach(acc.add); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      scala.jdk.CollectionConverters.CollectionHasAsScala(acc)
        .asScala.toSet
    }
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val got1 = drain(ckpt, "cdc_sink_1")
    assert(got1 == (11L to 30L).toSet,
      s"startingVersion=2 (inclusive) must deliver exactly v2+v3 " +
        s"rows: $got1")
    // same checkpoint: offsets are committed, nothing re-delivers
    val got2 = drain(ckpt, "cdc_sink_2")
    assert(got2.isEmpty, s"checkpoint replay must add nothing: $got2")
    // fresh checkpoint: the immutable manifests re-plan identically
    val ckpt2 = Files.createTempDirectory("graft-cdc-ckpt2").toString
    val got3 = drain(ckpt2, "cdc_sink_3")
    assert(got3 == got1, "fresh-checkpoint rerun must reproduce the rows")
    // a NEW commit while the consumer is down arrives on the next run
    ManifestTable.commit((31L to 33L).toDF("k").coalesce(1), table,
      append = true)
    val got4 = drain(ckpt, "cdc_sink_4")
    assert(got4 == (31L to 33L).toSet, s"incremental top-up: $got4")
    // the stream also composes with the SQL catalog:
    // readStream.table("<catalog>.<table>") serves the same
    // micro-batch source (startingVersion defaults to 0 = everything)
    val root = Files.createTempDirectory("graft-cdc-cat").toString
    spark.conf.set("spark.sql.catalog.gcdc",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdc.root", root)
    val ct = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    ManifestTable.commit((1L to 5L).toDF("k").coalesce(1),
      s"$root/$ct", append = true)
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.table(s"gcdc.$ct")
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdc-cat-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k").as[Long].collect().foreach(acc.add); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(scala.jdk.CollectionConverters.CollectionHasAsScala(acc)
      .asScala.toSet == (1L to 5L).toSet)
  }

  test("string-keyed MERGE: #sstats zones prune candidates (a batch " +
      "inside one file's key range rewrites only that file) and the " +
      "DV path works on string keys") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-str-merge").toString
    def slab(ks: Seq[String], p0: Long) =
      ks.zipWithIndex.map { case (k, i) => (k, p0 + i) }.toDF("k", "p")
    ManifestTable.commitWithStats(
      slab(Seq("aa", "bb", "cc", "dd"), 10).coalesce(1), table,
      append = true, "k")
    ManifestTable.commitWithStats(
      slab(Seq("ww", "xx", "yy", "zz"), 20).coalesce(1), table,
      append = true, "k")
    // update one key in the SECOND file's range + one new key beyond
    // both zones: only file 2 is a candidate
    val up = Seq(("xx", 99L), ("zzz", 7L)).toDF("k", "p")
    val (_, rewritten, after) =
      ManifestTable.mergeByKey(spark, table, up, "k")
    assert(rewritten == 1 && after == 3,
      s"string zones must confine the rewrite: $rewritten/$after")
    val got = ManifestTable.read(spark, table)
      .as[(String, Long)].collect().toMap
    assert(got == Map("aa" -> 10L, "bb" -> 11L, "cc" -> 12L,
      "dd" -> 13L, "ww" -> 20L, "xx" -> 99L, "yy" -> 22L,
      "zz" -> 23L, "zzz" -> 7L), got.toString)
    // DV mode on a string key: one matched row in one file → a
    // deletion-vector line instead of a rewrite
    val up2 = Seq(("bb", 111L)).toDF("k", "p")
    val (_, rw2, dvd2, _) = ManifestTable.mergeByKeyDv(spark, table,
      up2, "k", dvMaxFraction = 0.5)
    assert(rw2 == 0 && dvd2 == 1, s"$rw2/$dvd2")
    assert(ManifestTable.read(spark, table)
      .filter(col("k") === "bb").as[(String, Long)].head() ==
      (("bb", 111L)))
  }

  test("date-ranged DELETE: deleteRangeDv on a DATE column prunes on " +
      "epoch-day zones and matches rows typed; SQL DELETE with date " +
      "literals rides the same seam (the GDPR purge shape)") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-date-del").toString
    spark.conf.set("spark.sql.catalog.gdel",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    def month(m: Int, lo: Long) = (1 to 20).map(i =>
      (lo + i, java.sql.Date.valueOf(f"2022-$m%02d-$i%02d")))
      .toDF("k", "d")
    ManifestTable.commitWithStats(month(1, 100).coalesce(1), dir,
      append = true, "d")
    ManifestTable.commitWithStats(month(6, 200).coalesce(1), dir,
      append = true, "d")
    // Scala API: epoch-day encoded range, DV path; only the January
    // file is a zone candidate
    val d0 = java.time.LocalDate.parse("2022-01-05").toEpochDay
    val d1 = java.time.LocalDate.parse("2022-01-08").toEpochDay
    val (_, rw, dvd, after) = ManifestTable.deleteRangeDv(spark, dir,
      "d", d0, d1, dvMaxFraction = 0.5)
    assert(rw == 0 && dvd == 1 && after == 2, s"$rw/$dvd/$after")
    assert(ManifestTable.read(spark, dir).count() == 36L)
    // SQL: date literals flow through the filter conversion to the
    // same epoch-day range
    spark.sql(s"DELETE FROM gdel.$t WHERE d BETWEEN " +
      "DATE '2022-06-01' AND DATE '2022-06-10'")
    assert(ManifestTable.read(spark, dir).count() == 26L)
    val left = ManifestTable.read(spark, dir)
      .select(min(col("d")).cast("string"),
        max(col("d")).cast("string")).head()
    assert(left.getString(0) == "2022-01-01" &&
      left.getString(1) == "2022-06-20", left.toString)
  }

  test("SQL DELETE superset guard: an And mixing a translatable range " +
      "with an untranslatable conjunct DECLINES deleteWhere (deleting " +
      "on the surviving range alone would purge a superset)") {
    import graft.sources.{ManifestTable, ManifestV2Options, ManifestV2Table}
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThanOrEqual, LessThanOrEqual}
    val dir = Files.createTempDirectory("graft-del-guard").toString
    ManifestTable.commitWithStats(
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "s").coalesce(1),
      dir, append = true, "k")
    val table = new ManifestV2Table(
      graft.sources.ManifestV2.schemaFor(
        ManifestV2Options(dir, None)),
      ManifestV2Options(dir, None))
    // pure range: accepted
    val pure: Array[org.apache.spark.sql.sources.Filter] = Array(
      And(GreaterThanOrEqual("k", 1L), LessThanOrEqual("k", 2L)))
    assert(table.canDeleteWhere(pure))
    // range AND string equality inside ONE And filter: the string
    // conjunct cannot translate — must decline (not silently delete
    // every k in [1,2] regardless of s)
    val mixed: Array[org.apache.spark.sql.sources.Filter] = Array(
      And(And(GreaterThanOrEqual("k", 1L), LessThanOrEqual("k", 2L)),
        EqualTo("s", "a")))
    assert(!table.canDeleteWhere(mixed),
      "mixed And must not pass the total-translation guard")
    intercept[UnsupportedOperationException] {
      table.deleteWhere(mixed)
    }
    // nothing was deleted by the declined call
    assert(ManifestTable.read(spark, dir).count() == 3L)
  }

  test("INT96 interop: a timestamp table committed through the Scala " +
      "API (df.write.parquet stages INT96) reads identically via " +
      "format(\"graft-manifest\") and the SQL catalog") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-i96").toString
    spark.conf.set("spark.sql.catalog.gi96",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gi96.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2023-03-01 10:30:00.123456")),
      (2L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")),
      (3L, java.sql.Timestamp.valueOf("2001-07-04 00:00:00.0")))
      .toDF("k", "ts")
    ManifestTable.commitWithStats(df.coalesce(1), dir,
      append = true, "ts")
    val viaScala = ManifestTable.read(spark, dir)
      .select("k", "ts").as[(Long, java.sql.Timestamp)].collect().toSet
    val viaDsv2 = spark.read.format("graft-manifest")
      .option("path", dir).load()
      .select("k", "ts").as[(Long, java.sql.Timestamp)].collect().toSet
    assert(viaDsv2 == viaScala,
      s"DSv2 INT96 decode must match Spark's own reader: $viaDsv2")
    val viaSql = spark.sql(s"SELECT k, ts FROM gi96.$t")
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(viaSql == viaScala)
    // and the typed zone pruning on the INT96-backed column still
    // answers values correctly through the pushed filter
    val pruned = spark.read.format("graft-manifest")
      .option("path", dir).load()
      .filter(col("ts") >= lit("2001-01-01").cast("timestamp"))
    assert(pruned.count() == 2L)
  }

  test("compactClustered on DATE/TIMESTAMP cluster columns: the " +
      "Hilbert scaling encodes epoch days/micros (same encoding as " +
      "the zone stats) and rows survive; string cluster columns are " +
      "rejected loudly") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-cc-typed").toString
    val df = (1 to 40).map { i =>
      (java.sql.Date.valueOf(f"2022-${(i % 12) + 1}%02d-15"),
        java.sql.Timestamp.valueOf(f"2022-01-01 ${i % 24}%02d:00:00"),
        i.toLong, s"s$i")
    }.toDF("d", "ts", "k", "s")
    ManifestTable.commitWithStats(df.repartition(4), table,
      append = true, Seq("d", "ts", "k"), None)
    val (v, _, _) = ManifestTable.compactClustered(spark, table,
      targetBytes = Long.MaxValue / 2, clusterCols = Seq("d", "ts"))
    assert(v == 2L)
    val back = ManifestTable.read(spark, table)
      .select("k").as[Long].collect().toSet
    assert(back == (1L to 40L).toSet,
      "typed clustered rewrite must preserve every row")
    val err = intercept[IllegalArgumentException] {
      ManifestTable.compactClustered(spark, table,
        targetBytes = Long.MaxValue / 2, clusterCols = Seq("s", "k"))
    }
    assert(err.getMessage.contains("string column"), err.getMessage)
  }

  test("CDC per-version batches: an overwrite between commits no " +
      "longer swallows the replaced version's adds — each version is " +
      "its own micro-batch, in commit order") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-cdc-perv").toString
    ManifestTable.commit((1L to 5L).toDF("k").coalesce(1), table,
      append = true)
    // v2 OVERWRITES: v1's files are gone from v2's listing — a
    // coalesced (0, 2] diff would deliver only v2's files and v1's
    // adds would never be seen by a catching-up consumer
    ManifestTable.commit((6L to 8L).toDF("k").coalesce(1), table,
      append = false)
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val q = spark.readStream.format("graft-manifest")
      .option("path", table).load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdc-perv-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("k").as[Long].collect().toSet
        if (rows.nonEmpty) batches.add(rows)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = scala.jdk.CollectionConverters
      .CollectionHasAsScala(batches).asScala.toSeq
    assert(got == Seq((1L to 5L).toSet, (6L to 8L).toSet),
      s"one batch per version, in order, including the replaced " +
        s"version's adds: $got")
  }

  test("ALTER TABLE ADD COLUMN: additive catalog evolution — " +
      "pre-evolution rows read NULL, later INSERTs populate it, " +
      "VERSION AS OF keeps the old schema, non-additive changes " +
      "stay loud") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-alter").toString
    spark.conf.set("spark.sql.catalog.galt",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.galt.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    spark.sql(s"CREATE TABLE galt.$t (k BIGINT) USING `graft-manifest`")
    spark.sql(s"INSERT INTO galt.$t VALUES (1), (2)")
    spark.sql(s"ALTER TABLE galt.$t ADD COLUMN p BIGINT")
    // the widened schema is visible immediately, NULL-filled
    val afterAlter = spark.sql(s"SELECT k, p FROM galt.$t ORDER BY k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(afterAlter.toSeq == Seq((1L, -1L), (2L, -1L)))
    spark.sql(s"INSERT INTO galt.$t VALUES (3, 30), (4, 40)")
    val rows = spark.sql(s"SELECT k, p FROM galt.$t ORDER BY k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(rows.toSeq ==
      Seq((1L, -1L), (2L, -1L), (3L, 30L), (4L, 40L)))
    // time travel shows the snapshot's own schema, not the widening
    assert(spark.sql(s"SELECT * FROM galt.$t VERSION AS OF 1")
      .columns.toSeq == Seq("k"))
    // non-additive ALTERs stay loud-unsupported
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE galt.$t DROP COLUMN p")
    }
    assert(e.getMessage.contains("only ADD COLUMN"), e.getMessage)
    // and the Scala read surface agrees with the SQL one
    assert(ManifestTable.read(spark, s"$root/$t")
      .count() == 4L)
  }

  test("SQL maintenance procedures: CALL optimize/vacuum/history — " +
      "the SQL face of compact/compactClustered/vacuum/history with " +
      "identical post-state") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-proc").toString
    spark.conf.set("spark.sql.catalog.gproc",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gproc.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    for (m <- 0 to 3) {
      ManifestTable.commitWithStats(
        (1L to 50L).map(i => (i * 4 + m, i)).toDF("k", "v")
          .coalesce(1), dir, append = true, "k")
    }
    // history BEFORE maintenance: 4 versions, metadata-only
    val hist = spark.sql(s"CALL gproc.history(table => '$t')")
    assert(hist.columns.toSeq == Seq("version", "n_files", "n_rows",
      "dv_positions", "tag"))
    assert(hist.count() == 4L)
    assert(hist.filter(col("version") === 4L)
      .head().getLong(2) == 200L)
    // OPTIMIZE via SQL: same seam as the Scala API → same post-state
    val opt = spark.sql(s"CALL gproc.optimize(table => '$t', " +
      s"target_bytes => ${Long.MaxValue / 2})").head()
    assert(opt.getLong(0) == 5L && opt.getInt(1) == 4 &&
      opt.getInt(2) == 1, opt.toString)
    assert(ManifestTable.snapshotFor(dir, None).files.size == 1)
    assert(ManifestTable.read(spark, dir).count() == 200L)
    // clustered OPTIMIZE through the same procedure
    val opt2 = spark.sql(s"CALL gproc.optimize(table => '$t', " +
      s"target_bytes => ${Long.MaxValue / 2}, " +
      "cluster_by => 'k,v', bits => 8)").head()
    assert(opt2.getLong(0) == 6L, opt2.toString)
    // VACUUM via SQL: grace 0 (no racing writer in a test), keep 1
    val vac = spark.sql(s"CALL gproc.vacuum(table => '$t', " +
      "keep_versions => 1, grace_ms => 0)").head()
    assert(vac.getInt(0) == 1, vac.toString) // one live file
    assert(vac.getInt(1) >= 4, vac.toString) // the pre-OPTIMIZE files
    assert(ManifestTable.read(spark, dir).count() == 200L)
    assert(ManifestTable.versions(dir) == Seq(6L))
    // unknown procedure and unknown table stay loud
    assert(intercept[Exception] {
      spark.sql(s"CALL gproc.nope(table => '$t')")
    }.getMessage.nonEmpty)
    assert(intercept[Exception] {
      spark.sql("CALL gproc.history(table => 'no_such_table')")
    }.getMessage.contains("no such table"))
  }

  test("partitioned manifest tables: CREATE TABLE PARTITIONED BY " +
      "splits INSERTs hive-style, records exact #pval lines, prunes " +
      "partition predicates (Eq + IN) BEFORE zone stats, and zone " +
      "stats still prune within partitions") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-part").toString
    spark.conf.set("spark.sql.catalog.gpart",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpart.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    spark.sql(s"CREATE TABLE gpart.$t (k BIGINT, cat STRING, " +
      s"v BIGINT) USING `graft-manifest` PARTITIONED BY (cat) " +
      "TBLPROPERTIES ('x'='y')")
    // partitioning is visible to Spark
    val table = spark.sessionState.catalogManager
      .catalog("gpart")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, t))
    assert(table.partitioning().map(_.toString).toSeq ==
      Seq("identity(cat)"), table.partitioning().mkString(","))
    val src = (1L to 300L).map(i =>
        (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", i * 2))
      .toDF("k", "cat", "v")
    val view = "v_" + java.util.UUID.randomUUID().toString.replace("-", "")
    src.coalesce(1).createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO gpart.$t SELECT k, cat, v FROM $view " +
      "WHERE k <= 150")
    spark.sql(s"INSERT INTO gpart.$t SELECT k, cat, v FROM $view " +
      "WHERE k > 150") // second INSERT inherits the partitioning
    val snap = ManifestTable.snapshotFor(dir, None)
    // 2 inserts × 3 partition values (single write task each)
    assert(snap.files.size == 6, snap.files.toString)
    assert(snap.files.forall(f => f.contains("cat=")),
      s"hive-style layout expected: ${snap.files}")
    assert(snap.pvals.values.forall(_.nonEmpty),
      "every file carries its #pval line")
    val df = spark.sql(s"SELECT * FROM gpart.$t")
    assert(ManifestScanFiles(df).size == 6)
    assert(unpacked(spark.sql(s"SELECT * FROM gpart.$t")
      .rdd.getNumPartitions) == 6)
    // partition Eq prunes to the 2 'a' files
    val eq = spark.sql(s"SELECT * FROM gpart.$t WHERE cat = 'a'")
    assert(eq.rdd.getNumPartitions == 2, eq.rdd.getNumPartitions)
    assert(eq.count() == 100L)
    // IN prunes to 4 files
    val in = spark.sql(
      s"SELECT * FROM gpart.$t WHERE cat IN ('a', 'c')")
    assert(ManifestScanFiles(in).size == 4, ManifestScanFiles(in))
    assert(unpacked(spark.sql(s"SELECT * FROM gpart.$t WHERE cat IN " +
      "('a', 'c')").rdd.getNumPartitions) == 4)
    assert(in.count() == 200L)
    // zone stats prune WITHIN partitions: k is implicitly zoned?
    // no statsColumns on the SQL INSERT path — but partition + a
    // range on the PARTITION column composes; values stay exact
    val mixed = spark.sql(
      s"SELECT sum(v) AS sv FROM gpart.$t WHERE cat = 'b'")
    assert(mixed.head().getLong(0) ==
      (1L to 300L).filter(_ % 3 == 1).map(_ * 2).sum)
  }

  test("partitioned path-based write: option(\"partitionColumns\") " +
      "splits by value (typed long partitions), appends inherit the " +
      "layout, NULL partition values land in their own file and " +
      "prune under any partition predicate, and statsColumns zone " +
      "stats still prune within partitions") {
    import graft.sources.ManifestTable
    val dir = Files.createTempDirectory("graft-part-path").toString
    val df = (1L to 200L).map(i =>
        (i, i % 4, if (i % 50 == 0) null else s"d$i"))
      .toDF("k", "bucket", "payload")
    df.coalesce(1).write.format("graft-manifest")
      .option("path", dir)
      .option("partitionColumns", "bucket")
      .option("statsColumns", "k")
      .mode("append").save()
    val snap = ManifestTable.snapshotFor(dir, None)
    assert(snap.files.size == 4, snap.files.toString)
    // appends INHERIT the partitioning without restating it
    (201L to 240L).map(i => (i, i % 2, s"d$i"))
      .toDF("k", "bucket", "payload")
      .coalesce(1).write.format("graft-manifest")
      .option("path", dir).option("statsColumns", "k")
      .mode("append").save()
    val snap2 = ManifestTable.snapshotFor(dir, None)
    assert(snap2.files.size == 6, snap2.files.toString)
    val all = spark.read.format("graft-manifest")
      .option("path", dir).load()
    assert(all.count() == 240L)
    // partition Eq on the typed long column: bucket=3 exists only in
    // the first commit → exactly 1 file survives
    val one = all.filter(col("bucket") === 3L)
    assert(one.rdd.getNumPartitions == 1, one.rdd.getNumPartitions)
    assert(one.count() == 50L)
    // zone stats compose WITHIN partitions: bucket=0 (2 files) + a
    // k-range only the first commit's file overlaps → 1 file
    val within = all.filter(col("bucket") === 0L && col("k") <= 100L)
    assert(within.rdd.getNumPartitions == 1,
      within.rdd.getNumPartitions)
    assert(within.count() == 25L)
    // NULL partition value: own file, prunes under any predicate
    val nulls = Seq((300L, null.asInstanceOf[java.lang.Long], "x"))
      .toDF("k", "bucket", "payload")
    nulls.coalesce(1).write.format("graft-manifest")
      .option("path", dir).mode("append").save()
    val all2 = spark.read.format("graft-manifest")
      .option("path", dir).load()
    assert(all2.count() == 241L)
    val pruned = all2.filter(col("bucket") === 0L)
    // the NULL-partition file must NOT be scanned
    assert(pruned.rdd.getNumPartitions == 2,
      pruned.rdd.getNumPartitions)
    assert(all2.filter(col("bucket").isNull).count() == 1L)
  }

  test("compressed deletion vectors: 500k scattered deletes on a " +
      "1M-row file stay merge-on-read — the bitset/run `#dv=` " +
      "encoding keeps the manifest metadata-sized, legacy decimal " +
      "lines still parse, and values stay exact") {
    import graft.sources.ManifestTable
    // codec round-trip across the three token shapes + legacy
    val mixed = (0L to 9L) ++ Seq(100L, 103L) ++
      (4096L until 4400L) ++ Seq(999999L)
    val enc = ManifestTable.DvCodec.encode(mixed.distinct.sorted)
    assert(ManifestTable.DvCodec.decode(enc) ==
      mixed.distinct.sorted, "codec round-trip")
    assert(ManifestTable.DvCodec.decode("3,7,9") == Seq(3L, 7L, 9L),
      "legacy decimal lists must parse")
    val root = Files.createTempDirectory("graft-dvbig").toString
    spark.conf.set("spark.sql.catalog.gdvb",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvb.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE gdvb.$t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` " +
      "TBLPROPERTIES ('merge.mode'='merge-on-read')")
    val n = 1000000L
    spark.range(1, n + 1)
      .selectExpr("id AS k", "id * 2 AS v").coalesce(1)
      .createOrReplaceTempView("dv_src_" + t)
    spark.sql(s"INSERT INTO gdvb.$t SELECT * FROM dv_src_$t")
    // every even k dies: 500k positions scattered through ONE file
    spark.sql(s"DELETE FROM gdvb.$t WHERE k % 2 = 0")
    val dir = s"$root/$t"
    val snap = ManifestTable.snapshotFor(dir, None)
    assert(snap.dvs.values.map(_.size).sum == n / 2,
      s"expected ${n / 2} DV positions, " +
        s"got ${snap.dvs.values.map(_.size).sum}")
    assert(snap.files.size == 1,
      s"MoR expected (no rewrite), files = ${snap.files}")
    // the manifest stays metadata-sized: the bitset encoding packs
    // 500k positions ~35× tighter than decimal (≤ 300 KB vs ~3.4 MB)
    val mSize = java.nio.file.Files.size(java.nio.file.Paths.get(
      dir, "_manifests", s"v${snap.version}"))
    assert(mSize < 300L * 1024,
      s"compressed DV manifest should be < 300 KB, got $mSize")
    // values: exactly the odd rows survive, via the COLUMNAR masked
    // read (row-id mapping decodes the new encoding's positions)
    val got = spark.sql(
      s"SELECT count(*) AS c, sum(k) AS sk FROM gdvb.$t").head
    assert(got.getLong(0) == n / 2)
    assert(got.getLong(1) == (1L to n by 2L).sum)
  }

  test("bucket(n,col) partition transform: writes route by the " +
      "canonical hash (one file per bucket), appends inherit the " +
      "spec, point predicates prune to ONE bucket, and two " +
      "same-bucketed catalog tables storage-partition join " +
      "exchange-free") {
    import graft.sources.{ManifestBucket, ManifestTable}
    val root = Files.createTempDirectory("graft-bucket").toString
    spark.conf.set("spark.sql.catalog.gbkt",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbkt.root", root)
    val ta = "fa_" + java.util.UUID.randomUUID().toString.take(8)
    val tb = "fb_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE gbkt.$ta (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` PARTITIONED BY (bucket(8, k))")
    spark.sql(s"CREATE TABLE gbkt.$tb (k BIGINT, w BIGINT) " +
      "USING `graft-manifest` PARTITIONED BY (bucket(8, k))")
    val src = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "v")
    val view = "vb_" + java.util.UUID.randomUUID().toString.take(8)
    src.repartition(16).createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO gbkt.$ta SELECT k, v FROM $view")
    spark.sql(s"INSERT INTO gbkt.$tb SELECT k, v * 3 FROM $view")
    val dirA = s"$root/$ta"
    val snap = ManifestTable.snapshotFor(dirA, None)
    // clustered by the bucket function: one file per bucket id even
    // from a 16-task insert
    assert(snap.files.size == 8,
      s"one file per bucket expected, got ${snap.files.size}")
    assert(snap.pvals.values.flatten.forall(_._2.startsWith("B8:")),
      snap.pvals.values.flatten.toSeq.take(3).toString)
    // append INHERITS the bucket spec without restating it
    (1001L to 1100L).map(i => (i, i * 2)).toDF("k", "v")
      .coalesce(1).write.format("graft-manifest")
      .option("path", dirA).mode("append").save()
    val snap2 = ManifestTable.snapshotFor(dirA, None)
    assert(snap2.files.size > 8 &&
      snap2.pvals.values.flatten.forall(_._2.startsWith("B8:")),
      "append must keep bucketing")
    // point predicate prunes to the ONE bucket hash(17) maps to
    val eq = spark.sql(s"SELECT v FROM gbkt.$ta WHERE k = 17")
    val expectBucket = ManifestBucket.idOfLong(17L, 8)
    val liveBuckets = snap2.pvals.values.flatten
      .count(_._2 == s"B8:$expectBucket")
    assert(eq.rdd.getNumPartitions == liveBuckets,
      s"expected $liveBuckets scanned files, " +
        s"got ${eq.rdd.getNumPartitions}")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(34L))
    // IN prunes to the union of its members' buckets; values exact
    val in = spark.sql(
      s"SELECT sum(v) AS s FROM gbkt.$ta WHERE k IN (17, 400)")
    assert(in.head.getLong(0) == 34L + 800L)
    // ranges never prune buckets (hash order ≠ value order) but
    // values stay exact
    assert(spark.sql(s"SELECT count(*) AS c FROM gbkt.$ta " +
      "WHERE k BETWEEN 1 AND 100").head.getLong(0) == 100L)
    // SPJ: same-bucketed tables join with ZERO exchange
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.sources.v2.bucketing.enabled",
      graft.sources.ManifestScan.PreserveGroupingKey)
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(graft.sources.ManifestScan.PreserveGroupingKey,
        "true")
      val joined = spark.sql(
        s"SELECT a.k, a.v, b.w FROM gbkt.$ta a " +
          s"JOIN gbkt.$tb b ON a.k = b.k")
      val plan = joined.queryExecution.executedPlan.toString
      assert((plan.contains("SortMergeJoin") ||
          plan.contains("ShuffledHashJoin")) &&
          !plan.contains("Exchange"),
        s"bucketed SPJ expected exchange-free join:\n$plan")
      assert(joined.count() == 1000L)
      assert(joined.selectExpr("sum(v + w)").head.getLong(0) ==
        (1L to 1000L).map(i => i * 2 + i * 6).sum)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("partitioned append distribution: a 32-task write clusters " +
      "by partition value — ONE staged file per value, not one per " +
      "(task × value); rows sort by statsColumns within tasks so " +
      "zone lines stay tight") {
    import graft.sources.ManifestTable
    val dir = Files.createTempDirectory("graft-part-dist").toString
    val df = (1L to 4000L).map(i => (i, i % 5, s"p$i"))
      .toDF("k", "bucket", "payload")
      .repartition(32) // every task would see every bucket value
    df.write.format("graft-manifest")
      .option("path", dir)
      .option("partitionColumns", "bucket")
      .option("statsColumns", "k")
      .mode("append").save()
    val snap = ManifestTable.snapshotFor(dir, None)
    assert(snap.files.size == 5,
      s"expected one file per partition value (5), " +
        s"got ${snap.files.size}")
    // the write's exchange is invisible to results
    val back = spark.read.format("graft-manifest")
      .option("path", dir).load()
    assert(back.count() == 4000L)
    assert(back.agg(org.apache.spark.sql.functions.sum("k"))
      .head.getLong(0) == (1L to 4000L).sum)
    // per-file zone lines exist and each covers exactly its
    // partition's k range (the clustered write keeps them per-value
    // tight — 5 disjoint residue classes, bounds match exactly)
    val bounds = snap.files.map { f =>
      val st = snap.stats.getOrElse(f, Seq.empty).find(_._1 == "k")
      assert(st.isDefined, s"no #stats=k line for $f")
      (st.get._2, st.get._3)
    }.sortBy(_._1)
    assert(bounds.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L), bounds)
    assert(bounds.map(_._2).toSet == Set(3996L, 3997L, 3998L, 3999L,
      4000L), bounds)
  }

  test("writeStream.format(\"graft-manifest\"): the DSv2 streaming " +
      "sink commits one tagged version per epoch — exactly-once " +
      "across checkpoint replays, composing CDC source → manifest " +
      "sink end-to-end at the SQL surface") {
    import graft.sources.ManifestTable
    val srcDir = Files.createTempDirectory("graft-ss-src").toString
    val sinkDir = Files.createTempDirectory("graft-ss-sink").toString
    val ckpt = Files.createTempDirectory("graft-ss-ck").toString
    ManifestTable.commit((1L to 10L).toDF("k").coalesce(1), srcDir,
      append = true)
    ManifestTable.commit((11L to 25L).toDF("k").coalesce(1), srcDir,
      append = true)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("path", srcDir).load()
        .writeStream.format("graft-manifest")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // one committed version per epoch (2 source versions = 2 epochs)
    assert(ManifestTable.read(spark, sinkDir)
      .as[Long].collect().toSet == (1L to 25L).toSet)
    val vAfter = ManifestTable.versions(sinkDir).size
    // same checkpoint: nothing re-delivers, nothing re-commits
    drain()
    assert(ManifestTable.versions(sinkDir).size == vAfter,
      "checkpoint replay must not double-commit")
    assert(ManifestTable.read(spark, sinkDir).count() == 25L)
    // a new source commit lands as ONE new epoch commit
    ManifestTable.commit((26L to 30L).toDF("k").coalesce(1), srcDir,
      append = true)
    drain()
    assert(ManifestTable.read(spark, sinkDir)
      .as[Long].collect().toSet == (1L to 30L).toSet)
    // the sink's versions carry the stream's idempotence tags
    val hist = ManifestTable.history(spark, sinkDir)
      .select("tag").as[String].collect()
    assert(hist.forall(_.startsWith("stream:")), hist.mkString(","))
  }

  test("TIMESTAMP AS OF: every publish stamps #at, SQL time travel " +
      "resolves to the newest version at-or-before the timestamp, " +
      "and a pre-history timestamp is loud") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-tt").toString
    spark.conf.set("spark.sql.catalog.gtt",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtt.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    val before = System.currentTimeMillis() - 5
    ManifestTable.commit((1L to 10L).toDF("k").coalesce(1), dir,
      append = true)
    Thread.sleep(5)
    val betwixt = System.currentTimeMillis()
    Thread.sleep(5)
    ManifestTable.commit((11L to 20L).toDF("k").coalesce(1), dir,
      append = true)
    assert(ManifestTable.versionAt(dir, betwixt) == 1L)
    assert(ManifestTable.versionAt(dir,
      System.currentTimeMillis()) == 2L)
    intercept[IllegalArgumentException] {
      ManifestTable.versionAt(dir, before)
    }
    // the SQL face: TIMESTAMP AS OF through the catalog (session
    // timezone is UTC — format the instant accordingly)
    val iso = java.time.Instant.ofEpochMilli(betwixt)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT count(*) FROM gtt.$t TIMESTAMP AS OF '$iso'")
      .head().getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM gtt.$t")
      .head().getLong(0) == 20L)
  }

  test("compactPartition: partition-scoped OPTIMIZE rewrites only " +
      "the matching partition's files (pvals and pruning survive), " +
      "carries every other partition by reference, and rides the " +
      "SQL CALL surface") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-cpart").toString
    spark.conf.set("spark.sql.catalog.gcp",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcp.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    // two commits × 3 buckets = 6 files, 2 per bucket
    for (c <- 0 to 1) {
      (1L to 90L).map(i => (i + 90 * c, i % 3))
        .toDF("k", "bucket")
        .coalesce(1).write.format("graft-manifest")
        .option("path", dir)
        .option("partitionColumns", "bucket")
        .option("statsColumns", "k")
        .mode("append").save()
    }
    assert(ManifestTable.snapshotFor(dir, None).files.size == 6)
    val (v, before, after) = ManifestTable.compactPartition(spark,
      dir, targetBytes = Long.MaxValue / 2, "bucket", 0L)
    assert(v == 3L && before == 6 && after == 5, s"$v/$before/$after")
    val snap = ManifestTable.snapshotFor(dir, None)
    // the compacted partition file keeps its #pval line → pruning
    // still confines a bucket=0 read to ONE file
    val df = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val b0 = df.filter(col("bucket") === 0L)
    assert(b0.rdd.getNumPartitions == 1, b0.rdd.getNumPartitions)
    assert(b0.count() == 60L)
    // other partitions untouched (2 files each)
    assert(df.filter(col("bucket") === 1L).rdd.getNumPartitions == 2)
    assert(df.count() == 180L)
    // SQL surface: CALL optimize(partition_col, partition_value)
    val opt = spark.sql(s"CALL gcp.optimize(table => '$t', " +
      s"target_bytes => ${Long.MaxValue / 2}, " +
      "partition_col => 'bucket', partition_value => '1')").head()
    assert(opt.getInt(1) == 5 && opt.getInt(2) == 4, opt.toString)
    assert(spark.read.format("graft-manifest").option("path", dir)
      .load().filter(col("bucket") === 1L)
      .rdd.getNumPartitions == 1)
    // a value matching no partition is loud
    assert(intercept[Exception] {
      spark.sql(s"CALL gcp.optimize(table => '$t', " +
        "partition_col => 'bucket', partition_value => '9')")
    }.getMessage.contains("nothing to compact"))
  }

  test("partitioned streaming sink: writeStream with " +
      "partitionColumns splits epochs by value and the sink's " +
      "partition pruning works") {
    import graft.sources.ManifestTable
    val srcDir = Files.createTempDirectory("graft-pss-src").toString
    val sinkDir = Files.createTempDirectory("graft-pss-sink").toString
    ManifestTable.commit(
      (1L to 60L).map(i => (i, i % 2)).toDF("k", "par").coalesce(1),
      srcDir, append = true)
    val q = spark.readStream.format("graft-manifest")
      .option("path", srcDir).load()
      .writeStream.format("graft-manifest")
      .option("path", sinkDir)
      .option("partitionColumns", "par")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-pss-ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val snap = ManifestTable.snapshotFor(sinkDir, None)
    assert(snap.files.size == 2 &&
      snap.files.forall(_.contains("par=")), snap.files.toString)
    val even = spark.read.format("graft-manifest")
      .option("path", sinkDir).load()
      .filter(col("par") === 0L)
    assert(even.rdd.getNumPartitions == 1)
    assert(even.count() == 30L)
  }

  test("SQL MERGE INTO a partitioned table: replacement files " +
      "re-record their #pval lines, so partition pruning survives " +
      "the copy-on-write rewrite") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-mpart").toString
    spark.conf.set("spark.sql.catalog.gmp",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmp.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    spark.sql(s"CREATE TABLE gmp.$t (k BIGINT, bucket BIGINT, " +
      s"v BIGINT) USING `graft-manifest` PARTITIONED BY (bucket)")
    val view = "v_" + java.util.UUID.randomUUID().toString.replace("-", "")
    (1L to 90L).map(i => (i, i % 3, i)).toDF("k", "bucket", "v")
      .coalesce(1).createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO gmp.$t SELECT * FROM $view WHERE k <= 45")
    spark.sql(s"INSERT INTO gmp.$t SELECT * FROM $view WHERE k > 45")
    assert(ManifestTable.snapshotFor(dir, None).files.size == 6)
    val upd = "u_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Seq((3L, 1003L), (6L, 1006L), (9L, 1009L)).toDF("k", "v")
      .createOrReplaceTempView(upd)
    spark.sql(
      s"""MERGE INTO gmp.$t tgt USING $upd src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET tgt.v = src.v""".stripMargin)
    val snap = ManifestTable.snapshotFor(dir, None)
    // every live file still carries its partition tuple — the
    // replacement split writer re-recorded the rewritten file's pval
    assert(snap.files.forall(f =>
      snap.pvals.getOrElse(f, Seq.empty).nonEmpty),
      s"a MERGE output lost its #pval line: ${snap.pvals}")
    val df = spark.read.format("graft-manifest")
      .option("path", dir).load()
    // untouched partition: still its 2 original files
    assert(df.filter(col("bucket") === 2L).rdd.getNumPartitions == 2)
    // the merged partition still prunes to exactly its files
    val b0files = snap.files.count(f =>
      snap.pvals.getOrElse(f, Seq.empty).contains(("bucket", "L:0")))
    assert(df.filter(col("bucket") === 0L)
      .rdd.getNumPartitions == b0files)
    assert(df.agg(sum("v")).head().getLong(0) ==
      (1L to 90L).sum - (3L + 6L + 9L) + (1003L + 1006L + 1009L))
  }

  test("LIMIT pushdown: the manifest scan plans only as many files " +
      "as the #nrows counts prove sufficient; residual filters " +
      "disable the trim; values stay exact") {
    import graft.sources.{ManifestTable, ManifestScanBuilder, ManifestV2Options}
    val dir = Files.createTempDirectory("graft-limit").toString
    for (c <- 0 to 3) {
      ManifestTable.commitWithStats(
        (1L to 25L).map(i => i + 25 * c).toDF("k").coalesce(1),
        dir, append = true, "k")
    }
    val df = spark.read.format("graft-manifest")
      .option("path", dir).load()
    def scanOf(limit: Option[Int],
        filters: Array[org.apache.spark.sql.sources.Filter]) = {
      val b = new ManifestScanBuilder(df.schema,
        ManifestV2Options(dir, None))
      b.pushFilters(filters)
      limit.foreach(b.pushLimit)
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    }
    def filesOf(b: org.apache.spark.sql.connector.read.Batch) =
      ManifestScanFiles.of(b.planInputPartitions().toSeq).size
    def partsOf(b: org.apache.spark.sql.connector.read.Batch) =
      unpacked(b.planInputPartitions().length)
    // LIMIT 10 ≤ one file's 25 counted rows → ONE file
    assert(filesOf(scanOf(Some(10), Array.empty)) == 1)
    assert(partsOf(scanOf(Some(10), Array.empty)) == 1)
    // LIMIT 60 needs three 25-row files
    assert(filesOf(scanOf(Some(60), Array.empty)) == 3)
    assert(partsOf(scanOf(Some(60), Array.empty)) == 3)
    // a pushed row filter disables the trim (later files may hold the
    // matching rows)
    val ge90 = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("k", 90L))
    assert(filesOf(scanOf(Some(1), ge90)) == 1) // zone-pruned, not trimmed
    assert(partsOf(scanOf(Some(1), ge90)) == 1)
    // end-to-end: values exact through the planner
    assert(df.limit(10).collect().length == 10)
    assert(spark.read.format("graft-manifest").option("path", dir)
      .load().orderBy("k").limit(3).as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("compactClustered survives extreme long domains (min/max near " +
      "the int64 edges) via decimal scaling") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-cc-extreme").toString
    val df = Seq(
      (Long.MinValue + 1L, 1L), (-1000L, 2L), (1000L, 3L),
      (Long.MaxValue - 1L, 4L)).toDF("a", "b")
    ManifestTable.commitWithStats(df.coalesce(1), table,
      append = true, Seq("a", "b"), None)
    val (v, before, after) = ManifestTable.compactClustered(spark,
      table, targetBytes = Long.MaxValue / 2,
      clusterCols = Seq("a", "b"))
    assert(v == 2L && before == 1)
    val back = ManifestTable.read(spark, table)
      .as[(Long, Long)].collect().toSet
    assert(back == Set((Long.MinValue + 1L, 1L), (-1000L, 2L),
      (1000L, 3L), (Long.MaxValue - 1L, 4L)),
      s"extreme-domain rows must survive the clustered rewrite: $back")
  }

  /** (result, number of Spark jobs `body` started). Jobs are matched
    * by a job group set on this thread, which SQL executions and
    * their broadcast and AQE stage threads inherit; a sentinel job
    * in a second group drains the listener bus, which delivers
    * events in order, so no sleep guesses when counting is done. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "jobs-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if g == group => n.incrementAndGet(); ()
          case Some(g) if g == s"$group-end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      (out, n.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The `#stats`/`#sstats`/`#ndv`/`#nrows` lines a manifest carries
    * for `file`, with the file's path replaced by `F`. */
  private def fileMetaLines(table: String, version: Long,
      file: String): Set[String] = {
    val ls = Files.readAllLines(
      java.nio.file.Paths.get(table, "_manifests", s"v$version"))
    scala.jdk.CollectionConverters.ListHasAsScala(ls).asScala
      .filter(l => Seq("#stats=", "#sstats=", "#ndv=", "#nrows=")
        .exists(l.startsWith))
      .map(l => l.split('|'))
      .filter(q => q(0).endsWith("=" + file))
      .map(q => ((q(0).takeWhile(_ != '=') + "=F") +: q.tail)
        .mkString("|"))
      .toSet
  }

  /** An independent reference for [[fileMetaLines]]: the lines data
    * file `f` of `table` must carry over stats columns `cols`, from
    * plain Spark `min`/`max`/`count` over the file and the
    * `graft_hll_regs`/`graft_log_hist` aggregates over each column's
    * canonical encoding (integers as long, DATE as epoch days,
    * TIMESTAMP as epoch micros, strings as-is), rendered as the
    * manifest renders them. Strings must stay under the stored-bound
    * cap (no truncation here). */
  private def referenceLines(table: String, f: String,
      cols: Seq[String]): Set[String] = {
    import org.apache.spark.sql.types.{DateType, StringType, TimestampType}
    import graft.sources.{NdvSketch, StrStat}
    val df = spark.read.parquet(java.nio.file.Paths.get(table, f).toString)
    def enc(c: String) = df.schema(c).dataType match {
      case StringType => col(c)
      case DateType => unix_date(col(c)).cast("long")
      case TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }
    val aggs = count(lit(1)) +: cols.flatMap(c => Seq(min(enc(c)),
      max(enc(c)), count(enc(c)),
      call_function("graft_hll_regs", enc(c).cast("string"),
        lit(NdvSketch.M)),
      if (df.schema(c).dataType == StringType) lit("")
      else call_function("graft_log_hist", enc(c))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    def hexOf(s: String) = {
      val b = StrStat.bytesOf(s)
      assert(b.length <= StrStat.MaxBytes, s)
      StrStat.hex(b)
    }
    if (n == 0L) Set("#nrows=F|0")
    else cols.zipWithIndex.flatMap { case (c, j) =>
      val i = 1 + 5 * j
      val str = df.schema(c).dataType == StringType
      val zone =
        if (r.isNullAt(i)) None
        else if (str) Some(s"#sstats=F|$c|${hexOf(r.getString(i))}|" +
          hexOf(r.getString(i + 1)))
        else Some(s"#stats=F|$c|${r.getLong(i)}|${r.getLong(i + 1)}")
      val regs = StrStat.hex(r.getSeq[Int](i + 3).map(_.toByte).toArray)
      val hist =
        if (str) ""
        else graft.expressions.LogHist.encode(r.getSeq[Long](i + 4).toArray)
      // split drops a trailing empty field, as fileMetaLines does
      zone.toSeq :+ s"#ndv=F|$c|${n - r.getLong(i + 2)}|$regs|$hist"
        .split('|').mkString("|")
    }.toSet + s"#nrows=F|$n"
  }

  test("ManifestTable.commitWithStats: a multi-file stage gathers its " +
      "per-file stats in one job with no schema-inference job, and " +
      "records the lines a single-file commit of each file records") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-filemeta").toString
    // three input partitions, no shuffle: the write lands three files
    val df = spark.range(1L, 301L, 1L, 3)
      .select($"id".as("k"), concat(lit("s"), ($"id" % 37L).cast("string"))
        .as("s"), ($"id" % 5L).as("g"))
    val (v, jobs) = jobsOf(ManifestTable.commitWithStats(df, table,
      append = false, Seq("k", "s"), None))
    val files = ManifestTable.snapshotFor(table, Some(v)).files
    assert(files.size == 3, files)
    // the staging write alone: its tasks gather every file's stats,
    // so no aggregation job and no listing-plus-inference job follow
    assert(jobs == 1, s"multi-file commitWithStats started $jobs jobs")
    // references: each staged file committed alone, and plain Spark
    // aggregates over the file
    files.foreach { f =>
      val ref = Files.createTempDirectory("graft-filemeta-ref").toString
      val rv = ManifestTable.commitWithStats(
        spark.read.parquet(java.nio.file.Paths.get(table, f).toString)
          .coalesce(1), ref, append = false, Seq("k", "s"), None)
      val rf = ManifestTable.snapshotFor(ref, Some(rv)).files
      assert(rf.size == 1)
      val got = fileMetaLines(table, v, f)
      // k's #stats, s's #sstats, an #ndv line each, one #nrows
      assert(got.size == 5, got)
      assert(got == fileMetaLines(ref, rv, rf.head), f)
      assert(got == referenceLines(table, f, Seq("k", "s")), f)
    }
  }

  /** Every regular file under `table`'s `data/`, table-relative and
    * sorted. */
  private def dataFiles(table: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(table)
    scala.util.Using.resource(Files.walk(root.resolve("data"))) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSeq.sorted
    }
  }

  /** The `.crc` checksum sidecar of table-relative data file `f`. */
  private def crcOf(f: String): String = {
    val i = f.lastIndexOf('/')
    s"${f.take(i + 1)}.${f.drop(i + 1)}.crc"
  }

  /** (result, commands of the OS processes started while `body` ran,
    * on any thread — write tasks, stream execution, cleaners — or with
    * `thisThread` on the calling thread only), from an in-process JFR
    * recording of `jdk.ProcessStart` events: a count that host timing
    * noise cannot move. */
  private def processStarts[T](body: => T,
      thisThread: Boolean = false): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(dump)
      val me = Thread.currentThread().getId
      val cmds = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          (!thisThread ||
            Option(e.getThread).exists(_.getJavaThreadId == me)))
        .map(_.getString("command")).toSeq
      (out, cmds)
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** The `chmod` and `readlink` processes among `cmds`. */
  private def chmodsAndReadlinks(cmds: Seq[String]): Seq[String] =
    cmds.filter { c =>
      val exe = c.trim.takeWhile(_ != ' ').split('/').last
      exe == "chmod" || exe == "readlink"
    }

  test("ManifestTable staging: commitWithStats (one and three files), " +
      "mergeByKeyDv and compact leave exactly the manifest's new files " +
      "and their .crc sidecars — no _temporary tree, no _SUCCESS") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-stage-footprint").toString
    def rows(lo: Long, hi: Long, parts: Int) =
      spark.range(lo, hi, 1L, parts).select($"id".as("k"),
        concat(lit("v"), $"id".cast("string")).as("v"))
    def staged(op: => Long): Unit = {
      val prev = ManifestTable.versions(table).lastOption
      val (before, old) = prev.fold((Set.empty[String], Set.empty[String]))(
        p => (dataFiles(table).toSet,
          ManifestTable.snapshotFor(table, Some(p)).files.toSet))
      val v = op
      val added = ManifestTable.snapshotFor(table, Some(v)).files
        .filterNot(old)
      assert(added.nonEmpty, s"v$v added no file")
      assert(dataFiles(table).filterNot(before) ==
        added.flatMap(f => Seq(f, crcOf(f))).sorted, s"v$v")
    }
    staged(ManifestTable.commitWithStats(rows(0L, 100L, 1), table,
      append = false, Seq("k"), None))
    staged(ManifestTable.commitWithStats(rows(100L, 400L, 3), table,
      append = true, Seq("k"), None))
    staged(ManifestTable.mergeByKeyDv(spark, table,
      Seq((5L, "a"), (500L, "b")).toDF("k", "v"), "k",
      dvMaxFraction = 0.5)._1)
    staged(ManifestTable.compact(spark, table, Long.MaxValue / 2)._1)
    assert(ManifestTable.read(spark, table).count() == 401L)
  }

  test("ManifestTable.commitWithStats: a write that fails in one task " +
      "publishes no version and leaves no stage directory behind") {
    import graft.sources.ManifestTable
    import scala.jdk.CollectionConverters._
    val table = Files.createTempDirectory("graft-failed-write").toString
    ManifestTable.commitWithStats(spark.range(0L, 10L).toDF("k"), table,
      append = false, Seq("k"), None)
    val versions = ManifestTable.versions(table)
    def entries = scala.util.Using.resource(
      Files.walk(java.nio.file.Paths.get(table, "data")))(
      _.iterator().asScala.map(_.toString).toSeq.sorted)
    val before = entries
    // the failing task writes part of its file first; the other task
    // has committed its file by the time the failure aborts the job
    val boom = udf { (k: Long) =>
      if (k == 99L) {
        Thread.sleep(300L)
        throw new IllegalStateException("boom")
      }
      k
    }
    intercept[Exception] {
      ManifestTable.commitWithStats(
        spark.range(0L, 100L, 1L, 2).select(boom($"id").as("k")), table,
        append = true, Seq("k"), None)
    }
    assert(ManifestTable.versions(table) == versions)
    assert(entries == before)
  }

  test("ManifestTable.commitWithStats: a one-file commit starts no OS " +
      "process on the committing thread") {
    import graft.sources.ManifestTable
    def commit(): Long = ManifestTable.commitWithStats(
      spark.range(0L, 50L, 1L, 1).toDF("k"),
      Files.createTempDirectory("graft-spawns").toString,
      append = false, Seq("k"), None)
    commit()
    // the recording sees what this thread starts
    val (_, probe) = processStarts(
      new ProcessBuilder("true").start().waitFor(), thisThread = true)
    assert(probe.size == 1, probe)
    val (v, cmds) = processStarts(commit(), thisThread = true)
    assert(v == 1L)
    assert(cmds.isEmpty, cmds)
  }

  test("GraftLocalFileSystem: a 4-file commitWithStats, a streamMerge " +
      "from start to stop, compact and a DSv2 append start no chmod or " +
      "readlink process on any thread") {
    import graft.sources.ManifestTable
    val work = Files.createTempDirectory("graft-no-spawn").toString
    // the recording sees what other threads start
    val (_, probe) = processStarts {
      val t = new Thread(() => {
        new ProcessBuilder("true").start().waitFor(); ()
      })
      t.start(); t.join()
    }
    assert(probe.size == 1, probe)
    def rows(lo: Long, hi: Long, parts: Int) =
      spark.range(lo, hi, 1L, parts).select($"id".as("k"),
        concat(lit("v"), $"id".cast("string")).as("v"), $"id".as("ver"))
    val table = s"$work/table"
    val (v1, commit) = processStarts(ManifestTable.commitWithStats(
      rows(0L, 400L, 4), table, append = false, Seq("k"), None))
    assert(ManifestTable.snapshotFor(table, Some(v1)).files.size == 4)
    assert(chmodsAndReadlinks(commit).isEmpty, commit)
    val src = s"$work/src"
    rows(390L, 410L, 1).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val (_, merge) = processStarts(ManifestTable.streamMerge(
      spark.readStream.schema(schema).parquet(src), table,
      s"$work/ckpt", "k", "ver", dvMaxFraction = 0.5))
    assert(ManifestTable.versions(table) == Seq(1L, 2L))
    assert(chmodsAndReadlinks(merge).isEmpty, merge)
    val (_, compact) = processStarts(
      ManifestTable.compact(spark, table, Long.MaxValue / 2))
    assert(ManifestTable.versions(table).size == 3)
    assert(chmodsAndReadlinks(compact).isEmpty, compact)
    val (_, append) = processStarts(rows(500L, 540L, 2).write
      .format("graft-manifest").option("path", table).mode("append")
      .save())
    assert(ManifestTable.versions(table).size == 4)
    assert(chmodsAndReadlinks(append).isEmpty, append)
    assert(ManifestTable.read(spark, table).count() == 450L)
  }

  test("GraftLocalFileSystem.local maps relative, absolute and file: " +
      "paths to its scheme and passes other file systems through") {
    import graft.sources.GraftLocalFileSystem
    val conf = new org.apache.hadoop.conf.Configuration(false)
    def local(p: String) = GraftLocalFileSystem.local(p, conf)
    assert(GraftLocalFileSystem.Scheme == "graftlocal")
    assert(local("/tmp/t/data") == "graftlocal:/tmp/t/data")
    assert(local("/tmp/a b/c") == "graftlocal:/tmp/a b/c")
    assert(local("file:/tmp/t") == "graftlocal:/tmp/t")
    assert(local("file:///tmp/t") == "graftlocal:/tmp/t")
    assert(local("rel/ckpt") ==
      s"graftlocal:${System.getProperty("user.dir")}/rel/ckpt")
    for (p <- Seq("graftlocal:/tmp/t", "hdfs://nn:8020/warehouse/t",
        "s3a://bucket/t/ckpt"))
      assert(local(p) == p)
    // without a scheme a path is local only while the default file
    // system is
    val hdfs = new org.apache.hadoop.conf.Configuration(false)
    hdfs.set("fs.defaultFS", "hdfs://nn:8020")
    assert(GraftLocalFileSystem.local("/warehouse/t", hdfs) ==
      "/warehouse/t")
    assert(GraftLocalFileSystem.local("file:/tmp/t", hdfs) ==
      "graftlocal:/tmp/t")
  }

  test("GraftLocalFileSystem is scoped to graft's writes: after graft " +
      "writes and a streamMerge file: resolves to the same LocalFileSystem, " +
      "the session conf is unchanged, and a listener on the owner's " +
      "spark.streams receives the MERGE's progress") {
    import graft.sources.{GraftLocalFileSystem, ManifestTable}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft-fs-scope").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    def fileFs(c: org.apache.hadoop.conf.Configuration) =
      org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"),
        c).getClass
    val fileFs0 = fileFs(hconf)
    val conf0 = spark.conf.getAll
    val scoping = Seq("fs.file.impl", "fs.graftlocal.impl",
      "spark.sql.streaming.checkpointFileManagerClass")
    val hadoop0 = scoping.map(hconf.get)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamingQueryListener.QueryProgressEvent]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e); ()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val table = s"$work/table"
    ManifestTable.commitWithStats((1L to 60L).map(k => (k, "base", 0L))
      .toDF("k", "v", "ver").repartitionByRange(3, $"k"), table,
      append = false, "k")
    val src = s"$work/src"
    Seq((2L, "new", 1L), (70L, "ins", 1L)).toDF("k", "v", "ver")
      .coalesce(1).write.parquet(src)
    spark.streams.addListener(listener)
    try {
      ManifestTable.streamMerge(
        spark.readStream.schema("k BIGINT, v STRING, ver BIGINT")
          .parquet(src), table, s"$work/ckpt", "k", "ver",
        dvMaxFraction = 0.5)
      // progress events reach listeners through the listener bus
      val deadline = System.nanoTime() + 30000000000L
      while (progress.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20L)
    } finally spark.streams.removeListener(listener)
    // the one batch, with its input rows (counted once per read of
    // the batch)
    val events = progress.asScala.toSeq.map(_.progress)
    assert(events.map(_.batchId) == Seq(0L), events.map(_.json))
    assert(events.head.sink.description == "ForeachBatchSink")
    assert(events.head.numInputRows >= 2L, events.head.json)
    assert(ManifestTable.read(spark, table).count() == 61L)
    // `file:` keeps the file system it resolved to before: Hadoop's
    // LocalFileSystem, or the subclass another library on the class
    // path registers (hive-exec's ProxyLocalFileSystem)
    assert(fileFs(hconf) == fileFs0)
    assert(classOf[org.apache.hadoop.fs.LocalFileSystem]
      .isAssignableFrom(fileFs0))
    assert(!classOf[GraftLocalFileSystem].isAssignableFrom(fileFs0))
    assert(org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graftlocal:///"), hconf).getClass ==
      classOf[GraftLocalFileSystem])
    assert(spark.conf.getAll == conf0)
    assert(scoping.map(hconf.get) == hadoop0)
  }

  test("GraftLocalFileSystem: staged data files, .crc sidecars and " +
      "checkpoint log files get the modes Hadoop's local file system " +
      "gives them; the sticky bit goes to Hadoop's own chmod") {
    import graft.sources.{GraftLocalFileSystem, ManifestTable}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft-fs-modes")
    val hconf = spark.sparkContext.hadoopConfiguration
    def mode(p: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    // the reference: a file, its sidecar and a directory made by
    // Hadoop's file: LocalFileSystem
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(hconf)
    lfs.create(new org.apache.hadoop.fs.Path(
      work.resolve("ref").toUri), true).close()
    lfs.mkdirs(new org.apache.hadoop.fs.Path(work.resolve("refdir").toUri))
    val file = mode(work.resolve("ref"))
    val dir = mode(work.resolve("refdir"))
    // under the default umask, 022
    assert((file, dir) == (("rw-r--r--", "rwxr-xr-x")))
    assert(mode(work.resolve(".ref.crc")) == file)
    val table = work.resolve("table").toString
    ManifestTable.commitWithStats((1L to 60L).map(k => (k, "base", 0L))
      .toDF("k", "v", "ver").repartitionByRange(2, $"k"), table,
      append = false, "k")
    val staged = dataFiles(table)
    assert(staged.size == 4, staged)
    staged.foreach(f => assert(mode(work.resolve("table").resolve(f)) ==
      file, f))
    val src = work.resolve("src").toString
    Seq((2L, "new", 1L)).toDF("k", "v", "ver").coalesce(1)
      .write.parquet(src)
    val ckpt = work.resolve("ckpt")
    ManifestTable.streamMerge(
      spark.readStream.schema("k BIGINT, v STRING, ver BIGINT")
        .parquet(src), table, ckpt.toString, "k", "ver")
    val (files, dirs) = scala.util.Using.resource(Files.walk(ckpt))(
      _.iterator().asScala.toSeq.filterNot(_ == ckpt)
        .partition(Files.isRegularFile(_)))
    val logs = files.map(ckpt.relativize(_).toString)
    for (l <- Seq("metadata", "offsets/0", "commits/0", "sources/0/0"))
      assert(logs.contains(l) && logs.contains(crcOf(l)), logs)
    files.foreach(f => assert(mode(f) == file, f))
    dirs.foreach(d => assert(mode(d) == dir, d))
    // the nine rwx bits in-process; the sticky bit through Hadoop's
    // own path (a `chmod` process without libhadoop)
    val gfs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graftlocal:///"), hconf)
    val sticky = new org.apache.hadoop.fs.Path(GraftLocalFileSystem.local(
      work.resolve("sticky").toString, hconf))
    assert(gfs.mkdirs(sticky))
    def unixMode(): Int = Files.getAttribute(work.resolve("sticky"),
      "unix:mode").asInstanceOf[Int] & 0xfff
    val (_, withSticky) = processStarts(gfs.setPermission(sticky,
      new org.apache.hadoop.fs.permission.FsPermission(0x3fd.toShort)),
      thisThread = true)
    assert(unixMode() == 0x3fd) // 01775
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(withSticky.exists(_.contains("chmod")), withSticky)
    val (_, plain) = processStarts(gfs.setPermission(sticky,
      new org.apache.hadoop.fs.permission.FsPermission(0x1c0.toShort)),
      thisThread = true)
    assert(unixMode() == 0x1c0) // 0700
    assert(plain.isEmpty, plain)
  }

  test("streamMerge checkpoints resume across schemes: a checkpoint " +
      "written under a plain path resumes under graftlocal and the " +
      "reverse, and a run without new input publishes no version") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.streaming.Trigger
    val work = Files.createTempDirectory("graft-ckpt-compat").toString
    val src = s"$work/src"
    def input(rows: (Long, String, Long)*): Unit =
      rows.toDF("k", "v", "ver").coalesce(1).write.mode("append")
        .parquet(src)
    def stream() = spark.readStream.schema("k BIGINT, v STRING, ver BIGINT")
      .parquet(src)
    def seeded(t: String): String = {
      ManifestTable.commitWithStats((1L to 30L).map(k => (k, "base", 0L))
        .toDF("k", "v", "ver"), t, append = false, "k")
      t
    }
    // Spark's own foreachBatch query on the plain path: batches merged
    def plain(t: String, ckpt: String): Int = {
      val batches = new java.util.concurrent.atomic.AtomicInteger()
      stream().writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.incrementAndGet()
          ManifestTable.mergeByKeyDv(b.sparkSession, t, b, "k", 0.5); ()
        }.start().awaitTermination()
      batches.get
    }
    def merged(t: String, ckpt: String): Unit =
      ManifestTable.streamMerge(stream(), t, ckpt, "k", "ver",
        dvMaxFraction = 0.5)
    def v(t: String, k: Long): String = ManifestTable.read(spark, t)
      .filter($"k" === k).select("v").as[String].head()
    // plain, then graftlocal
    val a = seeded(s"$work/a")
    input((2L, "one", 1L))
    assert(plain(a, s"$work/ckpt-a") == 1)
    assert(ManifestTable.versions(a) == Seq(1L, 2L))
    merged(a, s"$work/ckpt-a")
    assert(ManifestTable.versions(a) == Seq(1L, 2L))
    input((3L, "two", 1L))
    merged(a, s"$work/ckpt-a")
    assert(ManifestTable.versions(a) == Seq(1L, 2L, 3L))
    assert((v(a, 2L), v(a, 3L)) == (("one", "two")))
    // graftlocal, then plain
    val b = seeded(s"$work/b")
    merged(b, s"$work/ckpt-b")
    assert(ManifestTable.versions(b) == Seq(1L, 2L))
    assert(plain(b, s"$work/ckpt-b") == 0)
    assert(ManifestTable.versions(b) == Seq(1L, 2L))
    input((4L, "three", 1L))
    assert(plain(b, s"$work/ckpt-b") == 1)
    assert(ManifestTable.versions(b) == Seq(1L, 2L, 3L))
    assert(ManifestTable.read(spark, b).count() == 30L)
    assert((v(b, 2L), v(b, 3L), v(b, 4L)) == (("one", "two", "three")))
  }

  test("graft-manifest scan: reads with and without deletion vectors " +
      "and pushed filters return the model's rows") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-scan-conf").toString
    ManifestTable.commitWithStats((1L to 90L).map(k => (k, s"v$k", k % 7))
      .toDF("k", "v", "j").repartitionByRange(6, $"k"), table,
      append = false, "k")
    def check(model: Map[Long, (String, Long)]): Unit = {
      val scan = spark.read.format("graft-manifest").option("path", table)
        .load()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "j").as[(Long, String, Long)].collect()
          .toSeq.sorted
      def want(p: Long => Boolean) = model.toSeq.filter(r => p(r._1))
        .map { case (k, (s, j)) => (k, s, j) }.sorted
      assert(rows(scan) == want(_ => true))
      assert(rows(scan.filter($"k".between(20L, 50L))) ==
        want(k => k >= 20L && k <= 50L))
      assert(rows(scan.filter($"v" === "v33")) ==
        want(k => model(k)._1 == "v33"))
      assert(rows(scan.filter($"j" === 3L && $"k" > 40L)) ==
        want(k => model(k)._2 == 3L && k > 40L))
      assert(rows(scan) == rows(ManifestTable.read(spark, table)))
    }
    val base = (1L to 90L).map(k => k -> ((s"v$k", k % 7))).toMap
    check(base)
    ManifestTable.mergeByKeyDv(spark, table,
      Seq((5L, "u5", 0L), (33L, "u33", 0L), (61L, "u61", 0L),
        (100L, "v33", 3L)).toDF("k", "v", "j"), "k", dvMaxFraction = 0.5)
    val v = ManifestTable.versions(table).last
    assert(scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(java.nio.file.Paths.get(table, "_manifests",
        s"v$v"))).asScala.exists(_.startsWith("#dv=")))
    check(base ++ Map(5L -> (("u5", 0L)), 33L -> (("u33", 0L)),
      61L -> (("u61", 0L)), 100L -> (("v33", 3L))))
  }

  test("ManifestTable.compact and compactClustered: every file a " +
      "compacted manifest names keeps its .crc sidecar") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-compact-crc").toString
    for (m <- 0 to 2)
      ManifestTable.commitWithStats((1L to 90L).map(k => (k, k % 7L))
        .toDF("k", "j").filter($"k" % 3 === m).coalesce(1), table,
        append = true, "k")
    def sidecars(v: Long): Unit =
      ManifestTable.snapshotFor(table, Some(v)).files.foreach { f =>
        assert(Files.isRegularFile(java.nio.file.Paths.get(table, crcOf(f))),
          s"v$v: $f")
      }
    val (v1, _, _) = ManifestTable.compact(spark, table, Long.MaxValue / 2)
    sidecars(v1)
    val (v2, _, _) = ManifestTable.compactClustered(spark, table,
      Long.MaxValue / 2, Seq("k", "j"))
    assert(v2 == v1 + 1L)
    sidecars(v2)
    assert(ManifestTable.read(spark, table).select("k").as[Long].collect()
      .toSet == (1L to 90L).toSet)
  }

  test("ManifestTable.vacuum: every .crc left under data/ has its data " +
      "file") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-vacuum-crc").toString
    for (m <- 0 to 2)
      ManifestTable.commitWithStats((1L to 90L).toDF("k")
        .filter($"k" % 3 === m).coalesce(1), table, append = true, "k")
    ManifestTable.compact(spark, table, Long.MaxValue / 2)
    val (kept, deleted) =
      ManifestTable.vacuum(table, keepVersions = 1, graceMs = 0L)
    assert(kept == 1 && deleted == 3, s"kept=$kept deleted=$deleted")
    val all = dataFiles(table).toSet
    val crcs = all.filter(_.endsWith(".crc"))
    crcs.foreach { c =>
      val i = c.lastIndexOf('/')
      val data = c.take(i + 1) + c.drop(i + 2).stripSuffix(".crc")
      assert(all.contains(data), s"orphaned checksum $c")
    }
    assert(crcs.size == 1, all)
  }

  /** Assert every file version `v` of `table` added over `v - 1`
    * (`added` of them) records the `#stats`/`#sstats`/`#ndv`/`#nrows`
    * lines a single-file commitWithStats of that file on `cols`
    * records (the observed in-write path); returns the added files. */
  private def assertStatsOfSingleCommit(table: String, v: Long,
      cols: Seq[String], added: Int): Seq[String] = {
    import graft.sources.ManifestTable
    val before = ManifestTable.snapshotFor(table, Some(v - 1L)).files.toSet
    val files = ManifestTable.snapshotFor(table, Some(v)).files
      .filterNot(before)
    assert(files.size == added, files)
    files.foreach { f =>
      val ref = Files.createTempDirectory("graft-stats-ref").toString
      val rv = ManifestTable.commitWithStats(
        spark.read.parquet(java.nio.file.Paths.get(table, f).toString)
          .coalesce(1), ref, append = false, cols, None)
      val rf = ManifestTable.snapshotFor(ref, Some(rv)).files
      assert(rf.size == 1)
      val got = fileMetaLines(table, v, f)
      assert(got.exists(_.startsWith("#nrows=")), got)
      assert(got == fileMetaLines(ref, rv, rf.head), s"$table $f")
      assert(got == referenceLines(table, f, cols), s"$table $f")
    }
    files
  }

  test("every writer that recomputes per-file stats records the lines " +
      "a single-file commitWithStats of each output file records") {
    import graft.sources.ManifestTable
    val cols = Seq("k", "s")
    def frame(lo: Long, hi: Long, parts: Int) =
      spark.range(lo, hi + 1L, 1L, parts).select($"id".as("k"),
        concat(lit("s"), ($"id" % 37L).cast("string")).as("s"),
        (($"id" * 7L) % 100L).as("g"))
    // four files, k zones [1,100] [101,200] [201,300] [301,400]
    def seeded(name: String): String = {
      val t = Files.createTempDirectory(s"graft-restats-$name").toString
      ManifestTable.commitWithStats(frame(1L, 400L, 4), t,
        append = false, cols, None)
      t
    }
    // deleteRangeDv copy-on-write: two inputs rewritten, one job's
    // output lands one file per input partition
    val del = seeded("delete")
    val (dv, dRw, _, _) = ManifestTable.deleteRangeDv(spark, del, "k",
      150L, 250L, dvMaxFraction = 0.0)
    assert(dRw == 2)
    assertStatsOfSingleCommit(del, dv, cols, added = 2)
    // mergeByKeyDv: a two-file rewrite (coalesced to two outputs)
    // plus the single insert file
    val mer = seeded("merge")
    val upd = ((150L to 250L) :+ 1000L).toDF("k")
      .select($"k", lit("u").as("s"), ($"k" + 1L).as("g"))
    val (mv, mRw, _, _) = ManifestTable.mergeByKeyDv(spark, mer, upd,
      "k", dvMaxFraction = 0.0)
    assert(mRw == 2)
    assertStatsOfSingleCommit(mer, mv, cols, added = 3)
    // applyDeltaCommit: the over-budget file is rewritten live-minus-DV
    val dl = seeded("delta")
    val dlf = ManifestTable.snapshotFor(dl, None).files
    val (xv, _, xRw) = ManifestTable.applyDeltaCommit(spark, dl,
      Map(dlf(1) -> (0L until 60L)), Seq.empty, Map.empty, Map.empty,
      Map.empty, Map.empty, Map.empty, dvMaxFraction = 0.5)
    assert(xRw == 1)
    assertStatsOfSingleCommit(dl, xv, cols, added = 1)
    // compact: a DV-carrying group recomputes its output's stats
    val cp = seeded("compact")
    ManifestTable.deleteRangeDv(spark, cp, "k", 10L, 12L,
      dvMaxFraction = 0.5)
    val (cv, _, cAfter) = ManifestTable.compact(spark, cp, Long.MaxValue / 2)
    assert(cAfter == 1)
    assertStatsOfSingleCommit(cp, cv, cols, added = 1)
    // compactPartition over a partitioned DSv2 table (stats on k)
    val pt = Files.createTempDirectory("graft-restats-part").toString
    for (c <- 0 to 1)
      (1L to 90L).map(i => (i + 90 * c, i % 3)).toDF("k", "bucket")
        .coalesce(1).write.format("graft-manifest").option("path", pt)
        .option("partitionColumns", "bucket").option("statsColumns", "k")
        .mode("append").save()
    val (pv, _, _) = ManifestTable.compactPartition(spark, pt,
      Long.MaxValue / 2, "bucket", 0L)
    assertStatsOfSingleCommit(pt, pv, Seq("k"), added = 1)
    // compactClustered: two outputs, stats over the cluster columns
    // plus every column the inputs carried
    val cc = seeded("clustered")
    val ccBytes = ManifestTable.snapshotFor(cc, None).files
      .map(f => Files.size(java.nio.file.Paths.get(cc, f))).sum
    val (ccv, _, ccAfter) = ManifestTable.compactClustered(spark, cc,
      ccBytes / 2 + 1, Seq("k", "g"))
    assert(ccAfter == 2)
    assertStatsOfSingleCommit(cc, ccv, Seq("g", "k", "s"), added = 2)
  }

  test("commitWithStats and a graft-manifest write record the same " +
      "per-file lines over byte, short, int, long, date, timestamp and " +
      "string columns, an all-NULL column and an empty input " +
      "partition, and both match a plain-Spark reference") {
    import graft.sources.ManifestTable
    val cols = Seq("b", "h", "i", "l", "d", "ts", "s", "z")
    // four range partitions of 75 ids; the third is filtered empty
    val df = spark.range(0L, 300L, 1L, 4)
      .filter(!($"id" >= 150L && $"id" < 225L))
      .select(($"id" % 100L - 50L).cast("byte").as("b"),
        ($"id" * 37L % 2000L - 1000L).cast("short").as("h"),
        ($"id" * 7L % 90L).cast("int").as("i"),
        ($"id" * 1000003L - 5000L).as("l"),
        date_add(lit(java.sql.Date.valueOf("1969-12-01")),
          ($"id" % 60L).cast("int")).as("d"),
        timestamp_micros($"id" * 1000000007L - 123456L).as("ts"),
        when($"id" % 4L === 0L, lit(null))
          .otherwise(concat(lit("s"), ($"id" % 23L).cast("string")))
          .as("s"),
        lit(null).cast("long").as("z"))
    val api = Files.createTempDirectory("graft-parity-scala").toString
    val sv = ManifestTable.commitWithStats(df, api, append = false,
      cols, None)
    val dsv2 = Files.createTempDirectory("graft-parity-dsv2").toString
    df.write.format("graft-manifest").option("path", dsv2)
      .option("statsColumns", cols.mkString(",")).mode("append").save()
    val dv = ManifestTable.versions(dsv2).last
    def perFile(t: String, v: Long): Seq[(Set[String], Set[String])] =
      ManifestTable.snapshotFor(t, Some(v)).files
        .map(f => (fileMetaLines(t, v, f), referenceLines(t, f, cols)))
    val (sc, ds) = (perFile(api, sv), perFile(dsv2, dv))
    // no file for the empty partition on either side
    assert(sc.size == 3 && ds.size == 3, (sc.size, ds.size))
    sc.foreach { case (got, ref) => assert(got == ref) }
    ds.foreach { case (got, ref) => assert(got == ref) }
    // each file: 7 zone lines (z is all NULL), 8 #ndv, one #nrows
    assert(sc.forall(_._1.size == 16), sc.map(_._1.size))
    assert(sc.map(_._1.toSeq.sorted.mkString("\n")).sorted ==
      ds.map(_._1.toSeq.sorted.mkString("\n")).sorted)
  }

  test("SQL row-level writes keep #ndv= lines: after a copy-on-write " +
      "MERGE INTO and a merge-on-read MERGE and DELETE every live file " +
      "has one and the scan reports a distinct count") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = Files.createTempDirectory("graft-ndv-dml").toString
    spark.conf.set("spark.sql.catalog.gndv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gndv.root", root)
    def table(mode: String): (String, String) = {
      val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
      spark.sql(s"CREATE TABLE gndv.$t (k BIGINT, p BIGINT) USING " +
        s"`graft-manifest` TBLPROPERTIES ('merge.mode'='$mode')")
      val dir = s"$root/$t"
      for (lo <- Seq(0L, 50L))
        ManifestTable.commitWithStats(spark.range(lo, lo + 50)
          .select($"id".as("k"), ($"id" * 10).as("p")).coalesce(1),
          dir, append = true, "k")
      (t, dir)
    }
    def assertNdvs(t: String, dir: String): Unit = {
      val snap = ManifestTable.snapshotFor(dir, None)
      snap.files.foreach(f => assert(
        snap.ndvs.getOrElse(f, Seq.empty).exists(_._1 == "k"),
        s"$f has no #ndv= line for k"))
      val scan = spark.table(s"gndv.$t").queryExecution.optimizedPlan
        .collectFirst { case r: DataSourceV2ScanRelation => r.scan }
        .getOrElse(fail("no DSv2 scan"))
      val stats = scan.asInstanceOf[SupportsReportStatistics]
        .estimateStatistics().columnStats()
      val k = org.apache.spark.sql.connector.expressions.Expressions
        .column("k")
      assert(stats.containsKey(k) &&
        stats.get(k).distinctCount().isPresent, stats)
    }
    Seq((60L, 65L), (200L, 203L)).map { case (lo, hi) =>
      spark.range(lo, hi).select($"id".as("k"), lit(-1L).as("p"))
    }.reduce(_ unionByName _).createOrReplaceTempView("ndv_src")
    val merge = "USING ndv_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.p = s.p " +
      "WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, s.p)"
    val (cow, cowDir) = table("copy-on-write")
    spark.sql(s"MERGE INTO gndv.$cow t $merge")
    assertNdvs(cow, cowDir)
    val (mor, morDir) = table("merge-on-read")
    spark.sql(s"MERGE INTO gndv.$mor t $merge")
    spark.sql(s"DELETE FROM gndv.$mor WHERE k % 7 = 0")
    assert(ManifestTable.snapshotFor(morDir, None).dvs.nonEmpty)
    assertNdvs(mor, morDir)
    assert(ManifestTable.read(spark, morDir).count() == 103L - 15L)
  }

  test("a graft-manifest write stores string bytes unchanged, as " +
      "ManifestTable.commit does, invalid UTF-8 included") {
    import graft.sources.ManifestTable
    val df = spark.range(1).select(unhex(lit("41FF42")).cast("string")
      .as("s"))
    val api = Files.createTempDirectory("graft-bytes-api").toString
    ManifestTable.commit(df, api, append = false)
    val dsv2 = Files.createTempDirectory("graft-bytes-dsv2").toString
    df.write.format("graft-manifest").option("path", dsv2)
      .option("statsColumns", "s").mode("append").save()
    def stored(t: String): Seq[String] =
      ManifestTable.snapshotFor(t, None).files.flatMap(f =>
        spark.read.parquet(s"$t/$f").select(hex($"s".cast("binary")))
          .as[String].collect())
    assert(stored(api) == Seq("41FF42"))
    assert(stored(dsv2) == Seq("41FF42"))
  }

  test("a manifest line torn mid-line fails the read loudly, naming " +
      "the manifest, the line number and the line") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-torn").toString
    (1L to 60L).map(k => (k, k % 2, s"v$k")).toDF("k", "p", "s")
      .coalesce(1).write.format("graft-manifest").option("path", table)
      .option("partitionColumns", "p").option("statsColumns", "k,s")
      .mode("append").save()
    ManifestTable.deleteRangeDv(spark, table, "k", 5L, 6L,
      dvMaxFraction = 1.0)
    val v = ManifestTable.versions(table).last
    val text = Files.readString(
      java.nio.file.Paths.get(table, "_manifests", s"v$v"))
    val lines = text.split("\n").toSeq
    val torn = java.nio.file.Paths.get(table, "_manifests", s"v${v + 1}")
    // (kind, offset of the cut inside the line): the middle of the
    // path for every kind, and an #nrows= line cut just past its bar
    val cuts = Seq("#stats=", "#sstats=", "#pval=", "#ndv=", "#nrows=",
      "#dv=").map { k =>
        val l = lines.find(_.startsWith(k)).get
        (k, k.length + (l.indexOf('|') - k.length) / 2)
      } :+ ("#nrows=", lines.find(_.startsWith("#nrows=")).get
        .indexOf('|') + 1)
    cuts.foreach { case (k, at) =>
      val i = lines.indexWhere(_.startsWith(k))
      val start = lines.take(i).map(_.length + 1).sum
      Files.writeString(torn, text.substring(0, start + at))
      val e = intercept[IllegalStateException](
        ManifestTable.snapshotFor(table, None))
      assert(e.getMessage == s"torn manifest line ${i + 1} of $torn: " +
        lines(i).substring(0, at), e.getMessage)
    }
    // the intact snapshot still reads
    Files.delete(torn)
    assert(ManifestTable.snapshotFor(table, None).files.size == 2)
  }

  test("ManifestTable.compact tags a multi-group rewrite of a DV'd " +
      "table with its groups through a broadcast lookup: no broadcast " +
      "job, and the survivors match a latest-wins model") {
    import graft.sources.ManifestTable
    val table = Files.createTempDirectory("graft-compact-jobs").toString
    val n = 2000L
    val model = scala.collection.mutable.Map[Long, String]()
    (0L until n).foreach(k => model(k) = s"base-$k")
    ManifestTable.commitWithStats(model.toSeq.toDF("k", "v")
        .repartitionByRange(8, $"k").sortWithinPartitions("k"),
      table, append = false, "k")
    def merge(keys: Seq[Long], round: Int): Unit = {
      keys.foreach(k => model(k) = s"r$round-$k")
      ManifestTable.mergeByKeyDv(spark, table,
        keys.map(k => (k, model(k))).toDF("k", "v"), "k",
        dvMaxFraction = 0.5)
    }
    merge(Seq(3L, 700L, 1300L, 1999L, n), 1)
    val files = ManifestTable.snapshotFor(table, None).files
    val bytes = files.map(f =>
      Files.size(java.nio.file.Paths.get(table, f))).sum
    val ((_, before, after), jobs) = jobsOf(
      ManifestTable.compact(spark, table, bytes / 3))
    assert(before == files.size && after > 1 && after < before,
      s"$before -> $after")
    // the rewrite's shuffle map stage and its write
    assert(jobs == 2, s"multi-group compact started $jobs jobs")
    val snap = ManifestTable.snapshotFor(table, None)
    assert(snap.dvs.values.forall(_.isEmpty), snap.dvs)
    assert(ManifestTable.read(spark, table).as[(Long, String)].collect()
      .toMap == model.toMap)
  }

  test("the shared replace-publish aborts when a rival removed an " +
      "input or landed a DV on one, and carries a rival's append") {
    import graft.sources.ManifestTable
    // two files, k zones [1,50] and [51,100]
    def mk(): String = {
      val t = Files.createTempDirectory("graft-replace-race").toString
      ManifestTable.commitWithStats(spark.range(1L, 101L, 1L, 2)
        .select($"id".as("k")), t, append = false, Seq("k"), None)
      t
    }
    // the writer under test: it pinned the snapshot, replaces the first
    // file by a staged copy of its rows above 10 and marks position 0
    // of the second file dead
    def pin(t: String) = {
      val snap = ManifestTable.snapshotFor(t, None)
      (snap.files, snap.dvs)
    }
    def replace(t: String,
        pinned: (Seq[String], Map[String, Seq[Long]])): (Long, Int) = {
      val (a, b) = (pinned._1(0), pinned._1(1))
      val dir = s"data/t-${java.util.UUID.randomUUID()}"
      spark.read.parquet(java.nio.file.Paths.get(t, a).toString)
        .filter($"k" > 10L).coalesce(1)
        .write.parquet(java.nio.file.Paths.get(t, dir).toString)
      val staged = Files.list(java.nio.file.Paths.get(t, dir))
      val out = try scala.jdk.CollectionConverters.IteratorHasAsScala(
          staged.iterator()).asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(n => s"$dir/$n").toSeq
      finally staged.close()
      ManifestTable.publishReplace(t, Seq(a), out,
        ManifestTable.FileMeta(rows = out.map(_ -> 40L).toMap),
        pinned._2, dvUpdates = Map(b -> Seq(0L)))
    }
    // (a) a rival rewrite removed the replaced input: abort
    val tA = mk()
    val pinA = pin(tA)
    ManifestTable.deleteRange(spark, tA, "k", 1L, 5L)
    val exA = intercept[IllegalArgumentException](replace(tA, pinA))
    assert(exA.getMessage.contains("concurrent rewrite removed"),
      exA.getMessage)
    // (b) a rival DV landed on the file this publish marks: abort
    val tB = mk()
    val pinB = pin(tB)
    ManifestTable.deleteRangeDv(spark, tB, "k", 60L, 60L,
      dvMaxFraction = 1.0)
    val exB = intercept[IllegalArgumentException](replace(tB, pinB))
    assert(exB.getMessage.contains("concurrent DV"), exB.getMessage)
    assert(ManifestTable.versions(tA) == Seq(1L, 2L) &&
      ManifestTable.versions(tB) == Seq(1L, 2L), "an abort publishes nothing")
    // (c) a rival append rides along with its metadata lines
    val tC = mk()
    val pinC = pin(tC)
    ManifestTable.commitWithStats(Seq(200L, 201L).toDF("k").coalesce(1),
      tC, append = true, Seq("k"), None)
    val (v, after) = replace(tC, pinC)
    assert(v == 3L && after == 3, s"$v/$after")
    val snap = ManifestTable.snapshotFor(tC, None)
    val rival = ManifestTable.snapshotFor(tC, Some(2L)).files.last
    assert(snap.files.contains(rival) && snap.stats(rival) ==
      Seq(("k", 200L, 201L)) && snap.rows(rival) == 2L)
    assert(!snap.files.contains(pinC._1(0)))
    assert(snap.dvs == Map(pinC._1(1) -> Seq(0L)))
    assert(ManifestTable.read(spark, tC).as[Long].collect().sorted.toSeq ==
      (11L to 50L) ++ (52L to 100L) ++ Seq(200L, 201L))
    assert(ManifestTable.countRows(tC).contains(40L + 49L + 2L))
  }

  test("readPruned folds repeated ranges on one column into their " +
      "intersection") {
    import graft.sources.ManifestTable
    val t = Files.createTempDirectory("graft-prune-fold").toString
    // k zones [1,100] [101,200] [201,300] [301,400]; s is k's
    // zero-padded string, so its zones follow k's
    ManifestTable.commitWithStats(spark.range(1L, 401L, 1L, 4)
      .select($"id".as("k"), format_string("%04d", $"id").as("s")),
      t, append = false, Seq("k", "s"), None)
    // [50,250] and [150,350] meet in [150,250]: the 2nd and 3rd files
    val (df, files, kept) = ManifestTable.readPruned(spark, t,
      Seq(("k", 50L, 250L), ("k", 150L, 350L)), None)
    assert((files, kept) == (4, 2), s"$files/$kept")
    assert(df.count() == 101L)
    // the same on a string column
    val (sdf, sFiles, sKept) = ManifestTable.readPrunedTyped(spark, t,
      Seq(("s", "0050", "0250"), ("s", "0150", "0350")), None)
    assert((sFiles, sKept) == (4, 2), s"$sFiles/$sKept")
    assert(sdf.count() == 101L)
    // ranges that miss each other keep the files meeting both
    val (_, _, apart) = ManifestTable.readPruned(spark, t,
      Seq(("k", 1L, 120L), ("k", 180L, 400L)), None)
    assert(apart == 1)
  }

  test("manifest reads plan with no Spark job and keep Spark's " +
      "inferred schema") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types.StructType
    val ts = java.sql.Timestamp.valueOf("2023-03-01 10:30:00.123456")
    // Spark-written files: INT96 timestamps (Spark's default output
    // type) and an array column, as in the importer tables
    def sparkFile(dir: String, extra: Boolean): String = {
      val base = Seq((1L, ts, Seq("a", "b")), (2L, ts, Seq.empty[String]),
        (3L, ts, Seq("c"))).toDF("k", "ts", "arr")
      (if (extra) base.withColumn("extra", $"k" * 10L) else base)
        .coalesce(1).write.parquet(dir)
      val st = Files.list(java.nio.file.Paths.get(dir))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet")).toSeq.head
      finally st.close()
    }
    // a file with no Spark schema in its footer: the schema then
    // comes from the parquet converter (INT96 as timestamp, LIST as
    // array)
    def rawFile(path: String): Unit = {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.io.api.Binary
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType(
          """message raw {
            |  required int64 k;
            |  optional int96 ts;
            |  optional group arr (LIST) {
            |    repeated group list { optional binary element (STRING); }
            |  }
            |}""".stripMargin)
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(path))
        .withType(schema).build()
      try {
        val g = new SimpleGroupFactory(schema).newGroup()
        g.add("k", 4L)
        // INT96: nanos of day, then the Julian day, little-endian
        val i96 = java.nio.ByteBuffer.allocate(12)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putLong(37800000000000L).putInt(2460005).array()
        g.add("ts", Binary.fromConstantByteArray(i96))
        g.addGroup("arr").addGroup("list").add("element", "d")
        w.write(g)
      } finally w.close()
    }
    def publish(table: String, v: Long, files: Seq[String]): Unit = {
      val m = java.nio.file.Paths.get(table, "_manifests")
      Files.createDirectories(m)
      Files.write(m.resolve(s"v$v"),
        files.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    // v1 holds the smaller path only, v2 both: the evolved column sits
    // in the smaller-path file, the larger-path file, or neither (the
    // converter-read file sorts first)
    val tables = Seq("extra-first", "extra-last", "raw-first").map { n =>
      val t = Files.createTempDirectory(s"graft-plan-$n").toString
      val a = s"$t/data/a"
      val b = s"$t/data/b"
      val fa = n match {
        case "raw-first" =>
          Files.createDirectories(java.nio.file.Paths.get(a))
          rawFile(s"$a/raw.parquet"); "raw.parquet"
        case _ => sparkFile(a, extra = n == "extra-first")
      }
      val fb = sparkFile(b, extra = n == "extra-last")
      publish(t, 1L, Seq(s"data/a/$fa"))
      publish(t, 2L, Seq(s"data/a/$fa", s"data/b/$fb"))
      t
    }
    def filesOf(t: String, v: Long) = ManifestTable.snapshotFor(t, Some(v))
      .files.map(f => java.nio.file.Paths.get(t, f).toString)
    def union(t: String, v: Long): StructType =
      spark.read.option("mergeSchema", "true")
        .parquet(filesOf(t, v): _*).schema
    tables.foreach { t =>
      val (frames, jobs) = jobsOf(Seq(
        "read" -> ManifestTable.read(spark, t),
        "read v1" -> ManifestTable.read(spark, t, Some(1L)),
        "readPruned" -> ManifestTable.readPruned(spark, t, "k", 1L, 3L)._1,
        "readPrunedTyped" -> ManifestTable.readPrunedTyped(spark, t,
          Seq(("k", 1L, 4L), ("ts", ts, ts)), Some(2L))._1,
        "readChanges" -> ManifestTable.readChanges(spark, t, 1L)._1,
        "readChanges empty" ->
          ManifestTable.readChanges(spark, t, 2L, Some(2L))._1))
      assert(jobs == 0, s"$t: building the reads started $jobs jobs")
      // every read returns its snapshot's footer union; readChanges
      // reads the toVersion snapshot's, as read(to) does
      val want = Map("read" -> union(t, 2L),
        "read v1" -> union(t, 1L),
        "readPruned" -> union(t, 2L),
        "readPrunedTyped" -> union(t, 2L),
        "readChanges" -> union(t, 2L),
        "readChanges empty" -> union(t, 2L))
      frames.foreach { case (name, df) =>
        assert(df.schema == want(name), s"$t $name")
      }
      // the frames still read their rows
      assert(frames.toMap.apply("read").count() ==
        spark.read.parquet(filesOf(t, 2L): _*).count())
      assert(frames.toMap.apply("readChanges empty").count() == 0L)
      assert(ManifestTable.read(spark, t).schema == union(t, 2L), t)
    }
    // each evolved table reads the evolved column wherever it sits;
    // time travel reads the older snapshot's own union
    assert(ManifestTable.read(spark, tables(0)).columns.contains("extra"))
    assert(ManifestTable.read(spark, tables(1)).columns.contains("extra"))
    assert(!ManifestTable.read(spark, tables(1), Some(1L))
      .columns.contains("extra"))
    assert(ManifestTable.read(spark, tables(2)).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("deletion vectors mask inside the scan: DV'd reads and " +
      "OPTIMIZE match a latest-wins model and the anti-join mask, a " +
      "point read is one job, and a new DV set compiles nothing") {
    import graft.sources.ManifestTable
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val table = Files.createTempDirectory("graft-dv-scan").toString
    var model: Map[Long, String] =
      (1L to 400L).map(k => k -> s"v$k").toMap
    ManifestTable.commitWithStats(
      spark.range(1L, 401L, 1L, 4)
        .select($"id".as("k"), concat(lit("v"), $"id".cast("string"))
          .as("v")), table, append = false, "k")
    def merge(keys: Seq[Long], tag: String): Unit = {
      val (_, rewritten, dvd, _) = ManifestTable.mergeByKeyDv(spark,
        table, keys.map(k => (k, s"$tag$k")).toDF("k", "v"), "k",
        dvMaxFraction = 0.5)
      assert(rewritten == 0 && dvd > 0, (rewritten, dvd))
      model = model ++ keys.map(k => k -> s"$tag$k")
    }
    merge(Seq(5L, 150L, 250L, 390L, 401L, 402L), "a")
    val (_, rw, dvd, _) = ManifestTable.deleteRangeDv(spark, table, "k",
      200L, 210L, dvMaxFraction = 0.5)
    assert(rw == 0 && dvd == 2, (rw, dvd))
    model = model -- (200L to 210L)
    merge(Seq(6L, 250L, 300L), "b")
    // the reference mask: the anti-join on (file basename, row index)
    // against the snapshot's vectors
    def antiJoined(lo: Long, hi: Long): Set[(Long, String)] = {
      val snap = ManifestTable.snapshotFor(table, None)
      val dead = snap.dvs.toSeq.flatMap { case (f, ps) =>
        ps.map(p => (f.split('/').last, p)) }.toDF("__b", "__p")
      spark.read.parquet(snap.files
          .map(f => java.nio.file.Paths.get(table, f).toString): _*)
        .select(col("*"), col("_metadata.file_name").as("__b"),
          col("_metadata.row_index").as("__p"))
        .join(dead, Seq("__b", "__p"), "left_anti")
        .filter($"k".between(lo, hi))
        .select("k", "v").as[(Long, String)].collect().toSet
    }
    def modelIn(lo: Long, hi: Long): Set[(Long, String)] =
      model.filter { case (k, _) => k >= lo && k <= hi }.toSet
    def pruned(lo: Long, hi: Long): Set[(Long, String)] =
      ManifestTable.readPruned(spark, table, "k", lo, hi)._1
        .select("k", "v").as[(Long, String)].collect().toSet
    // the four base files and the first merge's insert file
    assert(ManifestTable.snapshotFor(table, None).dvs.size == 5)
    val all = ManifestTable.read(spark, table).select("k", "v")
      .as[(Long, String)].collect().toSet
    assert(all == model.toSet)
    assert(all == antiJoined(Long.MinValue, Long.MaxValue))
    for ((lo, hi) <- Seq((5L, 5L), (250L, 250L), (205L, 205L),
        (401L, 401L), (190L, 260L), (1L, 402L))) {
      assert(pruned(lo, hi) == modelIn(lo, hi), s"[$lo, $hi]")
      assert(pruned(lo, hi) == antiJoined(lo, hi), s"[$lo, $hi]")
    }
    // a point read over a DV'd file: the mask runs inside the scan's
    // own job — no broadcast job, no stage boundary
    val (rows, jobs) = jobsOf(
      ManifestTable.readPruned(spark, table, "k", 150L, 150L)._1.collect())
    assert(rows.length == 1 && jobs == 1, s"${rows.toSeq}, $jobs jobs")
    // same bounds over a different DV set: the vectors reach the
    // generated code as a reference object, so nothing recompiles
    pruned(120L, 120L)
    merge(Seq(120L), "c")
    val c0 = compiles()
    assert(pruned(120L, 120L) == Set((120L, "c120")))
    assert(compiles() - c0 == 0L,
      s"a new DV set compiled ${compiles() - c0} classes")
    // OPTIMIZE rewrites through the mask and purges every vector
    ManifestTable.compact(spark, table, 128L << 20)
    val snap = ManifestTable.snapshotFor(table, None)
    assert(snap.dvs.values.forall(_.isEmpty), snap.dvs)
    assert(ManifestTable.read(spark, table).select("k", "v")
      .as[(Long, String)].collect().toSet == model.toSet)
    assert(antiJoined(Long.MinValue, Long.MaxValue) == model.toSet)
  }

  test("a pruned read is one manifest scan: new Long, date, timestamp " +
      "and string bounds compile nothing, no Filter sits above the " +
      "scan, scanned counts the files it plans, and a seeded version " +
      "builds its reads without opening a footer") {
    import graft.sources.ManifestTable
    import org.apache.spark.metrics.source.CodegenMetrics
    import java.time.{Instant, LocalDate}
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t = Files.createTempDirectory("graft-pruned-scan").toString
    // 4 range-sliced files over every zone kind, then a DV
    ManifestTable.commitWithStats(spark.range(0L, 400L, 1L, 4).select(
        $"id".as("k"),
        date_add(lit(LocalDate.ofEpochDay(19000L)), $"id".cast("int"))
          .as("d"),
        timestamp_seconds($"id" + 1700000000L).as("ts"),
        format_string("s%04d", $"id").as("s")),
      t, append = false, Seq("k", "d", "ts", "s"), None)
    ManifestTable.deleteRangeDv(spark, t, "k", 150L, 152L,
      dvMaxFraction = 0.5)
    def day(i: Long) = LocalDate.ofEpochDay(19000L + i)
    def sec(i: Long) = Instant.ofEpochSecond(1700000000L + i)
    def str(i: Long) = f"s$i%04d"
    def filters(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f }
    def read(preds: Seq[(String, Any, Any)]) =
      ManifestTable.readPrunedTyped(spark, t, preds, None)
    // per bound kind: a first read compiles its plan; a second with
    // new bounds compiles nothing, collecting or counting
    val cases: Seq[(Long, Long) => Seq[(String, Any, Any)]] = Seq(
      (lo, hi) => Seq(("k", lo, hi)),
      (lo, hi) => Seq(("d", day(lo), day(hi))),
      (lo, hi) => Seq(("ts", sec(lo), sec(hi))),
      (lo, hi) => Seq(("s", str(lo), str(hi))))
    cases.foreach { bounds =>
      Seq((140L, 160L), (260L, 262L)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          val c0 = compiles()
          val (df, files, scanned) = read(bounds(lo, hi))
          val rows = df.select("k").as[Long].collect().sorted.toSeq
          assert(rows == (lo to hi).filterNot(k => k >= 150L && k <= 152L),
            bounds(lo, hi))
          assert(df.count() == rows.size)
          assert(i == 0 || compiles() == c0,
            s"${bounds(lo, hi)} compiled ${compiles() - c0} classes")
          assert(filters(df).isEmpty, df.queryExecution.executedPlan)
          assert(files == 4 && scanned == ManifestScanFiles(df).size &&
            scanned < files, (files, scanned, ManifestScanFiles(df)))
      }
    }
    // the Long entry point: a second point read compiles nothing
    def point(k: Long) = {
      val (df, _, scanned) = ManifestTable.readPruned(spark, t, "k", k, k)
      (df.select("s").as[String].collect().toSeq, scanned,
        ManifestScanFiles(df).size)
    }
    assert(point(222L) == ((Seq("s0222"), 1, 1)))
    val c0 = compiles()
    val (pointRead, pointJobs) = jobsOf(point(333L))
    assert(pointRead == ((Seq("s0333"), 1, 1)))
    assert(pointJobs == 1, s"a point read started $pointJobs jobs")
    assert(compiles() == c0, s"${compiles() - c0} classes compiled")
    // a MERGE seeds its version's schema: every read of that version
    // plans under the seeded instance, so none unions the footers
    val (v, _, _, _) = ManifestTable.mergeByKeyDv(spark, t,
      Seq((5L, day(5L), java.sql.Timestamp.from(sec(5L)), "new"))
        .toDF("k", "d", "ts", "s"), "k", dvMaxFraction = 0.5)
    val seeded = ManifestTable.cachedSchema(t, v)
    assert(seeded.isDefined)
    def tableSchema(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r.table.schema()
      }
    val built = Seq(ManifestTable.read(spark, t),
      ManifestTable.readPruned(spark, t, "k", 5L, 5L)._1,
      spark.read.format("graft-manifest").option("path", t).load())
    built.foreach(df => assert(tableSchema(df).exists(_ eq seeded.get),
      df.queryExecution.analyzed))
    assert(built(1).select("s").as[String].collect().toSeq == Seq("new"))
  }

  test("an append seeds its version's schema: the first read of an " +
      "appended version merges the carried union with one staged " +
      "footer, across unread appends and an added column") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = Files.createTempDirectory("graft-append-seed").toString
    def files() = ManifestTable.snapshotFor(t, None).files
    ManifestTable.commit(spark.range(0L, 10L, 1L, 2).toDF("k"), t,
      append = false)
    assert(ManifestTable.read(spark, t).columns.toSeq == Seq("k"))
    val first = files()
    ManifestTable.commit(spark.range(10L, 20L, 1L, 2).toDF("k"), t,
      append = true)
    val second = files().diff(first)
    ManifestTable.commit(spark.range(20L, 30L, 1L, 2)
      .select($"id".as("k"), ($"id" * 2L).as("x")), t, append = true)
    // the first two commits' footers are no longer needed: unreadable
    (first ++ second).foreach(f => Files.write(
      java.nio.file.Paths.get(t, f), Array[Byte](1, 2, 3)))
    assert(ManifestTable.read(spark, t).schema == StructType(Seq(
      StructField("k", LongType), StructField("x", LongType))))
    assert(ManifestTable.cachedSchema(t, 3L).isDefined)
  }

  test("a many-file read plans through the manifest scan: building " +
      "read and readPruned of 600- and 10,000-file tables starts no " +
      "job, and the 600-file read packs like spark.read.parquet and " +
      "returns its rows with and without DVs") {
    import graft.sources.ManifestTable
    val t = Files.createTempDirectory("graft-600").toString
    ManifestTable.commitWithStats(spark.range(0L, 24000L, 1L, 600)
      .select($"id".as("k"), ($"id" % 7L).as("v")), t, append = false, "k")
    def paths(table: String) = ManifestTable.snapshotFor(table, None).files
      .map(f => java.nio.file.Paths.get(table, f).toString)
    assert(paths(t).size == 600)
    val (frames, jobs) = jobsOf(Seq(ManifestTable.read(spark, t),
      ManifestTable.readPruned(spark, t, "k", 100L, 5000L)._1,
      ManifestTable.readChanges(spark, t, 1L)._1))
    assert(jobs == 0, s"building the 600-file reads started $jobs jobs")
    val parquet = spark.read.parquet(paths(t): _*)
    assert(frames.head.rdd.getNumPartitions ==
      parquet.rdd.getNumPartitions)
    assert(frames.head.rdd.getNumPartitions < 600)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(sorted(frames.head) == sorted(parquet))
    assert(sorted(frames(1)) == sorted(parquet.filter($"k".between(100L,
      5000L))))
    // DVs on 12 files: the packed read masks each file's own rows
    ManifestTable.deleteRangeDv(spark, t, "k", 400L, 880L,
      dvMaxFraction = 1.0)
    val dvd = ManifestTable.snapshotFor(t, None).dvs.count(_._2.nonEmpty)
    assert(dvd >= 12, dvd)
    assert(sorted(ManifestTable.read(spark, t)) ==
      sorted(parquet.filter(!$"k".between(400L, 880L))))
    // 10,000 files: one small data file hard-linked under 10,000 names
    // and a manifest that lists the links
    val big = Files.createTempDirectory("graft-10k").toString
    val src = java.nio.file.Paths.get(paths(t).head)
    val links = (0 until 10000).map { i =>
      val dir = java.nio.file.Paths.get(big, "data", s"l${i / 1000}")
      Files.createDirectories(dir)
      Files.createLink(dir.resolve(s"f$i.parquet"), src)
      s"data/l${i / 1000}/f$i.parquet"
    }
    // and manifests that list the first half, then all of them
    Files.createDirectories(java.nio.file.Paths.get(big, "_manifests"))
    Files.write(java.nio.file.Paths.get(big, "_manifests", "v1"),
      links.take(5000).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(big, "_manifests", "v2"),
      links.mkString("", "\n", "\n").getBytes("UTF-8"))
    val (bigFrames, bigJobs) = jobsOf(Seq(ManifestTable.read(spark, big),
      ManifestTable.readPruned(spark, big, "k", 0L, 10L)._1,
      ManifestTable.readChanges(spark, big, 1L)._1))
    assert(bigJobs == 0,
      s"building the 10,000-file reads started $bigJobs jobs")
    assert(bigFrames.forall(_.columns.toSeq == Seq("k", "v")))
    assert(ManifestScanFiles(bigFrames(2)).size == 5000)
  }

  test("rows are identified by manifest path: two live files sharing a " +
      "basename keep their own deletion vectors through readChanges, " +
      "DV DELETE and MERGE, and OPTIMIZE, and a table column named " +
      "like a row id is refused") {
    import graft.sources.ManifestTable
    // one parquet file of (k, v) rows in position order, copied to
    // `rel` under `table`
    def place(table: String, rel: String, ks: Seq[Long], tag: String): Unit = {
      val tmp = Files.createTempDirectory("graft-basename-src")
        .resolve("w").toString
      ks.map(k => (k, s"$tag$k")).toDF("k", "v").coalesce(1)
        .write.parquet(tmp)
      val st = Files.list(java.nio.file.Paths.get(tmp))
      val part = try scala.jdk.CollectionConverters.IteratorHasAsScala(
          st.iterator()).asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
        finally st.close()
      val dst = java.nio.file.Paths.get(table, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(part, dst)
    }
    // v1 lists data/c/part.parquet; v2 lists data/a/part.parquet (k
    // 1..10, positions 0 and 1 deleted) and data/b/part.parquet (k
    // 11..20): every file shares one basename
    def mk(): String = {
      val t = Files.createTempDirectory("graft-basename").toString
      place(t, "data/c/part.parquet", Seq(100L), "c")
      place(t, "data/a/part.parquet", 1L to 10L, "a")
      place(t, "data/b/part.parquet", 11L to 20L, "b")
      val m = java.nio.file.Paths.get(t, "_manifests")
      Files.createDirectories(m)
      Files.write(m.resolve("v1"), "data/c/part.parquet\n".getBytes("UTF-8"))
      Files.write(m.resolve("v2"), Seq("#dv=data/a/part.parquet|0,1",
          "data/a/part.parquet", "data/b/part.parquet")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      t
    }
    val model: Map[Long, String] =
      ((3L to 10L).map(k => k -> s"a$k") ++
        (11L to 20L).map(k => k -> s"b$k")).toMap
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("k", "v").as[(Long, String)].collect().toSeq.sorted
    def current(t: String) = rows(ManifestTable.read(spark, t))
    // the change feed v1 -> v2: both files are added, each under its
    // own vector
    val feed = mk()
    val (changes, added) = ManifestTable.readChanges(spark, feed, 1L)
    // a DV DELETE of a key of data/a
    val del = mk()
    val (_, dRw, dDv, _) = ManifestTable.deleteRangeDv(spark, del, "k",
      5L, 5L, dvMaxFraction = 0.5)
    // a DV MERGE of a key of data/a
    val mer = mk()
    val (_, mRw, mDv, _) = ManifestTable.mergeByKeyDv(spark, mer,
      Seq((6L, "new6")).toDF("k", "v"), "k", dvMaxFraction = 0.5)
    // OPTIMIZE rewrites both files through their own vectors
    val cp = mk()
    ManifestTable.compact(spark, cp, Long.MaxValue / 2)
    def dvs(t: String) = ManifestTable.snapshotFor(t, None).dvs
      .filter(_._2.nonEmpty)
    val got = Map(
      "readChanges" -> ((added, rows(changes))),
      "deleteRangeDv" -> ((dRw, dDv, dvs(del), current(del))),
      "mergeByKeyDv" -> ((mRw, mDv, dvs(mer), current(mer))),
      "compact" -> ((dvs(cp), current(cp))))
    val want = Map(
      "readChanges" -> ((2, model.toSeq.sorted)),
      "deleteRangeDv" -> ((0, 1,
        Map("data/a/part.parquet" -> Seq(0L, 1L, 4L)),
        (model - 5L).toSeq.sorted)),
      "mergeByKeyDv" -> ((0, 1,
        Map("data/a/part.parquet" -> Seq(0L, 1L, 5L)),
        model.updated(6L, "new6").toSeq.sorted)),
      "compact" -> ((Map.empty[String, Seq[Long]], model.toSeq.sorted)))
    val wrong = want.keys.toSeq.sorted.filter(k => got(k) != want(k))
    assert(wrong.isEmpty,
      wrong.map(k => s"$k: ${got(k)} != ${want(k)}").mkString("\n"))
    // a table column named like a row id would shadow the scan's
    // row ids: every scan that keys on them refuses it
    val named = Files.createTempDirectory("graft-rowid-name").toString
    ManifestTable.commitWithStats(spark.range(0L, 40L, 1L, 2)
        .select($"id".as("k"), ($"id" * 2L).as("_graft_pos")),
      named, append = false, "k")
    Seq[() => Any](
      () => ManifestTable.deleteRangeDv(spark, named, "k", 3L, 3L,
        dvMaxFraction = 0.5),
      () => ManifestTable.mergeByKeyDv(spark, named,
        Seq((3L, 9L)).toDF("k", "_graft_pos"), "k", dvMaxFraction = 0.5),
      () => ManifestTable.compact(spark, named, Long.MaxValue / 2)
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("_graft_pos"), e.getMessage)
    }
    assert(ManifestTable.versions(named) == Seq(1L))
  }

  test("every ManifestTable scan plans through the graft-manifest scan: " +
      "the change feed, DELETE, MERGE, the delta fallback and every " +
      "OPTIMIZE execute no file-source scan and no _metadata column") {
    import graft.sources.{ManifestScan, ManifestTable}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
      SparkPlan}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans
        extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    // 4 range-sliced files, k 1..400, zones and counts on k
    def seeded(): String = {
      val t = Files.createTempDirectory("graft-one-path").toString
      ManifestTable.commitWithStats(spark.range(1L, 401L, 1L, 4)
          .select($"id".as("k"), ($"id" % 5L).as("g")),
        t, append = false, "k")
      t
    }
    // the plans `op` executed: none scans a file source or reads
    // `_metadata`, every V2 scan is the manifest scan, and (unless the
    // op reads its table only through a checkpoint) one plan has one
    def check(what: String, scans: Boolean = true)(op: => Any): Unit = {
      plans.clear()
      jobsOf(op) // drains the listener bus: every plan is delivered
      val seen = scala.jdk.CollectionConverters.IteratorHasAsScala(
        plans.iterator()).asScala.toSeq
      assert(seen.nonEmpty, s"$what executed no plan")
      seen.foreach { p =>
        assert(Plans.collectWithSubqueries(p) {
          case f: FileSourceScanExec => f }.isEmpty, s"$what:\n$p")
        assert(!p.toString.contains("_metadata"), s"$what:\n$p")
        assert(Plans.collectWithSubqueries(p) { case b: BatchScanExec => b }
          .forall(_.scan.isInstanceOf[ManifestScan]), s"$what:\n$p")
      }
      assert(!scans || seen.exists(p => Plans.collectWithSubqueries(p) {
        case b: BatchScanExec => b }.nonEmpty), s"$what: no manifest scan")
    }
    spark.listenerManager.register(listener)
    try {
      check("deleteRangeDv DV")(ManifestTable.deleteRangeDv(spark,
        seeded(), "k", 150L, 152L, dvMaxFraction = 0.5))
      check("deleteRangeDv copy-on-write")(ManifestTable.deleteRangeDv(
        spark, seeded(), "k", 150L, 250L, dvMaxFraction = 0.0))
      check("deleteRangeDv full purge")(ManifestTable.deleteRangeDv(spark,
        seeded(), "k", 0L, 1000L, dvMaxFraction = 0.0))
      val upd = Seq((5L, 9L), (150L, 9L), (1000L, 9L)).toDF("k", "g")
      check("mergeByKeyDv DV")(ManifestTable.mergeByKeyDv(spark,
        seeded(), upd, "k", dvMaxFraction = 0.5))
      // the copy-on-write MERGE reads its inputs through a lazy
      // checkpoint of their scan, so no executed plan shows the scan
      check("mergeByKeyDv copy-on-write", scans = false)(
        ManifestTable.mergeByKeyDv(spark, seeded(), upd, "k",
          dvMaxFraction = 0.0))
      val dl = seeded()
      val dlf = ManifestTable.snapshotFor(dl, None).files
      check("applyDeltaCommit fallback") {
        val (_, _, rw) = ManifestTable.applyDeltaCommit(spark, dl,
          Map(dlf(1) -> (0L until 60L)), Seq.empty, Map.empty, Map.empty,
          Map.empty, Map.empty, Map.empty, dvMaxFraction = 0.5)
        assert(rw == 1)
      }
      val cp = seeded()
      ManifestTable.deleteRangeDv(spark, cp, "k", 10L, 12L,
        dvMaxFraction = 0.5)
      check("compact with a DV group")(
        ManifestTable.compact(spark, cp, Long.MaxValue / 2))
      val pt = Files.createTempDirectory("graft-one-path-part").toString
      for (c <- 0 to 1)
        (1L to 90L).map(i => (i + 90 * c, i % 3)).toDF("k", "bucket")
          .coalesce(1).write.format("graft-manifest").option("path", pt)
          .option("partitionColumns", "bucket").option("statsColumns", "k")
          .mode("append").save()
      check("compactPartition")(ManifestTable.compactPartition(spark, pt,
        Long.MaxValue / 2, "bucket", 0L))
      check("compactClustered")(ManifestTable.compactClustered(spark,
        seeded(), Long.MaxValue / 2, Seq("k", "g")))
      val ch = seeded()
      ManifestTable.commit(spark.range(500L, 520L).select($"id".as("k"),
        lit(1L).as("g")), ch, append = true)
      check("readChanges")(
        ManifestTable.readChanges(spark, ch, 1L)._1.collect())
    } finally spark.listenerManager.unregister(listener)
  }

  test("a graft-manifest write of a non-flat frame is refused while " +
      "it is planned: no Spark job starts and nothing is staged") {
    val table = Files.createTempDirectory("graft-nonflat").toString
    val frame = Seq((1L, Seq("a", "b")), (2L, Seq("c"))).toDF("k", "arr")
    val (err, jobs) = jobsOf(intercept[Exception](
      frame.write.format("graft-manifest").option("path", table)
        .mode("append").save()))
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains("writes flat relational rows")),
      messages.mkString("\n"))
    assert(jobs == 0, s"$jobs Spark jobs started")
    val data = java.nio.file.Paths.get(table, "data")
    val staged = if (!Files.exists(data)) 0L
      else { val w = Files.walk(data)
        try w.filter(Files.isRegularFile(_)).count() finally w.close() }
    assert(staged == 0L, s"$staged files staged under $data")
  }

  test("concurrent query legs: the first failure cancels the " +
      "sibling's running job and is rethrown") {
    import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val leftJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val leftEnd = scala.concurrent.Promise[JobResult]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-legspec-left-"))) {
          leftJob.set(j.jobId); started.countDown()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == leftJob.get) leftEnd.trySuccess(j.jobResult)
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val err = intercept[IllegalStateException](
        graft.queries.concurrentLegs(spark, "legspec")(
          // a long job that ends early only when its tasks are killed
          sc.parallelize(1 to 2, 2).map { x =>
            val ctx = org.apache.spark.TaskContext.get()
            val end = System.nanoTime() + 120L * 1000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < end)
              Thread.sleep(20)
            x
          }.count(),
          {
            assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
            throw new IllegalStateException("right leg failed")
          }))
      assert(err.getMessage == "right leg failed")
      val result = scala.concurrent.Await.result(leftEnd.future,
        scala.concurrent.duration.Duration(60, "s"))
      result match {
        case JobFailed(e) => assert(
          String.valueOf(e.getMessage).contains("cancelled"), e.getMessage)
        case other => fail(s"the sibling's job ended as $other")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 100, s"the legs took $secs s")
    } finally sc.removeSparkListener(listener)
  }
}
