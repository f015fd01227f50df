package graft.queries

import org.apache.spark.sql.functions._
import graft.pipelines.{Attributes, Importer}
import graft.sources.Sources

/** End-to-end pipeline [Q] inventory: the §7.2 importer slice over the
  * committed CSV fixture (S1/S2/P1/W1/W2/J11/M1 in one pass, golden
  * values hand-computed into VALUES oracles), the §3.2 attribute
  * dictionary pipeline (G1+A10+M2, oracle-parsed from the same
  * synthesized input), and the S5 binary scan.
  */
object Pipelines {

  // committed fixtures, resolved against the working directory (sbt
  // and the driver both run from the repo root) — no checkout path
  private[queries] def fixture(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.toString
  private val RawCsv = fixture("fixtures/raw_products.csv")
  private val MapCsv = fixture("fixtures/map.csv")
  private val MediaDir = fixture("fixtures/media")

  /** The imported fixture tables, built ONCE per session and shared
    * by the twelve q_e2e_import / q_audit consumers — the same
    * materialized-intermediate discipline as `queries.materialized`
    * (a production load writes its tables once). The importer already
    * parses the raw CSV once into its checkpointed base; checkpointing
    * each table as well keeps the consumers, the FK audit's 10-branch
    * union among them, from re-running the per-table derivations (the
    * J11 broadcast join, the dictionary DISTINCTs) on every query. */
  private val importedCache = scala.collection.concurrent.TrieMap
    .empty[String, graft.pipelines.Importer.Tables]
  private def imported(
      s: org.apache.spark.sql.SparkSession): graft.pipelines.Importer.Tables =
    importedCache.getOrElseUpdate(s.sparkContext.applicationId, {
      val t = Importer.run(s, RawCsv, MapCsv)
      graft.pipelines.Importer.Tables(
        t.collections.localCheckpoint(eager = false),
        t.products.localCheckpoint(eager = false),
        t.categories.localCheckpoint(eager = false),
        t.collectionCategory.localCheckpoint(eager = false),
        t.collectionTranslations.localCheckpoint(eager = false),
        t.detailsHtml.localCheckpoint(eager = false),
        t.collectionDetailsHtml.localCheckpoint(eager = false),
        t.imgArrays.localCheckpoint(eager = false),
        t.collectionImgArray.localCheckpoint(eager = false),
        t.langs.localCheckpoint(eager = false),
        t.sources.localCheckpoint(eager = false),
        t.sourceTranslations.localCheckpoint(eager = false),
        t.categoryTranslations.localCheckpoint(eager = false),
        t.detailsHtmlTranslations.localCheckpoint(eager = false))
    })

  // ---- S17 write-path probe, shared by the INSERT (q_s17_pg_write)
  // and COPY (q_s17_pg_copy) gradings: same rows, same DDL shape,
  // same read-back projection, same VALUES oracle.

  private def pgProbeDdl(table: String): String =
    s"""DROP TABLE IF EXISTS $table;
       |CREATE TABLE $table (
       |  id bigint, uid uuid, tags text[], ts timestamptz,
       |  ts_naive timestamp, price numeric, note text);""".stripMargin

  private def pgProbeFrame(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("uid", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("ts", TimestampType),
      StructField("ts_naive", TimestampType),
      StructField("price", StringType), StructField("note", StringType)))
    def ts(iso: String) = java.sql.Timestamp
      .from(java.time.Instant.parse(iso))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L,
        "00000000-0000-4000-8000-000000000011",
        Seq("alpha", "b c", null), ts("2026-01-02T03:04:05.123456Z"),
        ts("2026-01-02T03:04:05.123456Z"), "12345.6789",
        "o'brien \\ path"),
      org.apache.spark.sql.Row(2L,
        "00000000-0000-4000-8000-000000000012",
        Seq.empty[String], ts("2026-02-03T00:00:00Z"),
        ts("2026-02-03T00:00:01Z"), "-0.01", "华为 — dash"),
      org.apache.spark.sql.Row(3L, null, null, null, null, null, null))
    s.createDataFrame(rows, schema)
  }

  private def pgProbeReadBack(s: org.apache.spark.sql.SparkSession,
      h: String, p: Int, table: String): org.apache.spark.sql.DataFrame =
    graft.sources.PgWire.readTable(s, h, p, "graft", "postgres",
        s"SELECT id, uid, tags, ts, ts_naive, price, note " +
          s"FROM $table ORDER BY id")
      .select(col("id"), col("uid"),
        array_join(col("tags"), "|", "?").as("tags"),
        epochUs(col("ts")).as("ts_us"),
        epochUs(col("ts_naive")).as("ts_naive_us"),
        col("price"), col("note"))
      .orderBy("id")

  private val pgProbeOracle =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), '00000000-0000-4000-8000-000000000011',
      |   'alpha|b c|?',
      |   epoch_us(TIMESTAMP '2026-01-02 03:04:05.123456'),
      |   epoch_us(TIMESTAMP '2026-01-02 03:04:05.123456'),
      |   '12345.6789', 'o''brien \ path'),
      |  (CAST(2 AS BIGINT), '00000000-0000-4000-8000-000000000012',
      |   '', epoch_us(TIMESTAMP '2026-02-03 00:00:00'),
      |   epoch_us(TIMESTAMP '2026-02-03 00:00:01'), '-0.01',
      |   '华为 — dash'),
      |  (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
      |   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR)))
      |  AS t(id, uid, tags, ts_us, ts_naive_us, price, note)
      |ORDER BY id""".stripMargin

  /** Synthesized raw attribute string shared with the oracle (same
    * shape as q_f3_g1_attribute_pairs). */
  private def rawAttrs = concat(lit("brand:"), col("source"),
    lit(";size:"), col("n_chars").cast("string"),
    lit("-color:"), col("lang"), lit(";品牌:华为-x"))

  private val rawAttrsSql =
    "concat('brand:', source, ';size:', n_chars, '-color:', lang, ';品牌:华为-x')"

  private val pairsCte =
    s"""WITH raw AS (SELECT doc_id, $rawAttrsSql AS r FROM documents),
       |segs AS (SELECT doc_id,
       |  unnest(flatten(list_transform(string_split(r, '-'),
       |    s -> string_split(s, ';')))) AS seg FROM raw),
       |pairs AS (SELECT doc_id,
       |  trim(string_split(seg, ':')[1]) AS attr_key,
       |  trim(array_to_string(string_split(seg, ':')[2:], ':')) AS attr_value
       |  FROM segs WHERE strpos(seg, ':') > 0)
       |""".stripMargin

  val all: Seq[Q] = Seq(

    // S1/S2: raw CSV + mapping CSV readability and shape.
    Q("q_s1_csv_shape",
      """SELECT CAST(8 AS BIGINT) AS n_rows, CAST(7 AS BIGINT) AS n_master,
        |  CAST(10 AS BIGINT) AS n_cols""".stripMargin) { (s, _) =>
      val raw = Importer.loadRaw(s, RawCsv)
      raw.agg(count(lit(1)).as("n_rows"),
        count(col("Master Code")).as("n_master"),
        lit(raw.columns.length.toLong).as("n_cols"))
    },

    // S3: the Excel ingest path, dependency-free (xlsx = zip of XML;
    // JDK ZipInputStream + StAX) — the one reference entry previously
    // declared out-of-scope. Shared strings (incl. CJK), an inlineStr
    // cell, number cells, and sparse rows all live in the committed
    // fixture; absent cells must read as NULL like the CSV path.
    Q("q_s3_xlsx",
      """SELECT * FROM (VALUES
        |  ('M001-A.0', 'M001', 'Chairs'),
        |  ('M001-B', 'M001', 'Chairs'),
        |  ('M001-C', 'M001', CAST(NULL AS VARCHAR)),
        |  ('M002-A', 'M002', 'Tables'),
        |  ('M002-B', 'M002', 'Tables'),
        |  ('M002-C.0', 'M002', 'Tables'),
        |  ('M003-A', 'M003', 'Lighting'),
        |  ('SKIP-1', CAST(NULL AS VARCHAR), 'Misc'))
        |  AS t(sku, master_code, category)
        |ORDER BY sku""".stripMargin) { (s, _) =>
      graft.sources.Xlsx.xlsx(s, fixture("fixtures"))
        .select(col("Product SKU").as("sku"),
          col("Master Code").as("master_code"),
          col("Category").as("category"))
        .orderBy("sku")
    },

    // S12: PDF render sink — each row's details HTML renders to a
    // paginated text-layer PDF inside its executor task (the
    // reference's driver-side Chromium loop, pupeeter.py:25-54, made
    // data-parallel); the graded surface is the durable manifest.
    // Page counts are deterministic (fixed A4 line budget); byte
    // sizes are asserted >0 rather than pinned so a rendering tweak
    // is a code change, not an oracle change.
    Q("q_s12_pdf_render",
      """SELECT * FROM (VALUES
        |  ('M001', 1, TRUE), ('M002', 1, TRUE))
        |  AS t(master_code, pages, has_bytes)
        |ORDER BY master_code""".stripMargin) { (s, _) =>
      val raw = Importer.loadRaw(s, RawCsv)
        .filter(col("Details HTML").isNotNull &&
          col("Master Code").isNotNull)
        .select(col("Master Code").as("master_code"),
          col("Details HTML").as("html"))
      val out = java.nio.file.Paths.get(
        workDir("graft-pdf-q"), "pdf").toString
      graft.sources.Sinks.renderPdf(raw, "master_code", "html", out)
        .select(col("name").as("master_code"), col("pages"),
          (col("bytes") > 0).as("has_bytes"))
        .orderBy("master_code")
    },

    // S14: ORC round-trip — write the documents table as ORC, read it
    // back through the ORC FileScan, aggregate. The oracle computes
    // the same aggregate from the source parquet: a format hop must
    // never change a value. (ORC is the warehouse-interchange format
    // a Hive/Trino neighbor reads natively.)
    Q("q_s14_orc_roundtrip",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
      val out = java.nio.file.Paths.get(
        workDir("graft-orc-q"), "docs").toString
      graft.sources.Sinks.writeOrc(t(s, d, "documents"), out)
      graft.sources.Sources.orc(s, out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .orderBy("lang")
    },

    // S15: JSON-lines round-trip with an EXPLICIT read schema —
    // instants travel as epoch micros (JSON has no timestamp type),
    // doubles survive via shortest-round-trip text. Oracle from the
    // source parquet: the interchange hop is value-exact.
    Q("q_s15_jsonl_roundtrip",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |    AS price_floor,
        |  max(epoch_us(o_orderdate)) AS max_us
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) {
      (s, d) =>
      val out = java.nio.file.Paths.get(
        workDir("graft-jsonl-q"), "orders").toString
      graft.sources.Sinks.writeJsonl(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), epochUs(col("o_orderdate")).as("o_us")),
        out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_orderstatus",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_us",
          org.apache.spark.sql.types.LongType)))
      graft.sources.Sources.jsonl(s, out, schema)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice")).cast("long")).as("price_floor"),
          max(col("o_us")).as("max_us"))
        .orderBy("o_orderstatus")
    },

    // S16: schema evolution ON READ — batch 1 was written before the
    // o_orderpriority column existed; batch 2 added it. mergeSchema
    // reads both as one frame with the old batch's column as NULL —
    // the read half of M7's write-side evolution contract.
    Q("q_s16_schema_merge",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(o_orderpriority) AS BIGINT) AS with_priority
        |FROM (
        |  SELECT o_orderstatus, CAST(NULL AS VARCHAR) AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 1) u
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val dir = workDir("graft-evolve-q")
      val orders = t(s, d, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus")
        .write.parquet(s"$dir/batch=1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.parquet(s"$dir/batch=2")
      graft.sources.Sources.parquetEvolving(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("o_orderpriority")).as("with_priority"))
        .orderBy("o_orderstatus")
    },

    // S17: LIVE PostgreSQL round trip over the dependency-free wire
    // client — the real-server validation of the S4 jdbc seam's
    // dialect mapping the round-6 verdict flagged (no pg JDBC jar in
    // this sandbox; the protocol client replaces it, the embedded
    // server plays the reference's PostgreSQL). The probe table
    // carries exactly the reference DDL's awkward types: uuid,
    // text[] (incl. an embedded NULL element, a quoted space, an
    // empty array, and a NULL array), timestamptz, numeric.
    Q("q_s17_pg_wire",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), '00000000-0000-4000-8000-000000000001',
        |   'alpha|b c|?',
        |   epoch_us(TIMESTAMP '2026-01-02 03:04:05.123456'),
        |   '12345.6789'),
        |  (CAST(2 AS BIGINT), '00000000-0000-4000-8000-000000000002',
        |   '', epoch_us(TIMESTAMP '2026-02-03 00:00:00'), '-0.01'),
        |  (CAST(3 AS BIGINT), '00000000-0000-4000-8000-000000000003',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |   CAST(NULL AS VARCHAR)))
        |  AS t(id, uid, tags, ts_us, price) ORDER BY id""".stripMargin) {
      (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      graft.sources.PgWire.query(h, p, "graft", "postgres",
        """DROP TABLE IF EXISTS graft_pg_probe;
          |CREATE TABLE graft_pg_probe (
          |  id bigint, uid uuid, tags text[], ts timestamptz,
          |  price numeric);
          |INSERT INTO graft_pg_probe VALUES
          |  (1, '00000000-0000-4000-8000-000000000001',
          |   ARRAY['alpha','b c',NULL],
          |   '2026-01-02 03:04:05.123456+00', 12345.6789),
          |  (2, '00000000-0000-4000-8000-000000000002',
          |   ARRAY[]::text[], '2026-02-03 00:00:00+00', -0.01),
          |  (3, '00000000-0000-4000-8000-000000000003',
          |   NULL, NULL, NULL);""".stripMargin)
      graft.sources.PgWire.readTable(s, h, p, "graft", "postgres",
          "SELECT id, uid, tags, ts, price FROM graft_pg_probe " +
            "ORDER BY id")
        .select(col("id"), col("uid"),
          array_join(col("tags"), "|", "?").as("tags"),
          epochUs(col("ts")).as("ts_us"), col("price"))
        .orderBy("id")
    },

    // S6: LIVE HTTP fetch through the real transport — a loopback
    // server plays the reference's image CDN; every fifth URL is a
    // transient-503 endpoint that Remote's retry must recover (the
    // body then matches the healthy one, so a green hash PROVES the
    // retry fired — a failed retry surfaces as an error, a skipped
    // one as a missing row).
    Q("q_s6_http_fetch",
      """SELECT doc_id, concat('doc ', doc_id, ' payload') AS body
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
      val port = graft.sources.HttpFixture.port
      val urls = t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          concat(lit(s"http://127.0.0.1:$port/"),
            when(col("doc_id") % 5 === 0, "flaky/").otherwise("doc/"),
            col("doc_id").cast("string")).as("url"))
      graft.sources.Sources.httpFetch(urls, "url",
          graft.sources.Sources.httpGet,
          attempts = 3, backoffMs = 20, minIntervalMs = 0)
        .select("doc_id", "body").orderBy("doc_id")
    },

    // S6-bytes: the reference's ACTUAL payload — image BYTES over the
    // live transport (utils/product_collection_img_array_processor
    // .py:55-68 writes response.content verbatim). The loopback CDN
    // serves the committed JFIF fixture; every fourth URL is a
    // transient-503 endpoint, so a green hash proves (a) the bytes
    // survived the wire unmangled (sha-256 of a payload that is NOT
    // valid UTF-8 — a text decode would corrupt it), (b) the binary
    // retry fired, and (c) the native SOFn walk reads the fetched
    // bytes. Oracle constants are the fixture's pinned facts
    // (723 bytes, sha256 9c7d…, SOF0 31×17).
    Q("q_s6_http_fetch_bytes",
      """SELECT doc_id, CAST(723 AS BIGINT) AS n_bytes,
        |  '9c7da228a03cbc5308274f79d472d1537acc00e17597bb00a0972321a30bf145'
        |    AS digest,
        |  CAST(31 AS BIGINT) AS width, CAST(17 AS BIGINT) AS height
        |FROM documents WHERE doc_id < 12 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
      val port = graft.sources.HttpFixture.port
      val urls = t(s, d, "documents").filter(col("doc_id") < 12)
        .select(col("doc_id"),
          concat(lit(s"http://127.0.0.1:$port/"),
            when(col("doc_id") % 4 === 0, "imgflaky/").otherwise("img/"),
            col("doc_id").cast("string")).as("url"))
      val dims = call_function("graft_jpeg_dims", col("body"))
      graft.sources.Sources.httpFetchBytes(urls, "url",
          graft.sources.Sources.httpGetBytes,
          attempts = 3, backoffMs = 20, minIntervalMs = 0)
        .select(col("doc_id"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          sha2(col("body"), 256).as("digest"),
          element_at(dims, 1).as("width"),
          element_at(dims, 2).as("height"))
        .orderBy("doc_id")
    },

    // U5-live: OCR over the wire — the last §2.10 service carried
    // onto a real transport. Image BYTES post per row (octet-stream)
    // to a backend implementing ocrStub's deterministic bytes→tokens
    // transform (UTF-8 payload, first 6 space-split tokens), so the
    // stub's oracle grades the live upload path; the endpoint 503s
    // its first hit, so the green hash also proves the retry fired
    // on the POST path. Partition-scoped client (one connection +
    // pacing bucket per partition).
    Q("q_u5_ocr_http",
      """SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:6], ' ')
        |    AS ocr_text
        |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
      val port = graft.sources.HttpFixture.port
      graft.operators.Services.ocrHttp(
          t(s, d, "documents").filter(col("doc_id") < 80)
            .select(col("doc_id"), col("text").cast("binary").as("img")),
          "img", s"http://127.0.0.1:$port/ocrflaky", maxTokens = 6,
          backoffMs = 20)
        .select(col("doc_id"), col("ocr_text"))
        .orderBy("doc_id")
    },

    // S17-write: the reference's LOAD layer against the live engine —
    // parquet-shaped rows written over the wire (executor-side
    // batched INSERTs, one connection per partition) and read back
    // through the same dialect. The probe rows carry the awkward
    // cases: quote + backslash in text, CJK, a NULL array element, a
    // quoted-space element, an empty array, an all-NULL row, both
    // timestamp flavors (timestamptz AND timestamp-without-tz — the
    // oid-1114 decode), and exact numerics.
    Q("q_s17_pg_write", pgProbeOracle) { (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      graft.sources.PgWire.query(h, p, "graft", "postgres",
        pgProbeDdl("graft_pg_sink"))
      // two partitions: the write path is the executor-side one (one
      // connection per task), not a driver loop
      graft.sources.PgWire.writeTable(pgProbeFrame(s).repartition(2),
        h, p, "graft", "postgres", "graft_pg_sink", batchRows = 2)
      pgProbeReadBack(s, h, p, "graft_pg_sink")
    },

    // S17-copy: the same probe through COPY … FROM STDIN — the bulk
    // fast path (one streaming transfer per partition, no per-batch
    // statement parse). A green hash proves the COPY text-format
    // encoding survives everything the INSERT dialect does: the
    // element-quoting array grammar, backslash/quote escaping, CJK,
    // NULL vs empty, both timestamp flavors.
    Q("q_s17_pg_copy", pgProbeOracle) { (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      graft.sources.PgWire.query(h, p, "graft", "postgres",
        pgProbeDdl("graft_pg_copy"))
      graft.sources.PgWire.writeTableCopy(pgProbeFrame(s).repartition(2),
        h, p, "graft", "postgres", "graft_pg_copy")
      pgProbeReadBack(s, h, p, "graft_pg_copy")
    },

    // S17-dsv2: the pg seam as a PLANNER CITIZEN — a DataSourceV2
    // `format("graft-pg")` scan whose column pruning and filter
    // pushdown compile into the server-side SQL (the scan description
    // in `.explain` carries it verbatim), partitioned into mod-N
    // slices that each stream off their own connection. The graded
    // rows prove the full loop: seed over the wire, plan through
    // Catalyst, push `k BETWEEN`, prune to (k, v), read back typed.
    Q("q_s17_pg_dsv2",
      """SELECT CAST(g AS BIGINT) AS k, concat('v', g) AS v
        |FROM range(10, 20) t(g) ORDER BY k""".stripMargin) { (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      graft.sources.PgWire.query(h, p, "graft", "postgres",
        "DROP TABLE IF EXISTS dsv2_q; " +
          "CREATE TABLE dsv2_q (k bigint, v text, pad text); " +
          "INSERT INTO dsv2_q SELECT g, 'v' || g, repeat('x', 20) " +
          "FROM generate_series(0, 99) g;")
      s.read.format("graft-pg")
        .option("host", h).option("port", p.toString)
        .option("user", "graft").option("database", "postgres")
        .option("table", "dsv2_q")
        .option("partitionColumn", "k").option("numPartitions", "4")
        .load()
        .filter(col("k") >= 10 && col("k") <= 19)
        .select("k", "v")
        .orderBy("k")
    },

    // S17-v2w: the DSv2 WRITE half — df.write.format("graft-pg") maps
    // Spark's DataWriter commit/abort contract onto per-task pg
    // transactions (commit = COMMIT, abort = disconnect-rollback).
    // Same probe rows, same oracle: the three write paths (INSERT,
    // COPY helper, DSv2 writer) must be indistinguishable on read.
    Q("q_s17_pg_v2write", pgProbeOracle) { (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      graft.sources.PgWire.query(h, p, "graft", "postgres",
        pgProbeDdl("graft_pg_v2"))
      pgProbeFrame(s).repartition(2).write.format("graft-pg")
        .option("host", h).option("port", p.toString)
        .option("user", "graft").option("database", "postgres")
        .option("table", "graft_pg_v2")
        .mode("append").save()
      pgProbeReadBack(s, h, p, "graft_pg_v2")
    },

    // S17-agg: aggregate pushdown through the DSv2 source — COUNT /
    // MIN / MAX / SUM(float8) + GROUP BY compile into the per-slice
    // server SQL (each mod-N slice returns its partial aggregates;
    // Spark merges), so a grouped rollup of a table ships one row per
    // (slice, group) instead of the table. d = g * 0.25 is exact in
    // binary, so the double sum is bit-stable on every engine.
    // SUM(bigint) declines by design (a per-slice numeric partial can
    // overflow the int64 cast server-side where the unpushed merge
    // succeeds), so the bigint rollup here rides the exact double sum.
    Q("q_s17_pg_agg",
      """SELECT CAST(g % 5 AS BIGINT) AS g,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(g) AS BIGINT) AS mn,
        |  CAST(max(g) AS BIGINT) AS mx,
        |  CAST(sum(g * 0.25) AS DOUBLE) AS sd
        |FROM range(0, 200) t(g) GROUP BY 1 ORDER BY g""".stripMargin) {
      (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      graft.sources.PgWire.query(h, p, "graft", "postgres",
        "DROP TABLE IF EXISTS agg_q; " +
          "CREATE TABLE agg_q (g bigint, x bigint, d double precision); " +
          "INSERT INTO agg_q SELECT g % 5, g, g * 0.25 " +
          "FROM generate_series(0, 199) g;")
      s.read.format("graft-pg")
        .option("host", h).option("port", p.toString)
        .option("user", "graft").option("database", "postgres")
        .option("table", "agg_q")
        .option("partitionColumn", "x").option("numPartitions", "3")
        .load()
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("mn"), max(col("x")).as("mx"),
          sum(col("d")).as("sd"))
        .orderBy("g")
    },

    // S17-auth: SCRAM-SHA-256 against the live server — the embedded
    // pg forces this role through a first-match pg_hba scram rule, so
    // a green row proves the full RFC 7677 exchange (PBKDF2 proof +
    // verified server signature), not trust fallthrough. Real
    // deployments don't run trust auth; this closes the gap between
    // "works against the harness" and "works against a production pg".
    Q("q_s17_pg_scram",
      """SELECT CAST(1 AS BIGINT) AS id, 'scram ok' AS note
        |ORDER BY id""".stripMargin) { (s, _) =>
      val (h, p) = graft.sources.PgServer.hostPort
      val (user, pass) = graft.sources.PgServer.scramUser
      graft.sources.PgWire.readTable(s, h, p, user, "postgres",
          "SELECT CAST(1 AS bigint) AS id, 'scram ok' AS note",
          password = Some(pass))
        .orderBy("id")
    },

    // §7.2 E2E slice, audit output: products per collection top-k.
    Q("q_e2e_import_topk",
      """SELECT * FROM (VALUES ('M001', CAST(3 AS BIGINT)),
        |  ('M002', CAST(3 AS BIGINT)), ('M003', CAST(1 AS BIGINT)))
        |  AS t(master_code, n_products)
        |ORDER BY n_products DESC, master_code""".stripMargin) { (s, _) =>
      Importer.productsPerCollection(imported(s), 10)
    },

    // E2E: the loaded product table (cleaned SKUs, repaired prices,
    // broadcast-joined collection ids).
    Q("q_e2e_import_products",
      s"""SELECT sku, master_code,
         |  ${sqlDetId("concat_ws('|', 'pc', master_code)")} AS collection_id,
         |  selling_price, inventory
         |FROM (VALUES
         |  ('M001-A', 'M001', CAST(1299.5 AS DOUBLE), CAST(10 AS BIGINT)),
         |  ('M001-B', 'M001', CAST(1399.0 AS DOUBLE), CAST(5 AS BIGINT)),
         |  ('M001-C', 'M001', CAST(NULL AS DOUBLE), CAST(8 AS BIGINT)),
         |  ('M002-A', 'M002', CAST(899.99 AS DOUBLE), CAST(0 AS BIGINT)),
         |  ('M002-B', 'M002', CAST(999.0 AS DOUBLE), CAST(3 AS BIGINT)),
         |  ('M002-C', 'M002', CAST(1099.0 AS DOUBLE), CAST(2 AS BIGINT)),
         |  ('M003-A', 'M003', CAST(49.9 AS DOUBLE), CAST(100 AS BIGINT)))
         |  AS t(sku, master_code, selling_price, inventory)
         |ORDER BY sku""".stripMargin) { (s, _) =>
      imported(s).products
        .select("sku", "master_code", "collection_id", "selling_price",
          "inventory")
        .orderBy("sku")
    },

    // E2E: the loaded collection table (W1 masters, URL-extracted
    // image arrays, deterministic ids).
    Q("q_e2e_import_collections",
      s"""SELECT ${sqlDetId("concat_ws('|', 'pc', master_code)")}
         |    AS collection_id,
         |  master_code, collection_name, n_images, first_image, video_url
         |FROM (VALUES
         |  ('M001', 'Oak Chair', CAST(2 AS BIGINT), 'https://img/1.jpg',
         |    CAST(NULL AS VARCHAR)),
         |  ('M002', 'Pine Table', CAST(1 AS BIGINT), 'https://img/3.jpg',
         |    CAST(NULL AS VARCHAR)),
         |  ('M003', 'Lamp', CAST(1 AS BIGINT), 'https://img/4.jpg',
         |    CAST(NULL AS VARCHAR)))
         |  AS t(master_code, collection_name, n_images, first_image,
         |       video_url)
         |ORDER BY master_code""".stripMargin) { (s, _) =>
      imported(s).collections
        .select(col("collection_id"), col("master_code"),
          col("collection_name"),
          size(col("images")).cast("long").as("n_images"),
          element_at(col("images"), 1).as("first_image"),
          col("video_url"))
        .orderBy("master_code")
    },

    // E2E: category dictionary (get-or-create, no circular-FK dance).
    Q("q_e2e_import_categories",
      s"""SELECT ${sqlDetId("concat_ws('|', 'cat', category_name)")}
         |    AS category_id, category_name
         |FROM (VALUES ('Chairs'), ('Lighting'), ('Tables'))
         |  AS t(category_name)
         |ORDER BY category_name""".stripMargin) { (s, _) =>
      imported(s).categories.orderBy("category_name")
    },

    // E2E: collection→category links.
    Q("q_e2e_import_cat_links",
      s"""SELECT ${sqlDetId("concat_ws('|', 'pc', m)")} AS collection_id,
         |  ${sqlDetId("concat_ws('|', 'cat', c)")} AS category_id
         |FROM (VALUES ('M001', 'Chairs'), ('M002', 'Tables'),
         |             ('M003', 'Lighting')) AS t(m, c)
         |ORDER BY collection_id""".stripMargin) { (s, _) =>
      imported(s).collectionCategory
        .orderBy("collection_id")
    },

    // E2E: i18n translation rows (translations-first load order).
    Q("q_e2e_import_translations",
      s"""SELECT
         |  ${sqlDetId("concat_ws('|', 'tr', 'pc', m, 'en', 'collection_name')")}
         |    AS id,
         |  ${sqlDetId("concat_ws('|', 'pc', m)")} AS collection_id,
         |  'en' AS lang_code, 'collection_name' AS field_name, v AS value
         |FROM (VALUES ('M001', 'Oak Chair'), ('M002', 'Pine Table'),
         |             ('M003', 'Lamp')) AS t(m, v)
         |ORDER BY id""".stripMargin) { (s, _) =>
      imported(s).collectionTranslations.orderBy("id")
    },

    // E2E: details_html entities with extracted image srcs + links.
    Q("q_e2e_import_details",
      s"""SELECT ${sqlDetId("concat_ws('|', 'dh', m)")} AS details_html_id,
         |  ${sqlDetId("concat_ws('|', 'pc', m)")} AS collection_id,
         |  n_srcs, first_src
         |FROM (VALUES ('M001', CAST(1 AS BIGINT), 'https://d/1.jpg'),
         |             ('M002', CAST(1 AS BIGINT), 'https://d/2.jpg'))
         |  AS t(m, n_srcs, first_src)
         |ORDER BY details_html_id""".stripMargin) { (s, _) =>
      val t = imported(s)
      t.detailsHtml
        .join(t.collectionDetailsHtml, Seq("details_html_id"))
        .select(col("details_html_id"), col("collection_id"),
          size(col("img_srcs")).cast("long").as("n_srcs"),
          element_at(col("img_srcs"), 1).as("first_src"))
        .orderBy("details_html_id")
    },

    // E2E: image-array entities + links (the reference's
    // product_collection_img_array pair of tables) — only collections
    // that actually carry images get an array row, and the non-url
    // junk token in M003's raw array must already be gone.
    Q("q_e2e_import_img_links",
      s"""SELECT ${sqlDetId("concat_ws('|', 'img', m)")} AS img_array_id,
         |  ${sqlDetId("concat_ws('|', 'pc', m)")} AS collection_id,
         |  n_imgs, first_img
         |FROM (VALUES ('M001', CAST(2 AS BIGINT), 'https://img/1.jpg'),
         |             ('M002', CAST(1 AS BIGINT), 'https://img/3.jpg'),
         |             ('M003', CAST(1 AS BIGINT), 'https://img/4.jpg'))
         |  AS t(m, n_imgs, first_img)
         |ORDER BY img_array_id""".stripMargin) { (s, _) =>
      val t = imported(s)
      t.imgArrays.join(t.collectionImgArray, Seq("img_array_id"))
        .select(col("img_array_id"), col("collection_id"),
          size(col("img_array")).cast("long").as("n_imgs"),
          element_at(col("img_array"), 1).as("first_img"))
        .orderBy("img_array_id")
    },

    // E2E: the lang dictionary, get-or-created from the lang codes
    // the translation load used (the reference seeds `lang` rows the
    // same circular-FK-free way the engine loads categories).
    Q("q_e2e_import_langs",
      s"""SELECT ${sqlDetId("concat_ws('|', 'lang', c)")} AS lang_id,
         |  c AS lang_code
         |FROM (VALUES ('en')) AS t(c)
         |ORDER BY lang_code""".stripMargin) { (s, _) =>
      imported(s).langs.orderBy("lang_code")
    },

    // E2E: category-name translations through the ONE generic EAV
    // emitter every *_translations table shares (the reference writes
    // a hand-rolled upsert loop per table) — plus the details-html
    // source-language rows, counted rather than value-dumped (the
    // html is already graded by q_e2e_import_details).
    Q("q_e2e_import_cat_translations",
      s"""SELECT
         |  ${sqlDetId("concat_ws('|', 'tr', 'cat', c, 'en', 'category_name')")}
         |    AS id,
         |  ${sqlDetId("concat_ws('|', 'cat', c)")} AS entity_id,
         |  'en' AS lang_code, 'category_name' AS field_name,
         |  c AS value, n_html
         |FROM (VALUES ('Chairs', CAST(2 AS BIGINT)),
         |             ('Lighting', CAST(2 AS BIGINT)),
         |             ('Tables', CAST(2 AS BIGINT))) AS t(c, n_html)
         |ORDER BY id""".stripMargin) { (s, _) =>
      val t = imported(s)
      t.categoryTranslations.crossJoin(
          t.detailsHtmlTranslations.agg(count(lit(1)).as("n_html")))
        .orderBy("id")
    },

    // E2E: the currency reference dictionary — seeded like the
    // reference's ISO 4217 load, with the EAV pointer shape intact:
    // currency.currency_name IS the id of the translation row holding
    // the display name, so the join below proves the pointer links.
    Q("q_e2e_import_currency",
      s"""SELECT ${sqlDetId("concat_ws('|', 'cur', c)")} AS id,
         |  c AS currency_code, n AS currency_num,
         |  ${sqlDetId("concat_ws('|', 'tr', 'cur', c, 'en', 'currency_name')")}
         |    AS currency_name,
         |  v AS value
         |FROM (VALUES
         |  ('AUD', CAST(36 AS BIGINT), 'Australian dollar'),
         |  ('CAD', CAST(124 AS BIGINT), 'Canadian dollar'),
         |  ('CHF', CAST(756 AS BIGINT), 'Swiss franc'),
         |  ('CNY', CAST(156 AS BIGINT), 'Renminbi'),
         |  ('EUR', CAST(978 AS BIGINT), 'Euro'),
         |  ('GBP', CAST(826 AS BIGINT), 'Pound sterling'),
         |  ('JPY', CAST(392 AS BIGINT), 'Japanese yen'),
         |  ('USD', CAST(840 AS BIGINT), 'United States dollar'))
         |  AS t(c, n, v)
         |ORDER BY currency_code""".stripMargin) { (s, _) =>
      val (cur, tr) = Importer.currencySeed(s)
      cur.join(tr.select(col("id").as("currency_name"),
          col("value")), Seq("currency_name"))
        .select(col("id"), col("currency_code"), col("currency_num"),
          col("currency_name"), col("value"))
        .orderBy("currency_code")
    },

    // E2E: source provenance entity + its EAV name translation — one
    // row per import run, keyed off the raw file's basename, so every
    // loaded row is traceable to the file that brought it in.
    Q("q_e2e_import_source",
      s"""SELECT
         |  ${sqlDetId("concat_ws('|', 'tr', 'src', f, 'en', 'source_name')")}
         |    AS id,
         |  ${sqlDetId("concat_ws('|', 'src', f)")} AS source_id,
         |  'en' AS lang_code, 'source_name' AS field_name, f AS value
         |FROM (VALUES ('raw_products.csv')) AS t(f)
         |ORDER BY id""".stripMargin) { (s, _) =>
      imported(s).sourceTranslations.orderBy("id")
    },

    // FK-GRAPH REGISTRY audit: the whole importer schema's declared
    // FK edges (model.FkRegistry.importerSchema — the collect_FK.sql
    // analog) compile to RefIntegrity rules in one call and sweep the
    // fixture corpus; an intact load reports zero violations on every
    // edge. One declaration now audits all 6 relationships — the
    // hand-curated per-table rule list q_audit_constraints uses is no
    // longer the only way in.
    Q("q_audit_fk_registry",
      """SELECT * FROM (VALUES
        |  ('fk:collection_category.category_id->category.category_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:collection_category.collection_id->product_collection.collection_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:collection_details_html.collection_id->product_collection.collection_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:collection_details_html.details_html_id->details_html.details_html_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:collection_img_array.collection_id->product_collection.collection_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:collection_img_array.img_array_id->img_array.img_array_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:product.collection_id->product_collection.collection_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:product_collection_translations.collection_id->product_collection.collection_id',
        |   CAST(0 AS BIGINT)),
        |  ('fk:product_collection_translations.lang_code->lang.lang_code',
        |   CAST(0 AS BIGINT)),
        |  ('fk:source_translations.source_id->source.source_id',
        |   CAST(0 AS BIGINT)))
        |  AS t(rule, violations)
        |ORDER BY rule""".stripMargin) { (s, _) =>
      val tb = imported(s)
      graft.operators.Constraints.check(
        Map(
          "product" -> tb.products,
          "product_collection" -> tb.collections,
          "category" -> tb.categories,
          "collection_category" -> tb.collectionCategory,
          "product_collection_translations" -> tb.collectionTranslations,
          "details_html" -> tb.detailsHtml,
          "collection_details_html" -> tb.collectionDetailsHtml,
          "img_array" -> tb.imgArrays,
          "collection_img_array" -> tb.collectionImgArray,
          "lang" -> tb.langs,
          "source" -> tb.sources,
          "source_translations" -> tb.sourceTranslations),
        graft.model.FkRegistry.rules(
          graft.model.FkRegistry.importerSchema))
        .orderBy("rule")
    },

    // §3.2 attribute pipeline: key dictionary (A10 get-or-create).
    Q("q_attr_key_dict",
      pairsCte +
        s"""SELECT ${sqlDetId("concat_ws('|', 'ak', attr_key)")}
           |    AS attr_key_id, attr_key
           |FROM (SELECT DISTINCT attr_key FROM pairs)
           |ORDER BY attr_key""".stripMargin) { (s, d) =>
      Attributes.keyDict(
          Attributes.explodePairs(t(s, d, "documents"), "doc_id", rawAttrs))
        .orderBy("attr_key")
    },

    // §3.2 attribute pipeline: value dictionary.
    Q("q_attr_value_dict",
      pairsCte +
        s"""SELECT
           |  ${sqlDetId("concat_ws('|', 'av', attr_key, attr_value)")}
           |    AS attr_value_id,
           |  ${sqlDetId("concat_ws('|', 'ak', attr_key)")} AS attr_key_id,
           |  attr_key, attr_value
           |FROM (SELECT DISTINCT attr_key, attr_value FROM pairs)
           |ORDER BY attr_key, attr_value""".stripMargin) { (s, d) =>
      Attributes.valueDict(
          Attributes.explodePairs(t(s, d, "documents"), "doc_id", rawAttrs))
        .orderBy("attr_key", "attr_value")
    },

    // §3.2 attribute pipeline: entity→value links (M2 insert-if-absent
    // against an empty link table).
    Q("q_attr_links",
      pairsCte +
        s"""SELECT DISTINCT doc_id,
           |  ${sqlDetId("concat_ws('|', 'av', attr_key, attr_value)")}
           |    AS attr_value_id
           |FROM pairs
           |ORDER BY doc_id, attr_value_id""".stripMargin) { (s, d) =>
      val pairs = Attributes.explodePairs(t(s, d, "documents"), "doc_id",
        rawAttrs)
      val empty = pairs.select(col("doc_id"),
        deterministicIdCol(pairs)).limit(0)
      Attributes.links(pairs, "doc_id", empty)
        .orderBy("doc_id", "attr_value_id")
    },

    // §3.3 enrichment DAG: html → img urls → OCR → ordered concat →
    // translate → logistics, one declarative job with stub services.
    // The oracle computes the same deterministic end state directly.
    Q("q_e3_enrichment",
      """WITH e AS (SELECT doc_id,
        |  concat('http i ', doc_id, ' jpg | https j ', lang, ' x png')
        |    AS full_text FROM documents),
        |tr AS (SELECT doc_id, full_text,
        |  concat('[zh->en] ', full_text) AS translated FROM e)
        |SELECT doc_id, CAST(2 AS BIGINT) AS n_images, translated,
        |  concat(length(translated) % 50, 'kg') AS weight,
        |  concat(length(translated) % 9, 'x', length(translated) % 7)
        |    AS dims,
        |  substr(translated, 1, 2) AS origin,
        |  concat('HS', length(translated) % 100) AS hs_code,
        |  'FOB' AS incoterm
        |FROM tr ORDER BY doc_id""".stripMargin) { (s, d) =>
      val html = concat(lit("<div><img src=\"http://i/"),
        col("doc_id").cast("string"),
        lit(".jpg\"><p>x</p><img src=\"https://j/"), col("lang"),
        lit("/x.png\"></div>"))
      graft.pipelines.Enrichment.run(
          t(s, d, "documents"), "doc_id", html)
        .select(col("doc_id"), col("n_images"), col("translated"),
          col("logistics.weight"), col("logistics.dims"),
          col("logistics.origin"), col("logistics.hs_code"),
          col("logistics.incoterm"))
        .orderBy("doc_id")
    },

    // Translation cache (§3.2 tail): the reference's universal
    // translator — rows lacking a translation for the target language
    // (J9 compound anti-join) get translated (U1 stub) and merged
    // back insert-if-absent (M2); the translation table IS the cache,
    // so a second run translates nothing.
    Q("q_translate_cache",
      """WITH existing AS (
        |  SELECT doc_id, 'en' AS lang_code,
        |    concat('[cached] ', substr(text, 1, 20)) AS value
        |  FROM documents WHERE doc_id % 3 = 0),
        |missing AS (
        |  SELECT d.doc_id FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM existing e
        |    WHERE e.doc_id = d.doc_id AND e.lang_code = 'en')),
        |fresh AS (
        |  SELECT d.doc_id, 'en' AS lang_code,
        |    concat('[zh->en] ', substr(d.text, 1, 20)) AS value
        |  FROM documents d JOIN missing m ON d.doc_id = m.doc_id)
        |SELECT * FROM (SELECT * FROM existing UNION ALL SELECT * FROM fresh)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val existing = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit("en").as("lang_code"),
          concat(lit("[cached] "), substring(col("text"), 1, 20))
            .as("value"))
      val missing = docs.join(existing,
        docs("doc_id") === existing("doc_id") &&
          existing("lang_code") === "en", "left_anti")
      val fresh = missing.select(col("doc_id"), lit("en").as("lang_code"),
        graft.operators.Services
          .translateStub(substring(col("text"), 1, 20), "zh", "en")
          .as("value"))
      graft.operators.Merge
        .insertIfAbsent(existing, fresh, Seq("doc_id", "lang_code"))
        .orderBy("doc_id")
    },

    // Corpus statistics per source — the analysis aggregate a
    // training-data pipeline reports (token volumes, mean quality
    // proxies) over the one-pass analyze columns.
    Q("q_t_corpus_stats",
      s"""WITH tok AS (SELECT source, ${sqlTokens("text")} AS t
         |            FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(t)) AS BIGINT) AS total_tokens,
         |  CAST(min(len(t)) AS BIGINT) AS min_tokens,
         |  CAST(max(len(t)) AS BIGINT) AS max_tokens,
         |  CAST(sum(len(t)) AS DOUBLE) / count(*) AS mean_tokens
         |FROM tok GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("source"), graft.functions.tokens(col("text")).as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("t"))).cast("long").as("total_tokens"),
          min(size(col("t"))).cast("long").as("min_tokens"),
          max(size(col("t"))).cast("long").as("max_tokens"))
        .withColumn("mean_tokens",
          col("total_tokens").cast("double") / col("n_docs"))
        .orderBy("source")
    },

    // AUDIT: SKU hygiene over the imported product table — the
    // check_sku_status.py:31-141 pack (suffix patterns, per-prefix
    // counts, filesystem-set difference shape).
    Q("q_audit_sku_hygiene",
      """SELECT * FROM (VALUES
        |  ('dot_zero_skus', CAST(0 AS BIGINT)),
        |  ('m001_prefix', CAST(3 AS BIGINT)),
        |  ('total', CAST(7 AS BIGINT)))
        |  AS t(check_name, n) ORDER BY check_name""".stripMargin) { (s, _) =>
      val p = imported(s).products
      def one(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"))
          .select(lit(label).as("check_name"), col("n"))
      one("dot_zero_skus", p.filter(col("sku").like("%.0")))
        .unionByName(one("m001_prefix", p.filter(col("sku").like("M001-%"))))
        .unionByName(one("total", p))
        .orderBy("check_name")
    },

    // S5: filesystem binary scan over committed fixtures.
    Q("q_s5_binary_scan",
      """SELECT * FROM (VALUES
        |  ('a.bin', CAST(20 AS BIGINT),
        |   'a382f82fa6ce68320df455a06ac5e7673b10d3f28af9f95bfa672c02f9cedf32'),
        |  ('b.bin', CAST(23 AS BIGINT),
        |   '2f5050a296252657cb06bc9ea5db920e4772000ff8afe84c491e41cda5241d07'))
        |  AS t(fname, n_bytes, digest)
        |ORDER BY fname""".stripMargin) { (s, _) =>
      Sources.binaryFiles(s, MediaDir, "*.bin")
        .select(
          element_at(split(col("path"), "/"), -1).as("fname"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("digest"))
        .orderBy("fname")
    },

    // S7: plain parquet append — two batch writes land side by side
    // and the read-back union is exactly both batches (append never
    // rewrites existing parts). Graded through the durable files:
    // write two disjoint order slices, read the dir back, aggregate.
    Q("q_s7_append",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderkey % 100 <= 1
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      val out = java.nio.file.Paths.get(
        workDir("graft-s7-q"), "orders").toString
      graft.sources.Sinks.append(o.filter(col("o_orderkey") % 100 === 0), out)
      graft.sources.Sinks.append(o.filter(col("o_orderkey") % 100 === 1), out)
      s.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100)).cast("long").as("cents"))
        .orderBy("o_orderstatus")
    },

    // S10: CSV append sink — same two-batch contract through the
    // text format: header-once-per-part, all-string read-back (no
    // inference; the caller casts), both appends visible.
    Q("q_s10_csv_append",
      """SELECT CAST(n_regionkey AS BIGINT) AS region_key,
        |  CAST(count(*) * 2 AS BIGINT) AS n,
        |  min(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY region_key""".stripMargin) { (s, d) =>
      val n = t(s, d, "nation")
      val out = java.nio.file.Paths.get(
        workDir("graft-s10-q"), "nation").toString
      graft.sources.Sinks.appendCsv(n, out)
      graft.sources.Sinks.appendCsv(n, out)
      s.read.option("header", "true").csv(out)
        .groupBy(col("n_regionkey").cast("long").as("region_key"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
        .orderBy("region_key")
    })

  /** Helper producing the attr_value_id column expression (shared by
    * the empty-link-table schema and the link build). */
  private def deterministicIdCol(pairs: org.apache.spark.sql.DataFrame) =
    graft.functions.deterministicId(lit("av"), col("attr_key"),
      col("attr_value")).as("attr_value_id")
}
