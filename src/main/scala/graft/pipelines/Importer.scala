package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._
import graft.model.ColumnMapping

/** The importer pipeline (SURVEY.md §3.1 / §7.2) — the reference's
  * `run_etl.py` → `ETL.main()` nested per-row loops
  * (/root/reference/utils/importer/ETL.py:131-205,486-595)
  * restructured as declarative DataFrame pipelines:
  *
  *  - raw CSV (sep=';', header, UTF-8) — S1
  *  - mapping CSV drives every projection — S2/P1
  *  - first-row-per-master becomes the collection record — W1
  *  - remaining rows become product variants — W2
  *  - the per-variant collection-id point lookup (ETL.py:512-529,
  *    the N+1 pattern) becomes ONE broadcast join — J11
  *  - string repair on the way in: decimal-comma prices (F6), exact
  *    '.0' SKU strip (F7), URL extraction from the image array (F4)
  *
  * Determinism deviation (documented): the reference takes the FIRST
  * FILE ROW per master as the collection record; file order is not a
  * Spark-stable concept, so the engine uses the smallest SKU instead
  * — a total order on the same data.
  *
  * Scale: the raw input is parsed, projected and ranked by the W1
  * window ONCE per import into one base frame, which ends in a lazy
  * `localCheckpoint`; all 14 tables derive from that base, so they
  * see the same master row and no commit re-reads the raw input or
  * reruns the window, however many commits and driver threads consume
  * them. Declaring the checkpoint runs the parse and the window's
  * shuffle (AQE executes a plan's shuffle stages when it is
  * checkpointed); the first job that reads the base stores the ranked
  * rows, and its blocks live as long as any table built on it: Spark's
  * ContextCleaner frees them once the `Tables` become unreachable. At
  * 100 TB the window is a shuffle on master_code (the natural
  * partition key); the base's blocks sit MEMORY_AND_DISK on the
  * executors (the local checkpoint's level), and because its lineage
  * is truncated, losing an executor fails the import instead of
  * recomputing the lost blocks.
  * The other wide operation is one broadcast join, which flips to
  * sort-merge automatically when collections outgrow the broadcast
  * threshold.
  */
object Importer {

  /** The importer's output tables — the §3.1 load set: collections,
    * products, the category dictionary + link, the i18n translation
    * rows (loaded translations-FIRST, so the entity→translation
    * pointer never needs the reference's 3-step circular-FK
    * placeholder dance, ETL.py:329-351), details_html + link, the
    * image-array entity + link
    * (backup_before_fix.sql:464-487 product_collection_img_array and
    * its link table), the lang dictionary (sql:181), and the source
    * provenance entity + its EAV translation rows (sql:504-525). */
  final case class Tables(
      collections: DataFrame,
      products: DataFrame,
      categories: DataFrame,
      collectionCategory: DataFrame,
      collectionTranslations: DataFrame,
      detailsHtml: DataFrame,
      collectionDetailsHtml: DataFrame,
      imgArrays: DataFrame,
      collectionImgArray: DataFrame,
      langs: DataFrame,
      sources: DataFrame,
      sourceTranslations: DataFrame,
      categoryTranslations: DataFrame,
      detailsHtmlTranslations: DataFrame)

  /** S1: the raw dump reader (ETL.py:103). */
  def loadRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", ";").option("header", "true")
      .option("encoding", "UTF-8").csv(path)

  /** Generic EAV translation emitter — ONE shape for every
    * `*_translations` table of the reference DDL (category/currency/
    * details_html/attribute keys+values/source all share the
    * (id, entity_id, lang, field_name, value) layout,
    * backup_before_fix.sql:54-98,166-178,215-347): one row per
    * (entity, field) with a non-null value, ids deterministic from
    * (entity prefix, natural key, lang, field). The entity prefix is
    * the same short tag the entity's own deterministicId uses ("pc",
    * "cat", "cur", "src", …), so two translation tables sharing a
    * field name over overlapping natural keys can never emit
    * colliding ids. The reference loads each with its own
    * hand-written upsert loop; here every translation table is this
    * one projection over its entity frame. */
  def translationsOf(entities: DataFrame, entityIdCol: String,
      naturalKeyCol: String, fields: Seq[String], entity: String,
      lang: String = "en"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fields.nonEmpty,
      "translationsOf: at least one field to translate")
    fields.map { f =>
      entities.filter(col(f).isNotNull)
        .select(
          deterministicId(lit("tr"), lit(entity), col(naturalKeyCol),
            lit(lang), lit(f)).as("id"),
          col(entityIdCol).as("entity_id"),
          lit(lang).as("lang_code"),
          lit(f).as("field_name"),
          col(f).cast("string").as("value"))
    }.reduce(_ unionByName _)
  }

  /** Full importer run: raw + mapping → (collections, products).
    * The raw file's basename becomes the source provenance entity. */
  def run(spark: SparkSession, rawPath: String,
      mappingPath: String): Tables =
    runFrom(spark, loadRaw(spark, rawPath), mappingPath,
      rawPath.split('/').last)

  /** Importer over an already-loaded raw frame — the entry the Excel
    * path uses (`Importer.runFrom(spark, Xlsx.xlsx(spark, dir),
    * mapCsv)`), and the seam for any future source: everything after
    * the read is source-agnostic because both readers emit the same
    * all-string columns. */
  def runFrom(spark: SparkSession, rawInput: DataFrame,
      mappingPath: String, sourceName: String = "inline"): Tables = {
    val mapping = ColumnMapping.fromCsv(spark, mappingPath)
    val raw = rawInput
      .na.drop(Seq("Master Code"))                       // P5 guard
    val w = Window.partitionBy("master_code").orderBy("__sku")

    // the one base every table derives from: both tables' mapped
    // columns plus the W1 rank, parsed and ranked once per import
    val base = raw.select(
        (mapping.projectionFor("product_collection") ++
          mapping.projectionFor("product") :+
          col("Product SKU").as("__sku")): _*)
      .withColumn("__rn", row_number().over(w))
      .localCheckpoint(eager = false)

    val masters = base.filter(col("__rn") === 1)          // W1

    val collections = masters.select(
      deterministicId(lit("pc"), col("master_code")).as("collection_id"),
      col("master_code"),
      cleanString(col("collection_name")).as("collection_name"),
      extractUrls(col("images_raw")).as("images"),        // F4
      col("attributes_raw"),
      col("video_url"))

    val products = base
      .filter(col("sku").isNotNull)
      .select(
        stripDotZero(cleanString(col("sku"))).as("sku"),  // F7
        col("master_code"),
        fixDecimalComma(col("selling_price")).as("selling_price"), // F6
        col("inventory").cast("long").as("inventory"))
      .join(broadcast(collections.select("collection_id", "master_code")),
        Seq("master_code"))                               // J11

    // category get-or-create (A10, ETL.py:311-372 without the
    // circular-FK placeholder inserts) + link rows (M2)
    val catRaw = masters
      .select(col("master_code"), cleanString(col("category_raw"))
        .as("category_name"))
      .filter(col("category_name").isNotNull && col("category_name") =!= "")
    val categories = catRaw.select("category_name").distinct()
      .select(deterministicId(lit("cat"), col("category_name"))
        .as("category_id"), col("category_name"))
    val collectionCategory = catRaw.select(
      deterministicId(lit("pc"), col("master_code")).as("collection_id"),
      deterministicId(lit("cat"), col("category_name")).as("category_id"))

    // i18n translation rows for the collection name (the EAV pattern,
    // translations loaded before entities — SURVEY §7.4 risk 2),
    // through the one generic emitter every *_translations table uses
    val collectionTranslations =
      translationsOf(collections, "collection_id", "master_code",
        Seq("collection_name"), entity = "pc")
        .withColumnRenamed("entity_id", "collection_id")

    // details_html entity + link (ETL.py:395-470, 5 steps → 2 frames)
    val detRaw = masters
      .select(col("master_code"), col("details_html_raw"))
      .filter(col("details_html_raw").isNotNull &&
        col("details_html_raw") =!= "")
    val detailsHtml = detRaw.select(
      deterministicId(lit("dh"), col("master_code")).as("details_html_id"),
      col("details_html_raw").as("details_html"),
      extractImgSrcs(col("details_html_raw")).as("img_srcs"))  // F16
    val collectionDetailsHtml = detRaw.select(
      deterministicId(lit("pc"), col("master_code")).as("collection_id"),
      deterministicId(lit("dh"), col("master_code")).as("details_html_id"))

    // image-array entity + link (backup_before_fix.sql:464-487): one
    // array row per collection that actually has images, linked by
    // the same deterministic-id discipline as every other entity
    val imgRaw = collections.filter(size(col("images")) > 0)
    val imgArrays = imgRaw.select(
      deterministicId(lit("img"), col("master_code")).as("img_array_id"),
      col("images").as("img_array"))
    val collectionImgArray = imgRaw.select(
      col("collection_id"),
      deterministicId(lit("img"), col("master_code")).as("img_array_id"))

    // lang dictionary (sql:181) — get-or-create from the lang codes
    // the translation load actually used (A10, same as categories)
    val langs = collectionTranslations.select("lang_code").distinct()
      .select(deterministicId(lit("lang"), col("lang_code"))
        .as("lang_id"), col("lang_code"))

    // source provenance entity + EAV name translation (sql:504-525):
    // one row per import run, so every load is traceable to its file
    val sources = spark.range(1).select(
      deterministicId(lit("src"), lit(sourceName)).as("source_id"),
      lit(sourceName).as("source_name"))
    val sourceTranslations =
      translationsOf(sources, "source_id", "source_name",
        Seq("source_name"), entity = "src")
        .withColumnRenamed("entity_id", "source_id")

    // the remaining *_translations families of the DDL, same emitter:
    // category names (sql:54) and the details-html source text
    // (sql:166 — the translator pipeline later upserts other langs
    // onto these source-language rows)
    val categoryTranslations =
      translationsOf(categories, "category_id", "category_name",
        Seq("category_name"), entity = "cat")
    val detailsHtmlTranslations =
      translationsOf(detRaw.select(
          deterministicId(lit("dh"), col("master_code"))
            .as("details_html_id"),
          col("master_code"),
          col("details_html_raw").as("details_html")),
        "details_html_id", "master_code", Seq("details_html"),
        entity = "dh")

    Tables(collections, products, categories, collectionCategory,
      collectionTranslations, detailsHtml, collectionDetailsHtml,
      imgArrays, collectionImgArray, langs, sources, sourceTranslations,
      categoryTranslations, detailsHtmlTranslations)
  }

  /** Currency dictionary seed — the reference ships `currency` +
    * `currency_translations` as seeded reference data
    * (backup_before_fix.sql:69-97 DDL; the dump seeds the full ISO
    * 4217 list). Same EAV-pointer shape: `currency_name` holds the ID
    * of the translation row carrying the display name, and the
    * translation rows flow through [[translationsOf]] like every
    * other *_translations table. Codes/numbers here are public
    * ISO 4217 data; pass a fuller list for production. Returns
    * (currency, currency_translations). */
  def currencySeed(spark: SparkSession,
      rows: Seq[(String, Int, String, String)] = CurrencySeedDefault)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val named = rows
      .toDF("currency_code", "currency_num", "currency_name",
        "countries")
      .withColumn("cid",
        deterministicId(lit("cur"), col("currency_code")))
    val translations = translationsOf(named, "cid", "currency_code",
      Seq("currency_name"), entity = "cur")
    val currencies = named.select(
      col("cid").as("id"),
      col("currency_code"),
      col("currency_num").cast("long").as("currency_num"),
      deterministicId(lit("tr"), lit("cur"), col("currency_code"),
        lit("en"), lit("currency_name")).as("currency_name"),
      col("countries"))
    (currencies, translations)
  }

  /** A small public ISO 4217 subset as the default seed (code,
    * numeric code, English name, countries). */
  val CurrencySeedDefault: Seq[(String, Int, String, String)] = Seq(
    ("AUD", 36, "Australian dollar", "Australia"),
    ("CAD", 124, "Canadian dollar", "Canada"),
    ("CHF", 756, "Swiss franc", "Switzerland"),
    ("CNY", 156, "Renminbi", "China"),
    ("EUR", 978, "Euro", "Eurozone"),
    ("GBP", 826, "Pound sterling", "United Kingdom"),
    ("JPY", 392, "Japanese yen", "Japan"),
    ("USD", 840, "United States dollar", "United States"))

  /** The §7.2 audit query: products per collection, top-k
    * (/root/reference/utils/importer/verify_etl_results.py:41-49). */
  def productsPerCollection(tables: Tables, k: Int): DataFrame =
    tables.products
      .groupBy("master_code").agg(count(lit(1)).as("n_products"))
      .orderBy(col("n_products").desc, col("master_code").asc)
      .limit(k)
}
