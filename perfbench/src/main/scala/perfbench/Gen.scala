package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded input generators. Everything is written with plain Java I/O
  * from a SplittableRandom, so the same (seed, size) gives byte-identical
  * files, and each generator returns the exact ground truth the output
  * checks compare against. The program under test only ever sees the
  * generated files. */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      UTF_8), 1 << 16)

  private def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  // ---------------------------------------------------------------- ingest

  final case class IngestSize(masters: Int, maxVariants: Int,
      categories: Int, attrKeys: Int, attrValues: Int, zipfS: Double)

  /** Exact row count of every table the ingest iteration writes. */
  final case class IngestTruth(rows: Long, bytes: Long,
      tables: Map[String, Long])

  private val attrKeyNames = Vector("品牌", "材质", "颜色", "尺寸", "产地",
    "风格", "brand", "size", "color", "material", "适用空间", "包装")

  /** A Taobao-shaped raw dump in fixtures/raw_products.csv's layout:
    * masters with several variants, decimal-comma prices, `.0` SKUs,
    * `key:value-key:value` attributes over a skewed vocabulary, image
    * lists and details HTML with `<img>` tags. Collection-level fields
    * (images, details) sit on each master's first variant (smallest
    * SKU), the later variants leave them empty, so a wrong first-row
    * pick changes the table counts. */
  def ingest(dir: Path, seed: Long, size: IngestSize): IngestTruth = {
    val r = new SplittableRandom(seed * 7919L + 1L)
    val catZipf = new Zipf(size.categories, size.zipfS)
    val keyZipf = new Zipf(size.attrKeys, size.zipfS)
    val valZipf = new Zipf(size.attrValues, size.zipfS)
    def keyName(i: Int): String =
      if (i < attrKeyNames.size) attrKeyNames(i) else s"attr$i"
    val path = dir.resolve("raw_products.csv")
    val w = writer(path)
    w.write("Master Code;Product SKU;Product Name;Selling Price;" +
      "Inventory;Attributes;Images;Video Url;Category;Details HTML\n")
    var rows = 0L
    var withCategory = 0L
    var withDetails = 0L
    var withDetailImgs = 0L
    var withImages = 0L
    var links = 0L
    val cats = mutable.HashSet.empty[Int]
    val keys = mutable.HashSet.empty[Int]
    val values = mutable.HashSet.empty[(Int, Int)]
    for (m <- 0 until size.masters) {
      val code = fmt("M%07d", m)
      // variants per master: geometric, capped
      var nVar = 1
      while (nVar < size.maxVariants && r.nextInt(100) < 55) nVar += 1
      val cat = if (r.nextInt(100) < 95) catZipf.sample(r) else -1
      if (cat >= 0) { withCategory += 1; cats += cat }
      val nPairs = if (r.nextInt(10) == 0) 0 else 1 + r.nextInt(4)
      val pairKeys = mutable.LinkedHashSet.empty[Int]
      while (pairKeys.size < nPairs) pairKeys += keyZipf.sample(r)
      val attrs = pairKeys.toSeq.map { k =>
        val v = valZipf.sample(r)
        keys += k; values += ((k, v)); links += 1
        s"${keyName(k)}:${fmt("V%03d", v)}${if (k % 2 == 0) "型" else ""}"
      }.mkString("-")
      val nImg = r.nextInt(5)
      if (nImg > 0) withImages += 1
      val images =
        if (nImg == 0) ""
        else (0 until nImg).map(i => fmt("https://img.example/%s_%d.jpg",
          code, i)).mkString("[", ", ", "]")
      val hasDetails = r.nextInt(10) < 7
      val nDetImg = if (hasDetails) r.nextInt(4) else 0
      if (hasDetails) withDetails += 1
      if (nDetImg > 0) withDetailImgs += 1
      val details =
        if (!hasDetails) ""
        else s"<div><p>细节 $code 说明</p>" + (0 until nDetImg).map { i =>
          val q = if (i % 2 == 0) "\"" else "'"
          fmt("<img src=%shttps://d.example/%s/%d.jpg%s>", q, code, i, q)
        }.mkString + "</div>"
      val video =
        if (r.nextInt(5) == 0) fmt("https://v.example/%s.mp4", code) else ""
      val name = fmt("商品 %s Item %d", code, r.nextInt(1000))
      val category = if (cat >= 0) fmt("类目 %04d", cat) else ""
      for (v <- 0 until nVar) {
        val sku = s"$code-${('A' + v).toChar}" +
          (if (r.nextInt(10) < 3) ".0" else "")
        val cents = 100 + r.nextInt(500000)
        val whole = cents / 100
        val wholeStr =
          if (whole >= 1000 && r.nextBoolean())
            fmt("%d %03d", whole / 1000, whole % 1000)
          else whole.toString
        val price = fmt("%s,%02d", wholeStr, cents % 100)
        val inventory = r.nextInt(500)
        val first = v == 0
        w.write(Seq(code, sku, name, price, inventory.toString, attrs,
          if (first) images else "", if (first) video else "", category,
          if (first) details else "").mkString(";"))
        w.write("\n")
        rows += 1
      }
    }
    w.close()
    val masters = size.masters.toLong
    IngestTruth(rows, Files.size(path), Map(
      "collections" -> masters,
      "products" -> rows,
      "categories" -> cats.size.toLong,
      "collection_category" -> withCategory,
      "collection_translations" -> masters,
      "details_html" -> withDetails,
      "collection_details_html" -> withDetails,
      "img_arrays" -> withImages,
      "collection_img_array" -> withImages,
      "langs" -> 1L,
      "sources" -> 1L,
      "source_translations" -> 1L,
      "category_translations" -> cats.size.toLong,
      "details_html_translations" -> withDetails,
      "attr_keys" -> keys.size.toLong,
      "attr_values" -> values.size.toLong,
      "attr_links" -> links,
      "enrichment" -> withDetailImgs))
  }

  // ---------------------------------------------------------------- curate

  final case class CurateSize(docs: Int, vocab: Int, zipfS: Double,
      dupRate: Double, maxGroup: Int, editRate: Double, minTokens: Int,
      maxTokens: Int)

  final case class CurateTruth(docs: Long, bytes: Long, plantedCopies: Long,
      plantedGroups: Long)

  private val syllables = Vector("ka", "lo", "mi", "ren", "tso", "vu", "pa",
    "del", "qi", "sha", "no", "bre", "tu", "gam", "ix", "ol", "zen", "fa",
    "hur", "we", "ky", "mon", "sti", "ep", "ra", "dov", "lu", "cet", "bi",
    "yor", "an", "pix")

  /** Word for a vocabulary index: 2 or 3 syllables. */
  private def word(i: Int): String = {
    val n = syllables.size
    if (i < n * n) syllables(i / n) + syllables(i % n)
    else {
      val j = i - n * n
      syllables(j / (n * n) % n) + syllables(j / n % n) + syllables(j % n)
    }
  }

  /** A documents corpus shaped like the sf0.1 `documents` table: word
    * texts over a Zipf vocabulary whose rank→word map is a seeded
    * permutation (each seed re-vocabularies the corpus), with planted
    * near-duplicate groups: a copy re-draws each token with probability
    * `editRate`. Written as JSON lines (doc_id, text). */
  def curate(dir: Path, seed: Long, size: CurateSize): CurateTruth = {
    val r = new SplittableRandom(seed * 104729L + 3L)
    val perm = Array.range(0, size.vocab)
    for (i <- perm.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val words = perm.map(word)
    val zipf = new Zipf(size.vocab, size.zipfS)
    def draw(): String = {
      val w = words(zipf.sample(r))
      val p = r.nextInt(100)
      if (p == 0) w + "," else if (p == 1) w + "." else w
    }
    val originals = mutable.ArrayBuffer.empty[Array[String]]
    val copies = mutable.ArrayBuffer.empty[Int]
    var planted = 0L
    val groups = mutable.HashSet.empty[Int]
    val path = dir.resolve("documents.jsonl")
    val w = writer(path)
    for (id <- 0 until size.docs) {
      val copyOf =
        if (originals.nonEmpty && r.nextDouble() < size.dupRate) {
          val o = r.nextInt(originals.size)
          if (copies(o) < size.maxGroup - 1) o else -1
        } else -1
      val toks =
        if (copyOf >= 0) {
          copies(copyOf) += 1
          planted += 1
          groups += copyOf
          originals(copyOf).map(t =>
            if (r.nextDouble() < size.editRate) draw() else t)
        } else {
          val n = size.minTokens + r.nextInt(size.maxTokens - size.minTokens + 1)
          val t = Array.fill(n)(draw())
          originals += t
          copies += 0
          t
        }
      w.write(s"""{"doc_id":$id,"text":"${toks.mkString(" ")}"}""")
      w.write("\n")
    }
    w.close()
    CurateTruth(size.docs.toLong, Files.size(path), planted,
      groups.size.toLong)
  }

  // ---------------------------------------------------------------- upsert

  final case class UpsertSize(baseKeys: Int, baseFiles: Int, batchRows: Int,
      recentWindow: Int, recentFrac: Double, newFrac: Double,
      zipfS: Double)

  /** The CDC source and its latest-wins replay model. Rows are
    * `k,payload,seq`; `seq` is unique and increasing, so latest-wins
    * is well defined even when a batch touches a key twice. */
  final class Upsert(dir: Path, seed: Long, val size: UpsertSize) {
    private val r = new SplittableRandom(seed * 15485863L + 5L)
    private val recent = new Zipf(size.recentWindow, size.zipfS)
    /** Latest (payload, seq) per key; keys are dense 0 until nextKey. */
    val payload = new mutable.LongMap[String]()
    val seqOf = new mutable.LongMap[Long]()
    var nextKey: Long = 0L
    private var seq = 0L
    private var batches = 0
    var changeRows = 0L

    private def pay(): String = {
      val sb = new StringBuilder
      for (_ <- 0 until 20) sb.append(('a' + r.nextInt(26)).toChar)
      sb.toString
    }

    /** The seed table's rows, as one CSV file. */
    def writeBase(): Path = {
      val p = dir.resolve("base.csv")
      val w = writer(p)
      while (nextKey < size.baseKeys) {
        val v = pay()
        payload(nextKey) = v; seqOf(nextKey) = 0L
        w.write(s"$nextKey,$v,0\n")
        nextKey += 1
      }
      w.close()
      p
    }

    /** Drop the next CDC batch into `srcDir`: mostly updates of recently
      * added keys, about `newFrac` new keys, the rest anywhere. */
    def writeBatch(srcDir: Path): Path = {
      batches += 1
      val p = srcDir.resolve(fmt("batch-%06d.csv", batches))
      val w = writer(p)
      for (_ <- 0 until size.batchRows) {
        val u = r.nextDouble()
        val k =
          if (u < size.newFrac) { nextKey += 1; nextKey - 1 }
          else if (u < size.newFrac + size.recentFrac)
            math.max(0L, nextKey - 1 - recent.sample(r))
          else (r.nextDouble() * nextKey).toLong
        seq += 1
        val v = pay()
        payload(k) = v; seqOf(k) = seq
        w.write(s"$k,$v,$seq\n")
      }
      w.close()
      changeRows += size.batchRows
      p
    }

    /** A random existing key, biased to the recent window. */
    def pointKey(): Long =
      if (r.nextBoolean()) math.max(0L, nextKey - 1 - recent.sample(r))
      else (r.nextDouble() * nextKey).toLong

    /** A random range start for a range read of `width` keys. */
    def rangeStart(width: Long): Long =
      (r.nextDouble() * math.max(1L, nextKey - width)).toLong
  }
}
