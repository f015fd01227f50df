package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions._

/** Generator-based properties for the parser/function layer — the
  * reference ships only a fixed case table
  * (/root/reference/utils/importer/test_etl.py:22-69); these cover
  * the input space around it. Cases are generated with a FIXED seed
  * (reproducible failures) and evaluated in one batched Spark pass
  * per law, not one job per sample.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Materialize n samples of a Gen deterministically. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  // attribute-pair alphabet: no structural delimiters (:-;) — those
  // are the parser's own metacharacters; includes CJK + spaces
  private val cleanToken: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('品', '牌', '材', '质', '金', '属')))
  } yield cs.mkString

  private val kvPair: Gen[(String, String)] = for {
    k <- cleanToken; v <- cleanToken
  } yield (k, v)

  test("packBestFitDecreasing equals the reference BFD fold; no bin " +
      "ever exceeds the budget") {
    val budget = 100L
    val sizes = samples(Gen.choose(1L, 90L), 200) ++ Seq(150L, 101L)
    val rows = sizes.zipWithIndex
      .map { case (tk, i) => (i.toLong, tk) }.toDF("id", "tk")
    val out = graft.operators.Sharding
      .packBestFitDecreasing(rows, "id", "tk", budget, buckets = 3)
      .select("id", "bucket", "n_toks", "bin")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == sizes.length) // every doc packed exactly once
    // reference BFD per bucket on the JVM
    val byBucket = out.groupBy(_._2)
    byBucket.foreach { case (_, docs) =>
      val ordered = docs.sortBy(d => (-d._3, d._1))
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      val want = ordered.map { case (id, _, tk, _) =>
        val fits = loads.zipWithIndex
          .filter { case (l, _) => l + tk <= budget }
        val bin = if (fits.isEmpty) { loads += tk; loads.size - 1 }
          else {
            val (_, i) = fits.maxBy { case (l, i) => (l, -i) }
            loads(i) += tk; i
          }
        id -> bin.toLong
      }.toMap
      docs.foreach { case (id, _, _, bin) =>
        assert(bin == want(id), s"doc $id") }
      // the hard-cap law (oversized docs sit alone over it by design)
      loads.zipWithIndex.foreach { case (l, i) =>
        assert(l <= budget ||
          docs.count(d => d._4 == i) == 1, s"bin $i load $l") }
    }
  }

  test("systematicResample law: per-bucket copies = floor(mass/S), " +
      "heavy rows always kept, zero-weight rows never") {
    val weights = samples(Gen.choose(0L, 900L), 300) :+ 5000L
    val rows = weights.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    val stride = 700L
    val out = graft.operators.Curation
      .systematicResample(rows, "id", "w", stride, buckets = 4)
      .select("id", "bucket", "w", "n_copies")
      .as[(Long, Long, Long, Long)].collect()
    // the certainty unit (w=5000 >= 7*stride crossings) is kept with
    // multiplicity; zero-weight rows can never cross a multiple
    assert(out.exists(r => r._1 == 300L && r._4 >= 7L))
    assert(out.forall(_._3 > 0L))
    // per bucket: total copies = floor(bucket mass / stride) exactly
    val byBucket = out.groupBy(_._2)
    val bucketOf = rows
      .select(col("id"),
        graft.functions.hashBucket(col("id"), 4, "sysres").as("b"))
      .as[(Long, Long)].collect().toMap
    val massByBucket = weights.zipWithIndex
      .groupBy { case (_, i) => bucketOf(i.toLong) }
      .view.mapValues(_.map(_._1).sum).toMap
    massByBucket.foreach { case (b, mass) =>
      val copies = byBucket.get(b).map(_.map(_._4).sum).getOrElse(0L)
      assert(copies == mass / stride, s"bucket $b: $copies vs $mass")
    }
  }

  test("stratifiedAllocate law: any random group mix sums to exactly " +
      "N, every group floor or floor+1") {
    val sizes = samples(Gen.choose(1, 40), 12)
    val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
      (0 until n).map(i => (s"g$g", g * 1000L + i))
    }.toDF("grp", "id")
    val total = sizes.sum.toLong
    for (n <- Seq(1L, 7L, total / 2, total)) {
      val out = graft.operators.Curation
        .stratifiedAllocate(rows, "grp", "id", n)
        .select("grp", "n_docs", "allocated")
      val alloc = out.distinct()
        .as[(String, Long, Long)].collect()
      assert(alloc.map(_._3).sum == n, s"N=$n")
      assert(out.count() == n, s"sampled rows N=$n")
      alloc.foreach { case (_, nd, a) =>
        val fl = nd * n / total
        assert(a == fl || a == fl + 1, s"N=$n group=$nd alloc=$a")
      }
    }
  }

  test("attributePairs: parses every well-formed k:v list exactly") {
    val cases: Seq[(Seq[(String, String)], String)] =
      samples(for {
        pairs <- Gen.nonEmptyListOf(kvPair)
        seps <- Gen.listOfN(pairs.length, Gen.oneOf("-", ";"))
        pad <- Gen.oneOf("", " ")
      } yield {
        val raw = pairs.zip(seps).map { case ((k, v), sep) =>
          s"$pad$k$pad:$pad$v$pad" -> sep
        }
        (pairs.map { case (k, v) => (k.trim, v.trim) },
          raw.map(_._1).zip(raw.map(_._2)).map { case (kv, s) => kv + s }
            .mkString.dropRight(1))
      }, 80)
    val df = cases.zipWithIndex
      .map { case ((_, raw), i) => (i, raw) }.toDF("i", "raw")
      .select(col("i"), attributePairs(col("raw")).as("pairs"))
    val got = df.collect().map(r => r.getInt(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getString(0), p.getString(1)))).toMap
    cases.zipWithIndex.foreach { case ((expect, raw), i) =>
      assert(got(i) == expect, s"case $i raw=<$raw>")
    }
  }

  test("stripDotZero: exact suffix only — never a char-class rstrip") {
    val bases = samples(Gen.oneOf(
      cleanToken,
      cleanToken.map(_ + "0"),        // ends in 0: rstrip would eat it
      cleanToken.map(_ + ".00")), 60) // ends ".00" — that is not ".0"
    val df = bases.zipWithIndex.map { case (b, i) => (i, b, b + ".0") }
      .toDF("i", "base", "suffixed")
      .select(col("i"),
        stripDotZero(col("base")).as("sb"),
        stripDotZero(col("suffixed")).as("ss"))
    df.collect().foreach { r =>
      val i = r.getInt(0)
      val base = bases(i)
      // base + ".0" strips back to exactly base; the bare base loses
      // at most a literal trailing ".0" ("x.00" ends in "00" → kept)
      assert(r.getString(2) == base, s"suffixed case $i")
      val expectBase =
        if (base.endsWith(".0")) base.dropRight(2) else base
      assert(r.getString(1) == expectBase, s"base case $i <$base>")
    }
  }

  test("fixDecimalComma: round-trips generated european decimals") {
    val nums = samples(for {
      whole <- Gen.choose(0L, 999999L)
      frac <- Gen.choose(0, 99)
      neg <- Gen.oneOf(true, false)
    } yield (if (neg) -1 else 1, whole, frac), 60)
    val df = nums.zipWithIndex.map { case ((s, w, f), i) =>
      val sign = if (s < 0) "-" else ""
      (i, f"$sign$w%d,$f%02d")
    }.toDF("i", "raw")
      .select(col("i"), fixDecimalComma(col("raw")).as("v"))
    val got = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    nums.zipWithIndex.foreach { case ((s, w, f), i) =>
      val expect = s * (w + f / 100.0)
      assert(math.abs(got(i) - expect) < 1e-9, s"case $i")
    }
  }

  test("fixDecimalComma: garbage is null, never an ANSI cast error") {
    val junk = samples(Gen.oneOf("", "abc", "1,2,3", "12a,5", "--3",
      "3,14x", "NaN"), 40)
    val out = junk.zipWithIndex.map { case (j, i) => (i, j) }
      .toDF("i", "raw")
      .select(fixDecimalComma(col("raw")).as("v"))
      .collect()
    out.foreach(r => assert(r.isNullAt(0)))
  }

  test("redactPii: embedded emails always collapse to the marker") {
    // the email local-part/domain classes are ASCII by design (the
    // CJK-token generator found exactly this boundary), so the
    // address itself is generated ASCII-only; surroundings stay CJK
    val ascii = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val cases = samples(for {
      pre <- cleanToken; user <- ascii; dom <- ascii
      suf <- cleanToken
    } yield (s"$pre ", s"$user@$dom.example.com", s" $suf"), 60)
    val df = cases.zipWithIndex
      .map { case ((p, e, s), i) => (i, p + e + s, p, s) }
      .toDF("i", "raw", "pre", "suf")
      .select(col("i"), redactPii(col("raw")).as("red"),
        col("pre"), col("suf"))
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2) + "[EMAIL]" + r.getString(3),
        s"case ${r.getInt(0)}")
    }
  }

  test("extractUrls: finds every embedded url, in order") {
    val cases = samples(for {
      a <- cleanToken; b <- cleanToken
      p1 <- cleanToken; p2 <- cleanToken
    } yield (s"$a https://x.example/$p1 $b http://y.example/$p2 end",
      Seq(s"https://x.example/$p1", s"http://y.example/$p2")), 60)
    val df = cases.zipWithIndex.map { case ((raw, _), i) => (i, raw) }
      .toDF("i", "raw")
      .select(col("i"), extractUrls(col("raw")).as("urls"))
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    cases.zipWithIndex.foreach { case ((_, expect), i) =>
      assert(got(i) == expect, s"case $i")
    }
  }

  test("deterministicId: stable across runs, injective on samples") {
    val keys = samples(Gen.listOfN(3, cleanToken).map(_.mkString("|")), 80)
      .distinct
    val df = keys.toDF("k")
      .select(col("k"), deterministicId(col("k")).as("id"))
    val rows = df.collect().map(r => r.getString(0) -> r.getString(1))
    // stable: recomputing yields identical ids
    val again = keys.toDF("k")
      .select(deterministicId(col("k")).as("id"))
      .collect().map(_.getString(0))
    assert(rows.map(_._2).toSeq == again.toSeq)
    // injective over the sample + shaped like a uuid
    assert(rows.map(_._2).distinct.length == rows.length)
    rows.foreach { case (_, id) =>
      assert(id.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    }
  }

  test("cms law: estimates never undercount any random multiset") {
    val values = samples(Gen.listOfN(400,
      Gen.choose(0, 60)), 3)
    for (vs <- values) {
      val df = vs.map(_.toLong).toDF("v")
      val truth = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val est = graft.operators.Sketches
        .cmsEstimate(df, graft.operators.Sketches.cmsBuild(df, "v", 256, 4),
          "v", 256, 4)
        .as[(Long, Long)].collect().toMap
      truth.foreach { case (k, n) =>
        assert(est(k.toLong) >= n, s"undercount for $k: ${est(k.toLong)} < $n")
      }
    }
  }

  test("fingerprint law: any permutation/partitioning fingerprints equally") {
    val data = samples(Gen.listOfN(300, kvPair), 3)
    for (rows <- data) {
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k + v) }.toDF("k", "s")
      val base = graft.operators.Constraints
        .tableFingerprint(df, Seq(col("k"), col("s"))).collect().head
      val shuffled = graft.operators.Constraints.tableFingerprint(
        df.orderBy(rand()).repartition(5), Seq(col("k"), col("s")))
        .collect().head
      assert(base == shuffled)
    }
  }

  test("agg-state monoid law: merging any split equals the direct state") {
    val data = samples(Gen.listOfN(120, for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (k, v)), 3)
    for ((rows, si) <- data.zipWithIndex) {
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val direct = graft.streaming.Incremental
        .aggState(df, Seq("k"), "v")
      // split three ways by id mod — merge must reproduce direct
      val parts = (0 until 3).map(r =>
        graft.streaming.Incremental.aggState(
          df.filter(col("id") % 3 === r), Seq("k"), "v"))
      val merged = graft.streaming.Incremental
        .mergeAggStates(parts, Seq("k"))
      assertSameRows(direct, merged)
      // and merging the direct state with an EMPTY state is identity
      val withEmpty = graft.streaming.Incremental.mergeAggStates(
        Seq(direct, direct.limit(0)), Seq("k"))
      assertSameRows(direct, withEmpty)
    }
  }

  test("histogram law: any split merges to the direct sketch; quantiles bound ranks") {
    val data = samples(Gen.listOfN(200, Gen.choose(-500L, 5500L)), 3)
    for (vals <- data) {
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val direct = graft.operators.Sketches.histBins(df, "v", 0L, 250L, 20)
      val parts = (0 until 3).map(r => graft.operators.Sketches
        .histBins(df.filter(col("id") % 3 === r), "v", 0L, 250L, 20))
      assertSameRows(direct,
        graft.operators.Sketches.histMerge(parts: _*))
      // the q-milli upper edge covers at least q/1000 of the clamped mass
      val est = graft.operators.Sketches
        .histQuantiles(direct, 0L, 250L, Seq(500))
        .select("est_hi").as[Long].head()
      val clamped = vals.map(v => math.min(math.max(v, 0L), 19 * 250L))
      val below = clamped.count(_ < est)
      assert(below * 1000 >= 500 * vals.length,
        s"edge $est covers $below/${vals.length}")
    }
  }

  test("joinDelta law: old ∪ delta == rebuild for any random delta split") {
    val data = samples(Gen.listOfN(80, for {
      k <- Gen.choose(0L, 20L); v <- Gen.choose(0, 999)
    } yield (k, v)), 3)
    for (rows <- data) {
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val (oldA, dA) = (df.filter(col("id") % 2 === 0),
        df.filter(col("id") % 2 === 1))
      val (oldB, dB) = (df.filter(col("id") % 3 === 0)
        .select(col("k"), col("v").as("w")),
        df.filter(col("id") % 3 =!= 0)
        .select(col("k"), col("v").as("w")))
      val delta = graft.streaming.Incremental
        .joinDelta(oldA, dA, oldB, dB, Seq("k"))
      val rebuilt = oldA.unionByName(dA)
        .join(oldB.unionByName(dB), Seq("k"))
      assertSameRows(
        oldA.join(oldB, Seq("k")).unionByName(delta), rebuilt)
    }
  }

  test("coalesceIntervals law: spans are disjoint and cover every interval") {
    val data = samples(Gen.listOfN(60, for {
      k <- Gen.choose(0L, 4L); s <- Gen.choose(0L, 500L)
      len <- Gen.choose(0L, 120L)
    } yield (k, s, s + len)), 3)
    for (ivs <- data) {
      val spans = graft.operators.Temporal
        .coalesceIntervals(ivs.toDF("k", "s", "e"), "k", "s", "e")
        .select("k", "span", "s", "e", "n_intervals")
        .as[(Long, Long, Long, Long, Long)].collect()
      // disjoint and strictly ordered within each key
      for ((k, group) <- spans.groupBy(_._1)) {
        val sorted = group.sortBy(_._2)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._4 < b._3,
            s"key $k spans must be disjoint: $a $b")
          case _ =>
        }
      }
      // every interval lies inside exactly one span of its key
      for ((k, s, e) <- ivs) {
        val hosts = spans.filter(sp =>
          sp._1 == k && sp._3 <= s && e <= sp._4)
        assert(hosts.length == 1, s"($k,$s,$e) in ${hosts.length} spans")
      }
      // interval counts per key add up
      assert(spans.map(_._5).sum == ivs.length.toLong)
    }
  }

  test("editDistancePairs completeness: equals brute-force ED ≤ 1 on random strings") {
    val wordGen = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val sets = samples(Gen.listOfN(30, wordGen).map(_.distinct), 3)
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (words <- sets) {
      val df = words.toDF("s").withColumn("id", col("s"))
      val found = graft.operators.Dedup.editDistancePairs(df, "id", "s")
        .select("id_a", "id_b").as[(String, String)].collect().toSet
      val expected = (for {
        a <- words; b <- words if a < b && ed(a, b) <= 1
      } yield (a, b)).toSet
      assert(found == expected,
        s"missing=${expected -- found} extra=${found -- expected}")
    }
  }

  test("containment dominance law: every Jaccard pair is a containment " +
      "pair at the same threshold, with milli-exact statistics") {
    // containment = common/|side| >= common/|union| = jaccard, so at
    // any shared threshold the jaccard survivor set is a subset —
    // the reason the asymmetric statistic exists
    val docGen = for {
      n <- Gen.choose(2, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta",
        "eps", "zeta", "eta", "theta"))
    } yield ws.mkString(" ")
    val corpora = samples(Gen.listOfN(10, docGen), 3)
    for (docs <- corpora) {
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val thr = 0.4
      val jac = graft.operators.Dedup
        .ngramJaccardPairs(df, "doc_id", "text", 2, thr, 1000)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val cont = graft.operators.Dedup
        .containmentPairs(df, "doc_id", "text", 2, thr, 1000)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4),
            r.getAs[Long]("cont_a_milli"), r.getAs[Long]("cont_b_milli"))))
        .toMap
      assert(jac.subsetOf(cont.keySet),
        s"jaccard pairs missing from containment: ${jac -- cont.keySet}")
      // milli values are exactly floor(1000*common/n) on both sides
      cont.foreach { case (_, (common, nA, nB, ca, cb)) =>
        assert(ca == common * 1000 / nA && cb == common * 1000 / nB)
        assert(common <= math.min(nA, nB))
      }
    }
  }

  test("calibrationBins law: bins partition the corpus, rates exact, monotone by score") {
    val rowGen = for {
      s <- Gen.choose(-7L, 7L)
      y <- Gen.oneOf(0, 1)
    } yield (s, y)
    for (rows <- samples(Gen.listOfN(80, rowGen), 4)) {
      val out = graft.operators.TextAnalysis
        .calibrationBins(rows.toDF("score", "y"), "score", "y", 10)
        .orderBy("bin")
        .select("bin", "n", "n_pos", "pos_milli", "score_min", "score_max")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      // partition: bin populations and positives sum to the corpus
      assert(out.map(_._2).sum == rows.size)
      assert(out.map(_._3).sum == rows.count(_._2 == 1))
      // rates are the exact integer div of the bin's own rows
      for ((_, n, np, milli, _, _) <- out) assert(milli == np * 1000 / n)
      // bins are score ranges: ordered by bin id, ranges never overlap
      for (Seq(a, b) <- out.sliding(2).toSeq if out.size > 1)
        assert(a._6 < b._5,
          s"bin ${a._1} max ${a._6} must sit below bin ${b._1} min ${b._5}")
    }
  }

  test("aucExact law: equals brute-force pairwise AUC on random labeled scores") {
    val rowGen = for {
      s <- Gen.choose(-5L, 5L)   // narrow range forces heavy ties
      y <- Gen.oneOf(0, 1)
    } yield (s, y)
    val sets = samples(Gen.listOfN(60, rowGen), 5)
      .filter(r => r.exists(_._2 == 1) && r.exists(_._2 == 0))
    assert(sets.nonEmpty)
    for (rows <- sets) {
      val got = graft.operators.TextAnalysis
        .aucExact(rows.toDF("score", "y"), "score", "y")
        .collect().head.getLong(2)
      // brute force: over all (pos, neg) pairs, wins + half-ties,
      // in doubled units so the division is exact-integer
      val pos = rows.filter(_._2 == 1).map(_._1)
      val neg = rows.filter(_._2 == 0).map(_._1)
      val twiceU = (for { p <- pos; n <- neg } yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      val expected = 1000000L * twiceU / (2L * pos.size * neg.size)
      assert(got == expected, s"got $got expected $expected")
    }
  }

  test("ewma merge law: segmented fold ≡ whole-series fold, bit-exact") {
    // dyadic α (0.5) over small-integer series of length ≤ 40 keeps
    // every intermediate exactly representable, so the segment-merge
    // reformulation (c·p_j + w_j) must equal the sequential fold to
    // the BIT, at every prefix, for any segment size — including
    // segLen 1 (every row its own segment) and segLen > series
    // (single segment ≡ degenerate merge)
    val seriesGen = for {
      n <- Gen.choose(1, 40)
      xs <- Gen.listOfN(n, Gen.choose(0L, 1000L))
    } yield xs
    val series = samples(seriesGen, 6)
    val rows = series.zipWithIndex.flatMap { case (xs, k) =>
      xs.zipWithIndex.map { case (x, i) =>
        (s"k$k", i.toLong, x.toDouble)
      }
    }.toDF("key", "ord", "x")
    val whole = graft.operators.Temporal
      .ewma(rows, "key", "ord", "x", 0.5)
      .select("key", "pos", "ewma")
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (segLen <- Seq(1, 3, 7, 64)) {
      val seg = graft.operators.Temporal
        .ewmaSegmented(rows, "key", "ord", "x", 0.5, segLen)
        .select("key", "pos", "ewma")
        .as[(String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(seg.keySet == whole.keySet, s"segLen=$segLen row sets differ")
      whole.foreach { case (k, e) =>
        assert(java.lang.Double.doubleToLongBits(seg(k)) ==
          java.lang.Double.doubleToLongBits(e),
          s"segLen=$segLen key=$k whole=$e segmented=${seg(k)}")
      }
    }
  }

  test("ewmaSegmented carries ord and x through to the output") {
    val rows = Seq(("a", 10L, 4.0), ("a", 20L, 8.0), ("a", 30L, 2.0))
      .toDF("key", "ord", "x")
    val out = graft.operators.Temporal
      .ewmaSegmented(rows, "key", "ord", "x", 0.5, 2)
      .select("key", "ord", "x", "pos", "ewma")
      .as[(String, Long, Double, Long, Double)].collect().sortBy(_._4)
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq == Seq(
      ("a", 10L, 4.0, 0L), ("a", 20L, 8.0, 1L), ("a", 30L, 2.0, 2L)))
    assert(out.map(_._5).toSeq == Seq(4.0, 6.0, 4.0))
  }

  test("ewma: over-length series fails loudly, not silently") {
    val rows = (0 until 10).map(i => ("k", i.toLong, 1.0))
      .toDF("key", "ord", "x")
    val e = intercept[Exception] {
      graft.operators.Temporal
        .ewma(rows, "key", "ord", "x", 0.5, maxSeriesLen = 5)
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("triangle law: per-node counts sum to 3x the triangle total") {
    val edgeSets = samples(Gen.listOfN(60, for {
      a <- Gen.choose(0L, 14L); b <- Gen.choose(0L, 14L)
    } yield (a, b)), 3)
    for (es <- edgeSets) {
      val perNode = graft.operators.Graph
        .triangleCounts(es.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect()
      assert(perNode.map(_._2).sum % 3 == 0,
        s"per-node credit must be divisible by 3: ${perNode.toSeq}")
    }
  }

  test("HotKeys law: drop(s, over(s, keys, cap), keys) keeps exactly " +
      "the rows with non-null keys whose census is at most cap") {
    import graft.operators.HotKeys
    import org.apache.spark.sql.Column
    val cap = 3
    // two-column keys over small domains, so counts straddle the cap,
    // with a null in either column; four pinned keys sit exactly at
    // and one past the cap under each census
    def stream(domain: Int) = for {
      a <- Gen.frequency(1 -> Gen.const(Option.empty[Int]),
        6 -> Gen.choose(0, domain).map(Option(_)))
      b <- Gen.frequency(1 -> Gen.const(Option.empty[String]),
        6 -> Gen.oneOf("x", "y").map(Option(_)))
      doc <- Gen.choose(0L, 4L)
    } yield (a, b, doc)
    val pinned =
      Seq.fill(cap)((Option(100), Option("x"), 0L)) ++
      Seq.fill(cap + 1)((Option(101), Option("x"), 0L)) ++
      (0L until cap.toLong).flatMap(d =>
        Seq.fill(2)((Option(102), Option("y"), d))) ++
      (0L to cap.toLong).map(d => (Option(103), Option("y"), d))
    type R = (Long, Option[Int], Option[String], Long)
    val keys = Seq("a", "b")
    for (domain <- Seq(2, 6, 30)) {
      val rows = (samples(stream(domain), 120) ++ pinned).zipWithIndex
        .map { case ((a, b, doc), i) => (i.toLong, a, b, doc) }
      val s = rows.toDF("rid", "a", "b", "doc")
      val byKey = rows.groupBy(r => (r._2, r._3))
      for ((census, ref) <- Seq[(Column, Seq[R] => Long)](
          (count(lit(1)), _.size.toLong),
          (count_distinct(col("doc")), _.map(_._4).distinct.size.toLong))) {
        val got = HotKeys.drop(s, HotKeys.over(s, keys, cap, census), keys)
          .select("rid").as[Long].collect().sorted.toSeq
        val want = rows.filter(r => r._2.isDefined && r._3.isDefined &&
          ref(byKey((r._2, r._3))) <= cap).map(_._1).sorted
        assert(got == want, s"domain $domain, census $census")
      }
    }
  }

  // ---- xlsx round-trip ------------------------------------------------

  private def xmlEsc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  private def colLetters(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** Write one workbook: header row + data rows, each cell either
    * absent (sparse), a shared string, an inline string, or a raw
    * number — the four shapes the reader supports. */
  private def writeXlsx(path: java.nio.file.Path, header: Seq[String],
      rows: Seq[Seq[Option[(Int, String)]]]): Unit = {
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sstIdx(s: String): Int =
      shared.getOrElseUpdate(s, shared.size)
    val sheet = new StringBuilder
    sheet.append("""<?xml version="1.0"?><worksheet><sheetData>""")
    def cellXml(ref: String, kind: Int, v: String): String = kind match {
      case 0 => s"""<c r="$ref" t="s"><v>${sstIdx(v)}</v></c>"""
      case 1 => s"""<c r="$ref" t="inlineStr"><is><t>${xmlEsc(v)}</t></is></c>"""
      case _ => s"""<c r="$ref"><v>${xmlEsc(v)}</v></c>"""
    }
    sheet.append("<row>")
    header.zipWithIndex.foreach { case (h, i) =>
      sheet.append(cellXml(s"${colLetters(i)}1", 0, h)) }
    sheet.append("</row>")
    rows.zipWithIndex.foreach { case (r, ri) =>
      sheet.append("<row>")
      r.zipWithIndex.foreach {
        case (Some((kind, v)), ci) =>
          sheet.append(cellXml(s"${colLetters(ci)}${ri + 2}", kind, v))
        case (None, _) => ()
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val sst = new StringBuilder
    sst.append("""<?xml version="1.0"?><sst>""")
    shared.keys.foreach(s => sst.append(s"<si><t>${xmlEsc(s)}</t></si>"))
    sst.append("</sst>")
    val zout = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(path))
    try {
      zout.putNextEntry(new java.util.zip.ZipEntry("xl/sharedStrings.xml"))
      zout.write(sst.toString.getBytes("UTF-8"))
      zout.closeEntry()
      zout.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zout.write(sheet.toString.getBytes("UTF-8"))
      zout.closeEntry()
    } finally zout.close()
  }

  test("xlsx round-trip: any random grid of sparse/shared/inline/number cells reads back exactly") {
    val cellText: Gen[String] = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('品', '质', '&', '<', '>', '"', ' ', ';', ',')))
    } yield cs.mkString.trim match { case "" => "x"; case s => s }
    val cell: Gen[Option[(Int, String)]] = Gen.frequency(
      2 -> Gen.const(None),
      3 -> cellText.map(s => Some((0, s))),
      2 -> cellText.map(s => Some((1, s))),
      2 -> (for { a <- Gen.choose(-9999, 9999); b <- Gen.choose(0, 99) }
        yield Some((2, s"$a.$b"))))
    val header = Seq("Alpha", "Beta Col", "Gamma", "Delta")
    val grid: Gen[Seq[Seq[Option[(Int, String)]]]] = for {
      nRows <- Gen.choose(0, 9)
      rows <- Gen.listOfN(nRows, Gen.listOfN(header.length, cell))
    } yield rows
    val books = samples(grid, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx-prop")
    books.zipWithIndex.foreach { case (rows, i) =>
      writeXlsx(dir.resolve(f"wb$i%02d.xlsx"), header, rows) }
    val got = graft.sources.Xlsx.xlsx(spark, dir.toString).collect()
      .map(r => header.indices.map(i =>
        Option(r.getString(i))).toSeq)
      .toSeq
    // trailing absent cells shrink the row in the XML but the reader
    // pads to header width; leading/interior sparse cells stay null
    val want = books.flatten.map(_.map {
      case Some((_, v)) => Some(v)
      case None => None
    })
    assert(got.sortBy(_.toString) == want.sortBy(_.toString),
      s"round-trip mismatch: got ${got.size} rows, want ${want.size}")
  }

  test("pdf structure law: any text renders to a parseable PDF with exact xref offsets") {
    import graft.sources.PdfRender
    val nasty: Gen[String] = for {
      n <- Gen.choose(0, 400)
      cs <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(
        '(', ')', '\\', '&', '<', '>', '品', '牌', 'é', 'ß', ' ', '\n')))
    } yield cs.mkString
    for (txt <- samples(nasty, 40)) {
      val html = s"<p>$txt</p><div>tail &amp; end</div>"
      val (bytes, pages) = PdfRender.render(html)
      val s = new String(bytes,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      assert(s.startsWith("%PDF-1.4\n") && s.endsWith("%%EOF\n"))
      val lines = PdfRender.htmlToLines(html)
      val wantPages = math.max(1,
        (lines.size + PdfRender.LinesPerPage - 1) / PdfRender.LinesPerPage)
      assert(pages == wantPages)
      assert(s"/Count $wantPages " != null &&
        s.contains(s"/Count $wantPages"))
      val xrefPos = """startxref\n(\d+)\n""".r
        .findFirstMatchIn(s).get.group(1).toInt
      assert(s.startsWith("xref", xrefPos))
      val offs = """(\d{10}) 00000 n""".r.findAllMatchIn(s)
        .map(_.group(1).toInt).toSeq
      offs.zipWithIndex.foreach { case (off, i) =>
        assert(s.startsWith(s"${i + 1} 0 obj", off),
          s"object ${i + 1} offset $off off-target") }
      // the text layer survives: unbalanced parens must be escaped,
      // so every content stream stays parseable — check stream
      // /Length fields match their actual payloads
      """<< /Length (\d+) >>\nstream\n""".r.findAllMatchIn(s)
        .foreach { m =>
          val len = m.group(1).toInt
          val start = m.end
          assert(s.startsWith("endstream", start + len),
            "stream /Length does not reach endstream") }
    }
  }

  // ----- regex-dialect parity (Java vs RE2 oracle) -----

  test("cjkTokenPattern: no dialect-sensitive shorthand survives in " +
      "patterns shared verbatim with the RE2 oracle") {
    // the class of bug this pins: `\s`/`\w`/`\d`/`\b` compile to
    // DIFFERENT sets in Java regex and RE2 (Java's \s includes \x0B;
    // RE2's \b is a word boundary only outside classes, etc.) — any
    // pattern the oracle receives verbatim must spell its sets out
    val shared = Seq(
      graft.operators.TextAnalysis.cjkTokenPattern,
      graft.functions.WsClass)
    for (p <- shared; bad <- Seq("\\s", "\\S", "\\w", "\\W", "\\d",
        "\\D", "\\b", "\\B", "\\h", "\\v")) {
      assert(!p.contains(bad), s"dialect-sensitive $bad in <$p>")
    }
  }

  test("cjkTokenPattern: Java tokenization equals the documented " +
      "spec on generated mixed-script strings") {
    // a reference tokenizer written DIRECTLY from the pattern's
    // documented semantics (leftmost-first: CJK single char →
    // alphabetic run → digit run → any other single non-ws char,
    // explicit whitespace set) — if either the Java pattern or a
    // future edit drifts from the spec both engines compile, the
    // generated corpus catches it
    def inCjk(c: Char): Boolean =
      (c >= 0x2e80 && c <= 0x9fff) || (c >= 0xac00 && c <= 0xd7af) ||
        (c >= 0xf900 && c <= 0xfaff)
    def inAlpha(c: Char): Boolean =
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= 0xc0 && c <= 0x24f) || (c >= 0x370 && c <= 0x3ff) ||
        (c >= 0x400 && c <= 0x4ff)
    def isWs(c: Char): Boolean = " \t\n\u000B\f\r".contains(c)
    def specTokens(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (inCjk(c)) { out += c.toString; i += 1 }
        else if (inAlpha(c)) {
          val j = Iterator.from(i).dropWhile(k =>
            k < s.length && inAlpha(s.charAt(k))).next()
          out += s.substring(i, j); i = j
        } else if (c >= '0' && c <= '9') {
          val j = Iterator.from(i).dropWhile(k =>
            k < s.length && s.charAt(k) >= '0' &&
              s.charAt(k) <= '9').next()
          out += s.substring(i, j); i = j
        } else if (!isWs(c)) { out += c.toString; i += 1 }
        else i += 1
      }
      out.toSeq
    }
    // generator over exactly the tricky alphabet: each script range's
    // edges, kana (inside the CJK block), \x0B and unicode spaces
    // (U+00A0, U+3000 — the latter IS in the CJK block and must
    // tokenize, not vanish), digits, punctuation
    val tricky: Gen[Char] = Gen.oneOf(
      Gen.oneOf('中', '文', '⺀', '鿿', 'あ', 'ア', '한',
        '가', '힯', '豈'),
      Gen.oneOf('a', 'Z', 'é', 'À', 'ɏ', 'Ω', 'б',
        'Ѐ', 'ӿ'),
      Gen.oneOf('0', '9', '5'),
      Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
      Gen.oneOf(' ', '　', '.', ',', '!', '-', '$'))
    val strs: Seq[String] = samples(for {
      n <- Gen.choose(0, 24)
      cs <- Gen.listOfN(n, tricky)
    } yield cs.mkString, 120)
    val got = strs.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("i", "s")
      .select(col("i"), regexp_extract_all(col("s"),
        lit(graft.operators.TextAnalysis.cjkTokenPattern), lit(0))
        .as("toks"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    strs.zipWithIndex.foreach { case (s, i) =>
      assert(got(i) == specTokens(s),
        s"case $i <${s.map(c => f"\\u${c.toInt}%04x").mkString}>")
    }
  }

  test("PgWire array grammar: every generated text[] round-trips " +
      "through a LIVE postgres — quotes, backslashes, braces, commas, " +
      "CJK, empty strings, NULL elements, and the literal 'NULL'") {
    import graft.sources.{PgServer, PgWire}
    val (h, p) = PgServer.hostPort
    val trickyChar: Gen[Char] = Gen.frequency(
      4 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', ',', '"', '\\', '{', '}', '\'', 'é', '中'))
    val elem: Gen[Option[String]] = Gen.frequency(
      6 -> Gen.choose(0, 6)
        .flatMap(n => Gen.listOfN(n, trickyChar)).map(cs => Some(cs.mkString)),
      1 -> Gen.const(None),           // SQL NULL element
      1 -> Gen.const(Some("NULL")))   // the STRING "NULL" must survive
    val arrays: Seq[List[Option[String]]] = samples(
      Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, elem)), 40)
    def sqlLit(a: List[Option[String]]): String =
      if (a.isEmpty) "ARRAY[]::text[]"
      else a.map {
        case None => "NULL"
        case Some(s) => "'" + s.replace("'", "''") + "'"
      }.mkString("ARRAY[", ",", "]::text[]")
    val values = arrays.zipWithIndex
      .map { case (a, i) => s"($i::bigint, ${sqlLit(a)})" }
      .mkString(",")
    val got = PgWire.readTable(spark, h, p, "graft", "postgres",
        s"SELECT k, arr FROM (VALUES $values) v(k, arr) ORDER BY k")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    arrays.zipWithIndex.foreach { case (a, i) =>
      val want = a.map(_.orNull)
      assert(got(i.toLong) == want,
        s"case $i: got ${got(i.toLong)} want $want")
    }
  }

  test("luhn law: every digit string has exactly ONE valid check " +
      "digit, and the engine agrees with the independent fold on all " +
      "ten candidates") {
    // independent scalar model (rightmost-anchored double-minus-nine)
    def luhnOk(s: String): Boolean = s.nonEmpty && {
      val n = s.length
      val sum = s.zipWithIndex.map { case (ch, i) =>
        val d = ch - '0'
        if ((n - 1 - i) % 2 == 0) d
        else { val dd = d * 2; if (dd > 9) dd - 9 else dd }
      }.sum
      sum % 10 == 0
    }
    val digits: Gen[String] = for {
      n <- Gen.choose(1, 18)
      ds <- Gen.listOfN(n, Gen.numChar)
    } yield ds.mkString
    val bases = samples(digits, 40)
    val cands = bases.flatMap(b => (0 to 9).map(d => (b, s"$b$d")))
    val got = cands.zipWithIndex
      .map { case ((_, c), i) => (i.toLong, c) }
      .toDF("i", "c")
      .select(col("i"), graft.functions.luhnValid(col("c")).as("ok"))
      .as[(Long, Boolean)].collect().toMap
    cands.zipWithIndex.foreach { case ((_, c), i) =>
      assert(got(i.toLong) == luhnOk(c),
        s"engine/model disagree on $c")
    }
    bases.foreach { b =>
      val valid = (0 to 9).count(d => luhnOk(s"$b$d"))
      assert(valid == 1, s"base $b has $valid valid check digits")
    }
  }

  test("ManifestTable law: for any append/overwrite commit sequence, " +
      "every version reads back exactly its expected row set") {
    import graft.sources.ManifestTable
    val cases: Seq[List[(Boolean, Int, Int)]] = samples(for {
      n <- Gen.choose(2, 5)
      commits <- Gen.listOfN(n, for {
        append <- Gen.oneOf(true, false)
        lo <- Gen.choose(0, 50)
        len <- Gen.choose(1, 30)
      } yield (append, lo, len))
    } yield commits, 6)
    cases.zipWithIndex.foreach { case (commits, ci) =>
      val table = java.nio.file.Files
        .createTempDirectory(s"graft-manifest-law-$ci").toString
      var expected = List.empty[Set[Long]]
      commits.foreach { case (append, lo, len) =>
        val rows = (lo.toLong until (lo + len).toLong).toSet
        val prev = expected.lastOption.getOrElse(Set.empty[Long])
        // append carries files (multisets of rows) forward; to keep
        // the law set-valued, appended batches are disjoint-shifted
        val shifted = rows.map(_ + 1000L * (expected.size + 1))
        val df = shifted.toSeq.toDF("k")
        ManifestTable.commit(df, table, append)
        expected :+= (if (append) prev ++ shifted else shifted)
      }
      assert(ManifestTable.versions(table) ==
        (1L to commits.length.toLong))
      expected.zipWithIndex.foreach { case (want, vi) =>
        val got = ManifestTable.read(spark, table, Some(vi + 1L))
          .as[Long].collect().toSet
        assert(got == want,
          s"case $ci v${vi + 1}: ${got.size} rows != ${want.size}")
      }
    }
  }

  test("in-reader filter law: random exact predicates over DV'd, split " +
      "and packed partitions equal Spark's own filter over the files " +
      "minus the DV rows, and a LIMIT over a filtered read keeps only " +
      "matching rows") {
    import graft.sources.{ManifestFilePartition, ManifestPackedPartition,
      ManifestTable}
    import java.time.{Instant, LocalDate}
    import org.apache.spark.sql.Column
    val table = java.nio.file.Files
      .createTempDirectory("graft-filter-law").toString
    val rnd = new scala.util.Random(7L)
    def opt[A](a: A): Option[A] = if (rnd.nextInt(8) == 0) None else Some(a)
    val extremes = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)
    var id = 0L
    def batch(n: Int) = (0 until n).map { _ =>
      id += 1
      (id,
        opt(if (rnd.nextInt(40) == 0) extremes(rnd.nextInt(extremes.size))
          else rnd.nextInt(400) - 200L),
        opt(rnd.nextInt(100) - 50),
        opt(LocalDate.ofEpochDay(18000L + rnd.nextInt(60))),
        opt(Instant.ofEpochSecond(1600000000L + rnd.nextInt(1000),
          rnd.nextInt(3) * 1000L)),
        opt(Seq("", "a", "ab", "b", "\u00e9", "z", "zz")(rnd.nextInt(7))))
    }.toDF("id", "k", "i", "d", "ts", "s")
    for (_ <- 0 until 5)
      ManifestTable.commitWithStats(batch(300).coalesce(1), table,
        append = true, Seq("k", "s"), None)
    // one file of many small row groups, which a small splitBytes
    // splits into ranges
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("parquet.block.size")
    try {
      hconf.set("parquet.block.size", "8192")
      hconf.set("parquet.page.size", "2048")
      ManifestTable.commitWithStats(batch(3000).coalesce(1), table,
        append = true, Seq("k", "s"), None)
    } finally {
      if (prev == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prev)
      hconf.unset("parquet.page.size")
    }
    ManifestTable.deleteRangeDv(spark, table, "k", -20L, 20L,
      dvMaxFraction = 0.5)
    ManifestTable.deleteRangeDv(spark, table, "i", 10L, 12L,
      dvMaxFraction = 0.5)
    val snap = ManifestTable.snapshotFor(table, None)
    assert(snap.dvs.values.count(_.nonEmpty) >= 2, snap.dvs.keys)
    // the reference: Spark's own scan of each file, its rows keyed by
    // (manifest path, row index), minus the DV rows
    val dead = snap.dvs.toSeq.flatMap { case (f, ps) =>
      ps.map(p => (f, p)) }.toDF("__f", "__p")
    val reference = snap.files.map(f => spark.read
        .parquet(java.nio.file.Paths.get(table, f).toString)
        .select(col("*"), lit(f).as("__f"),
          col("_metadata.row_index").as("__p")))
      .reduce(_ unionByName _)
      .join(dead, Seq("__f", "__p"), "left_anti").cache()
    val packed = ManifestTable.read(spark, table)
    val split = spark.read.format("graft-manifest").option("path", table)
      .option("splitBytes", "8192").load()
    // the scan's row ids, which DML scans key their vectors on
    def rowIds(df: org.apache.spark.sql.DataFrame, p: Column) =
      df.select(col("*"), col("_graft_file"), col("_graft_pos")).filter(p)
        .select("_graft_file", "_graft_pos").as[(String, Long)].collect()
    def partsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.inputPartitions
      }.flatten
    assert(partsOf(packed).exists(_.isInstanceOf[ManifestPackedPartition]))
    assert(partsOf(split).count {
      case p: ManifestFilePartition => p.start > 0L
      case _ => false
    } > 1)
    val values: Map[String, Seq[Any]] = Map(
      "k" -> Seq(Long.MinValue, Long.MaxValue, -200L, -1L, 0L, 5L, 199L,
        500L),
      "i" -> Seq(-51, -50, 0, 7, 11, 49, 50),
      "d" -> Seq(17999L, 18000L, 18030L, 18059L, 18060L)
        .map(LocalDate.ofEpochDay),
      "ts" -> Seq(Instant.ofEpochSecond(1600000000L),
        Instant.ofEpochSecond(1600000500L, 1000L),
        Instant.ofEpochSecond(1600000999L, 2000L),
        Instant.ofEpochSecond(1600001000L)),
      "s" -> Seq("", "a", "aa", "b", "\u00e9", "z", "zzz"))
    val leaf: Gen[Column] = for {
      c <- Gen.oneOf(values.keys.toSeq.sorted)
      v <- Gen.oneOf(values(c))
      vs <- Gen.someOf(values(c))
      op <- Gen.oneOf("=", "<", "<=", ">", ">=", "in", "notnull")
    } yield op match {
      case "=" => col(c) === lit(v)
      case "<" => col(c) < lit(v)
      case "<=" => col(c) <= lit(v)
      case ">" => col(c) > lit(v)
      case ">=" => col(c) >= lit(v)
      case "in" => col(c).isin(vs.toSeq: _*)
      case _ => col(c).isNotNull
    }
    val preds = samples(leaf, 24) ++
      samples(Gen.zip(leaf, leaf).map { case (a, b) => a && b }, 12) ++
      Seq(col("k") > 5L && col("k") < 0L, // an empty range
        col("k") >= Long.MinValue && col("k") <= Long.MaxValue)
    preds.foreach { p =>
      val want = reference.filter(p).select("id").as[Long].collect().toSet
      val wantIds = reference.filter(p).select("__f", "__p")
        .as[(String, Long)].collect().toSet
      for (df <- Seq(packed, split)) {
        assert(df.filter(p).select("id").as[Long].collect().toSet == want,
          s"$p")
        val ids = rowIds(df, p)
        assert(ids.length == wantIds.size && ids.toSet == wantIds,
          s"row ids under $p")
      }
      // the limit proof only counts rows once no filter can drop them
      val got = packed.filter(p).limit(7).select("id").as[Long].collect()
      assert(got.length == math.min(7, want.size) && got.forall(want),
        s"LIMIT 7 over $p: ${got.toSeq}")
    }
    reference.unpersist()
  }

  test("binary quantization law: codes match the scalar MSB-first pack " +
      "and hamming equals the sign-disagreement count") {
    import graft.operators.Similarity
    // values straddle zero and include exact ±0 (the sign rule's edge:
    // -0.0f >= 0 is true in Java, DuckDB, and IEEE alike)
    val coord: Gen[Float] = Gen.frequency(
      8 -> Gen.chooseNum(-1.0f, 1.0f), 1 -> Gen.const(0.0f),
      1 -> Gen.const(-0.0f))
    val vecGen: Gen[List[Float]] = Gen.listOfN(64, coord)
    val pairs = samples(for { a <- vecGen; b <- vecGen } yield (a, b), 60)
    def pack(v: Seq[Float], from: Int): Long =
      v.slice(from, from + 32).foldLeft(0L)(
        (acc, x) => acc * 2 + (if (x >= 0) 1L else 0L))
    val df = pairs.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "va", "vb")
    val qa = Similarity.binaryQuantize(df, "va")
      .withColumnRenamed("code_a", "aa").withColumnRenamed("code_b", "ab")
    val out = Similarity.binaryQuantize(qa, "vb")
      .withColumn("ham", Similarity.bqHamming(
        col("aa"), col("ab"), col("code_a"), col("code_b")))
      .select(col("id"), col("aa"), col("ab"),
        col("code_a").as("ba"), col("code_b").as("bb"),
        col("ham").cast("long").as("ham"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val (aa, ab, ba, bb, ham) = out(i.toLong)
      assert(aa == pack(a, 0) && ab == pack(a, 32),
        s"case $i: left codes ($aa,$ab) != scalar pack")
      assert(ba == pack(b, 0) && bb == pack(b, 32),
        s"case $i: right codes ($ba,$bb) != scalar pack")
      val want = a.zip(b).count { case (x, y) => (x >= 0) != (y >= 0) }
      assert(ham == want, s"case $i: hamming $ham != $want")
    }
  }

  test("tokenizer round-trip law: unigram and WordPiece segmentations " +
      "concatenate back to the corpus words on random corpora") {
    import graft.operators.TextAnalysis
    // random lowercase corpora (the tokenizer path normalizes case;
    // the law under test is segmentation, not normalization)
    val word: Gen[String] = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, Gen.choose('a', 'f'))
    } yield cs.mkString
    val doc: Gen[String] = for {
      k <- Gen.choose(0, 12)
      ws <- Gen.listOfN(k, word)
    } yield ws.mkString(" ")
    val corpus = samples(doc, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val want = corpus.select(col("doc_id"),
        concat_ws("", tokens(col("text"))).as("w"))
      .as[(Long, String)].collect().toMap
    val vocab = TextAnalysis.unigramLmVocab(corpus, "text", 3, 24)
    for ((nm, enc) <- Seq(
        "unigram" -> TextAnalysis.unigramEncode(
          corpus, "doc_id", "text", vocab, 3),
        "wordpiece" -> TextAnalysis.wordPieceEncode(
          corpus, "doc_id", "text", vocab, 3))) {
      val got = enc.select(col("doc_id"),
          regexp_replace(col(enc.columns(2)), " ", "").as("w"))
        .as[(Long, String)].collect().toMap
      assert(got == want,
        s"$nm must reassemble every word exactly: " +
          s"${got.toSeq.diff(want.toSeq).take(3)}")
    }
  }

  test("hilbert round-trips random cells at random depths and stays " +
      "a neighbor-continuous walk on sampled prefixes") {
    import graft.expressions.Hilbert
    val cases = samples(for {
      bits <- Gen.choose(1, 31)
      x <- Gen.choose(0L, (1L << bits) - 1)
      y <- Gen.choose(0L, (1L << bits) - 1)
    } yield (bits, x, y), 300)
    for ((bits, x, y) <- cases) {
      val d = Hilbert.index(x, y, bits)
      assert(d >= 0 && d < (1L << (2 * bits)), s"d=$d out of range at bits=$bits")
      assert(Hilbert.xy(d, bits) == ((x, y)), s"bits=$bits ($x,$y)")
    }
    // adjacency on random consecutive index pairs at bits=10
    for (d <- samples(Gen.choose(0L, (1L << 20) - 2), 200)) {
      val (x1, y1) = Hilbert.xy(d, 10)
      val (x2, y2) = Hilbert.xy(d + 1, 10)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("exactKth equals the sorted order statistic on random " +
      "multisets with duplicates and extremes") {
    import graft.operators.Sketches
    val xs = samples(Gen.oneOf(
      Gen.choose(-1000L, 1000L),
      Gen.oneOf(Long.MinValue + 1, Long.MaxValue - 1, 0L, -1L, 1L)), 400)
    val sorted = xs.sorted
    val df = xs.toDF("x").repartition(11)
    for (k <- samples(Gen.choose(1, xs.size), 12)) {
      val got = Sketches.exactKth(df, "x", k.toLong)
        .as[(Long, Long)].head()._2
      assert(got == sorted(k - 1), s"k=$k: $got != ${sorted(k - 1)}")
    }
  }

  test("heavyHittersExact equals groupBy-HAVING on random skewed " +
      "corpora at random k") {
    import graft.operators.Sketches
    val vals = samples(Gen.frequency(
      (6, Gen.const("hot")), (3, Gen.const("warm")),
      (2, Gen.const("mild")),
      (5, Gen.choose(0, 200).map(i => s"cold$i"))), 600)
    val df = vals.toDF("x").repartition(13)
    val n = vals.size
    for (k <- Seq(2, 3, 5, 10, 50)) {
      val want = vals.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }
        .map { case (v, c) => (v, c, c * 1000 / n) }.toSet
      val got = Sketches.heavyHittersExact(df, "x", k)
        .as[(String, Long, Long)].collect().toSet
      assert(got == want, s"k=$k: ${got.diff(want)} / ${want.diff(got)}")
    }
  }

  test("cusumDrift reflection form equals the direct recursive fold " +
      "on random walks") {
    import graft.operators.Temporal
    import java.sql.Timestamp
    val vs = samples(Gen.choose(0.0, 20.0), 120)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      ("s", (i + 1).toLong,
        new Timestamp(1700000000000L + i * 60000L), v) }
      .toDF("series", "id", "ts", "value")
    val ref = 10000000L
    val thr = 15000000L
    // direct fold over the same micro quantization
    var s = 0L
    val wantAlarms = vs.zipWithIndex.flatMap { case (v, i) =>
      s = math.max(0L, s + (math.floor(v * 1000000).toLong - ref))
      if (s > thr) Some(((i + 1).toLong, s)) else None
    }.toMap
    val got = Temporal.cusumDrift(rows, "series", "id", "ts", "value",
        ref, thr)
      .select("id", "cusum_micro").as[(Long, Long)].collect().toMap
    assert(got == wantAlarms,
      s"diff: ${got.toSet.diff(wantAlarms.toSet).take(3)} / " +
        s"${wantAlarms.toSet.diff(got.toSet).take(3)}")
  }

  test("giniIndex stays in [0, (n-1)/n] and is scale-invariant on " +
      "random mass vectors") {
    import graft.operators.Curation
    val masses = samples(Gen.listOfN(12,
      Gen.choose(1L, 10000L)), 8).filter(_.nonEmpty)
    for (m <- masses) {
      val (n, _, g) = Curation.giniIndex(m.toDF("x"), "x")
        .as[(Long, Long, Long)].head()
      assert(g >= 0L && g <= 1000L * (n - 1) / n, s"$m -> $g")
      val (_, _, g3) = Curation.giniIndex(m.map(_ * 3).toDF("x"), "x")
        .as[(Long, Long, Long)].head()
      // scale invariance up to the milli floor
      assert(math.abs(g3 - g) <= 1L, s"$g vs $g3")
    }
  }
}
