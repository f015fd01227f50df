package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Behavioral specs for dedup / similarity / text analysis: do the
  * operators FIND what they exist to find (duplicates, near-dups,
  * nearest neighbors), not just produce deterministic numbers.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river"),
    (3L, "the quick brown fox jumps over the lazy dog near the old bridge"),
    (4L, "completely different text about spark query engines and shuffles"),
    (5L, "THE QUICK BROWN FOX jumps over the lazy dog near the old river!")
  ).toDF("doc_id", "text")

  test("exactTextGroups: case/punct-insensitive duplicates group") {
    val g = Dedup.exactTextGroups(docs, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // docs 1, 2, 5 normalize identically
    assert(g.exists { case (_, rep, n) => rep == 1L && n == 3L })
    assert(g.length == 3)
  }

  test("minHashLshPairs: near-identical docs are candidates") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))   // identical
    assert(pairs.contains((1L, 5L)))   // identical after normalization
    assert(pairs.contains((1L, 3L)))   // one-word difference
    assert(!pairs.contains((1L, 4L)))  // unrelated
  }

  test("minHashLshPairs: over-cap buckets are dropped, small buckets " +
      "still pair") {
    // docs 1, 2, 5 sign identically, so each of their band buckets
    // holds at least 3 docs; doc 6 copies doc 4 (buckets of 2)
    val d = docs.unionByName(Seq((6L,
        "completely different text about spark query engines and shuffles"))
      .toDF("doc_id", "text"))
    def pairs(cap: Int) = Dedup
      .minHashLshPairs(d, "doc_id", "text", 3, 8, 4, maxBucket = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs(2) == Set((4L, 6L)), pairs(2).toString)
    assert(Set((1L, 2L), (1L, 5L), (2L, 5L), (4L, 6L))
      .subsetOf(pairs(1000)), pairs(1000).toString)
  }

  test("incrementalLshPairs: the cap counts batch and index together") {
    val t = "the quick brown fox jumps over the lazy dog near the old river"
    val u = "completely different text about spark query engines and shuffles"
    // t's band buckets hold one batch doc but three docs in all
    val index = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val batch = Seq((100L, t), (101L, u), (102L, u)).toDF("doc_id", "text")
    def pairs(cap: Int) = Dedup
      .incrementalLshPairs(batch, index, "doc_id", "text", 3, 8, 4,
        maxBucket = cap)
      .select("new_id", "other_id", "other_is_new")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(pairs(2) == Set((101L, 102L, true)), pairs(2).toString)
    assert(pairs(1000) == Set((100L, 1L, false), (100L, 2L, false),
      (101L, 102L, true)), pairs(1000).toString)
  }

  test("ngramJaccardPairs: exact jaccard with df cap") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5, 1000)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 5L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("ngramJaccardPairs: df cap drops universal shingles") {
    // with cap=1 every shared shingle is dropped, so no pairs survive
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.01, 1)
      .count() == 0)
  }

  test("containmentPairs: subset duplication scores 1000 on the short side") {
    // doc 11 is wholly contained in doc 12 (plus a long unrelated
    // tail) — Jaccard is low, containment of A in B is exactly 1.0
    val d = Seq(
      (11L, "alpha beta gamma delta"),
      (12L, "alpha beta gamma delta " +
        "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen"),
      (13L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(d, "doc_id", "text", 2, 0.9, 1000)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("cont_a_milli"), r.getAs[Long]("cont_b_milli"))))
      .toMap
    assert(rows((11L, 12L)) == ((1000L, 157L))) // 3/3 vs 3/19 shingles
    assert(!rows.contains((11L, 13L)))
    // the symmetric jaccard on the same pair is far below 0.9 — the
    // asymmetric direction is what finds it
    assert(Dedup.ngramJaccardPairs(d, "doc_id", "text", 2, 0.9, 1000)
      .filter("id_a = 11 and id_b = 12").count() == 0)
  }

  test("containmentPairs: the df cap drops shingles shared by more " +
      "docs than the cap, before sizes are counted") {
    // docs 21-23 share the three shingles of "aa bb cc dd" (df 3) and
    // differ in their two tail shingles; 24 and 25 are copies (df 2)
    val d = Seq(
      (21L, "aa bb cc dd e1 f1"), (22L, "aa bb cc dd e2 f2"),
      (23L, "aa bb cc dd e3 f3"), (24L, "gg hh ii"), (25L, "gg hh ii")
    ).toDF("doc_id", "text")
    def rows(cap: Int) = Dedup
      .containmentPairs(d, "doc_id", "text", 2, 0.5, cap)
      .select("id_a", "id_b", "cont_a_milli", "cont_b_milli")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows(2) == Set((24L, 25L, 1000L, 1000L)), rows(2).toString)
    assert(rows(1000) == Set((21L, 22L, 600L, 600L),
      (21L, 23L, 600L, 600L), (22L, 23L, 600L, 600L),
      (24L, 25L, 1000L, 1000L)), rows(1000).toString)
  }

  test("containmentPairs: threshold applies to either direction") {
    // short doc on the id_a side: survives via cont_a
    val d1 = Seq(
      (11L, "alpha beta gamma delta"),
      (12L, "alpha beta gamma delta one two three four")
    ).toDF("doc_id", "text")
    // cont_a = 3/3 = 1000, cont_b = 3/7 = 428
    assert(Dedup.containmentPairs(d1, "doc_id", "text", 2, 0.99, 1000)
      .count() == 1)
    // short doc on the id_b side: cont_a = 428, cont_b = 1000 — the
    // OR must still keep the pair at a threshold cont_a alone misses
    val d2 = Seq(
      (11L, "alpha beta gamma delta one two three four"),
      (12L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(d2, "doc_id", "text", 2, 0.99, 1000)
      .collect()
    assert(r.length == 1 &&
      r(0).getAs[Long]("cont_a_milli") == 428L &&
      r(0).getAs[Long]("cont_b_milli") == 1000L)
  }

  test("simHash: identical-normalization docs get identical hashes") {
    val h = Dedup.withSimHash(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(h(1L) == h(2L) && h(1L) == h(5L))
  }

  test("simHashPairs: banded join finds hamming<=3 pairs") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 16, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("duplicateClusters: components get the min id, chains converge") {
    val ids = (1L to 7L).toDF("id")
    // components: {1,2,3} (chain), {4,5}, {6}, {7}
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("exactByKey: one representative per key, smallest tiebreak") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
    val out = Dedup.exactByKey(df, Seq("k"), "id")
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted
    assert(out.toSeq == Seq(("a", 1L), ("b", 3L)))
  }

  test("bruteForceTopK: self is nearest, k bounds output") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 1L).select($"embedding".as("qvec"))
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 2)
      .collect().map(_.getLong(0))
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("lshTopK: probes only the query bucket but still ranks by cosine") {
    val vecs = (0 until 50).map(i =>
        (i.toLong, Array.tabulate(8)(j =>
          (math.sin(i * 17 + j) * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L).select($"embedding".as("qvec"))
    val top = Similarity.lshTopK(vecs, "vec_id", "embedding", q, 4, 5)
      .collect()
    assert(top.nonEmpty && top.head.getLong(0) == 0L)
  }

  test("native graft_dot: bit-identical to the HOF fold") {
    import org.apache.spark.sql.functions._
    val vecs = (0 until 40).map(i =>
        (i.toLong, Array.tabulate(16)(j =>
          (math.sin(i * 31 + j * 7) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    val both = vecs.crossJoin(
        vecs.select($"embedding".as("other")).limit(5))
      .select(
        graft.functions.dotProduct($"embedding", $"other").as("fold"),
        graft.functions.dotProductNative($"embedding", $"other").as("native"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native graft_dot: null on length mismatch or null element") {
    import org.apache.spark.sql.functions._
    val a = array(lit(1.0f), lit(2.0f))
    val b = array(lit(1.0f), lit(2.0f), lit(3.0f))
    assert(eval(graft.functions.dotProductNative(a, b)) == null)
    val c = array(lit(1.0f), lit(null).cast("float"))
    assert(eval(graft.functions.dotProductNative(a, c)) == null)
  }

  test("TextAnalysis.analyze: plausible metrics on known text") {
    val df = Seq((1L, "the cat and the dog sat of the mat and that is that"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.analyze(df, "text").collect()(0)
    assert(r.getAs[Long]("ws_tokens") == 13L)
    assert(r.getAs[String]("lang_id") == "en")
    assert(r.getAs[Double]("stopword_ratio") > 0.5)
    assert(r.getAs[Double]("quality") > 0.0 &&
      r.getAs[Double]("quality") <= 1.0)
  }

  test("TextAnalysis wrappers agree with the one-pass analyze columns") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "the cat, and a dog! sat."))
      .toDF("doc_id", "text")
    val viaAnalyze = TextAnalysis.analyze(df, "text").collect()(0)
    val viaWrappers = df.select(
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"),
        TextAnalysis.stopwordRatio(col("text")).as("sr"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"),
        TextAnalysis.rollingHashFingerprint(col("text")).as("rfp"))
      .collect()(0)
    assert(viaWrappers.getAs[Long]("ws") == viaAnalyze.getAs[Long]("ws_tokens"))
    assert(viaWrappers.getAs[Double]("sr") ==
      viaAnalyze.getAs[Double]("stopword_ratio"))
    assert(viaWrappers.getAs[Double]("q") == viaAnalyze.getAs[Double]("quality"))
    assert(viaWrappers.getAs[String]("fp") ==
      viaAnalyze.getAs[String]("fingerprint"))
    assert(viaWrappers.getAs[Long]("rfp") ==
      viaAnalyze.getAs[Long]("rolling_fp"))
  }

  test("TextAnalysis.langId: und for empty, de for german function words") {
    assert(eval(TextAnalysis.langId(
      org.apache.spark.sql.functions.lit(""))) == "und")
    assert(eval(TextAnalysis.langId(org.apache.spark.sql.functions.lit(
      "der hund ist nicht ein das und der die"))) == "de")
  }

  test("native graft_rolling_fp: bit-identical to the HOF fold") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "品牌 NEXTUXURY 材质 金属"),
      (4L, "a"), (5L, "x " * 500))
      .toDF("doc_id", "text")
    val both = docs.select(
        graft.functions.rollingFingerprint($"text").as("hof"),
        call_function("graft_rolling_fp",
          graft.functions.tokens($"text")).as("native"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native graft_rolling_fp: null array -> null, null element -> null") {
    import org.apache.spark.sql.functions._
    assert(eval(call_function("graft_rolling_fp",
      lit(null).cast("array<string>"))) == null)
    assert(eval(call_function("graft_rolling_fp",
      array(lit("a"), lit(null).cast("string")))) == null)
    assert(eval(call_function("graft_rolling_fp",
      array().cast("array<string>"))) == 0L)
  }

  test("native graft_minhash: bit-identical to the HOF signature") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, ""), (3L, "short"), (4L, "one two three"),
      (5L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val native = Dedup.withMinHashSignature(docs, "text", 3, 8)
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = Dedup.withMinHashSignatureHof(docs, "text", 3, 8)
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == hof.keySet)
    native.foreach { case (id, sig) => assert(sig == hof(id), s"doc $id") }
    // empty/short docs (no 3-shingles) pin every position at the prime
    assert(native(2L).forall(_ == graft.functions.HashPrime31))
    assert(native(3L).forall(_ == graft.functions.HashPrime31))
  }

  test("native graft_shingles: identical to the HOF formulation") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b c d e"), (2L, ""), (3L, "x y"),
      (4L, "品牌 nextuxury 材质 金属 金属"))
      .toDF("doc_id", "text")
    val both = docs.select(
        graft.functions.shingles(col("text"), 3).as("hof"),
        call_function("graft_shingles",
          graft.functions.tokens(col("text")), lit(3)).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("fused graft_minhash_text: identical to shingle+distinct+minhash") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b c d e f g"), (2L, ""), (3L, "x y"),
      (4L, "p q p q p q p q"), (5L, "品牌 nextuxury 材质 金属 金属 x"))
      .toDF("doc_id", "text")
    val both = docs.select(
        call_function("graft_minhash_text",
          graft.functions.tokens($"text"), lit(3), lit(8)).as("fused"),
        call_function("graft_minhash",
          array_distinct(call_function("graft_shingles",
            graft.functions.tokens($"text"), lit(3))), lit(8))
          .as("staged"))
      .collect()
    both.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("native graft_simhash: identical to the explode+groupBy formulation") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "one token"), (4L, "品牌 NEXTUXURY 材质 金属"),
      (5L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val native = Dedup.withSimHash(docs, "doc_id", "text", 16)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grouped = Dedup.withSimHashGroupBy(docs, "doc_id", "text", 16)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == grouped)
    assert(native(2L) == 0L)          // empty doc -> 0 on both paths
    assert(native(1L) == native(5L))  // identical docs agree
  }

  test("native expressions are callable from plain SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_rolling_fp(array('a', 'b')) AS fp,
        |  graft_simhash(array('a', 'b'), 16) AS sh,
        |  size(graft_minhash(array('a b c'), 8)) AS k,
        |  size(graft_minhash_text(array('a','b','c','d'), 3, 8)) AS kt,
        |  graft_shingles(array('x', 'y', 'z'), 2) AS sg,
        |  graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
        |""".stripMargin).collect()(0)
    assert(r.getAs[Long]("fp") > 0L)
    assert(r.getAs[Int]("k") == 8)
    assert(r.getAs[Int]("kt") == 8)
    assert(r.getSeq[String](r.fieldIndex("sg")) == Seq("x y", "y z"))
    assert(r.getAs[Double]("d") == 11.0)
  }

  test("native expressions reject wrong input types at analysis time") {
    import org.apache.spark.sql.functions._
    def fails(sql: String): Unit =
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
    fails("SELECT graft_rolling_fp(array(1, 2))")     // not array<string>
    fails("SELECT graft_minhash(array('a'), 'k')")    // k not int
    fails("SELECT graft_simhash('abc', 16)")          // not an array
    fails("SELECT graft_shingles(array('a'), 2.5)")   // n not int literal
  }

  test("keepBestPerCluster: highest score wins, ties to smallest id") {
    val clustered = Seq(
      (1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 30L), // cluster 1: 2 wins tie
      (4L, 4L, 5L))                                // singleton survives
      .toDF("doc_id", "cluster_id", "score")
    val kept = Dedup.keepBestPerCluster(clustered, "doc_id",
        "cluster_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 4L))
  }

  test("kmeansCentroids: separated clusters converge to their means") {
    // two tight clusters around orthogonal axes; seeds 0 and 1 land
    // one in each, so 2-means must recover the per-cluster means
    val vecs = ((0 until 10).map(i =>
        (i.toLong * 2, Array(10f + i, 0f, 0f, 0f))) ++
      (0 until 10).map(i =>
        (i.toLong * 2 + 1, Array(0f, 10f + i, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val cs = operators.Similarity.kmeansCentroids(
        vecs, "vec_id", "embedding", 2, 2, 4)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1), r.getLong(2))).sortBy(_._1)
    assert(cs.length == 2)
    assert(cs.forall(_._3 == 10L))
    val m = (0 until 10).map(10.0 + _).sum / 10.0
    assert(math.abs(cs(0)._2(0) - m) < 1e-9 && cs(0)._2(1) == 0.0)
    assert(math.abs(cs(1)._2(1) - m) < 1e-9 && cs(1)._2(0) == 0.0)
    // deterministic: re-running trains bit-identical centroids
    val again = operators.Similarity.kmeansCentroids(
        vecs, "vec_id", "embedding", 2, 2, 4)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1), r.getLong(2))).sortBy(_._1)
    assert(cs.toSeq == again.toSeq)
  }

  test("groupCentroids: scalable integer-sum path ≈ ordered fold (≤1µ/dim)") {
    // mixed-sign components with several members per label — the
    // micro-quantized SUM must land within one micro of the exact
    // id-ordered double fold on every dimension (floor error is
    // < 1µ per member, and the mean divides it back down)
    val vecs = (0 until 60).map { i =>
      (i.toLong, s"l${i % 3}",
        Array.tabulate(8)(j => ((i * 31 + j * 17) % 101 - 50) / 7.0f))
    }.toDF("vec_id", "label", "embedding")
    val exact = operators.Similarity
      .groupCentroids(vecs, "label", "vec_id", "embedding", 8)
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    val scalable = operators.Similarity
      .groupCentroidsScalable(vecs, "label", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(scalable.keySet == exact.keySet)
    exact.foreach { case (label, (cv, n)) =>
      val (scv, sn) = scalable(label)
      assert(sn == n, s"member count mismatch for $label")
      cv.zip(scv).zipWithIndex.foreach { case ((e, s), dim) =>
        assert(math.abs(e - s) <= 1e-6,
          s"label=$label dim=$dim exact=$e scalable=$s")
      }
    }
  }

  test("kmeansCentroidsScalable: recovers separated clusters like the fold") {
    val vecs = ((0 until 10).map(i =>
        (i.toLong * 2, Array(10f + i, 0f, 0f, 0f))) ++
      (0 until 10).map(i =>
        (i.toLong * 2 + 1, Array(0f, 10f + i, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val fold = operators.Similarity.kmeansCentroids(
        vecs, "vec_id", "embedding", 2, 2, 4)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1), r.getLong(2))).sortBy(_._1)
    val sum = operators.Similarity.kmeansCentroidsScalable(
        vecs, "vec_id", "embedding", 2, 2)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1), r.getLong(2))).sortBy(_._1)
    assert(sum.length == fold.length)
    fold.zip(sum).foreach { case ((fc, fv, fn), (sc, sv, sn)) =>
      assert(fc == sc && fn == sn)
      fv.zip(sv).foreach { case (f, s) =>
        assert(math.abs(f - s) <= 1e-6, s"cid=$fc fold=$f scalable=$s")
      }
    }
  }

  test("kmeansParallelSeeds: deterministic, partition-independent, " +
      "one seed per separated cluster") {
    // four tight clusters on orthogonal axes — weighted
    // farthest-first must land exactly one seed in each, and the
    // md5-gated sampling must not care how the input is partitioned
    val vecs = (0 until 40).map { i =>
      val axis = i % 4
      val v = Array.fill(4)(0f); v(axis) = 10f + (i / 4)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    def seeds(df: org.apache.spark.sql.DataFrame) =
      operators.Similarity
        .kmeansParallelSeeds(df, "vec_id", "embedding", 4, 2, 8)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    val s1 = seeds(vecs)
    assert(s1.length == 4, s"expected 4 seeds: ${s1.toSeq}")
    // one per cluster: the seed ids cover all four residues mod 4
    assert(s1.map(_._1 % 4).toSet == Set(0L, 1L, 2L, 3L), s1.toSeq)
    // weights = inverted-list sizes; four symmetric clusters of 10
    assert(s1.map(_._2).sum == 40L, s1.toSeq)
    assert(seeds(vecs.repartition(7)).toSeq == s1.toSeq)
  }

  test("graft_shingle_pos_hashes: bit-identical to hash60 of the " +
      "joined shingle string, position-for-position") {
    import org.apache.spark.sql.functions._
    import graft.functions.{tokens, hash60}
    val rows = Seq((1L, "the quick brown fox jumps"),
      (2L, "a b"), (3L, "one two three"), (4L, "")).toDF("id", "text")
    val native = rows.select(col("id"),
        posexplode(call_function("graft_shingle_pos_hashes",
          tokens(col("text")), lit(3))).as(Seq("p", "gh")))
    val staged = rows.select(col("id"),
        posexplode(call_function("graft_shingles",
          tokens(col("text")), lit(3))).as(Seq("p", "g")))
      .select(col("id"), col("p"), hash60(col("g")).as("gh"))
    assertSameRows(native, staged)
  }

  test("kmeansParallelSeeds refuses a candidate set the driver " +
      "cannot hold, with an actionable message") {
    val vecs = (0L until 10L).map(i => (i, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.kmeansParallelSeeds(vecs, "vec_id",
        "embedding", k = 4, rounds = 1000, l = 1000)
    }
    assert(e.getMessage.contains("maxCandidates"), e.getMessage)
    assert(e.getMessage.contains("rounds"), e.getMessage)
  }

  test("packByTokenBudget: greedy per-bucket packing respects the budget") {
    val docs = (1L to 40L).map(i => (i, 300L)).toDF("doc_id", "n_toks")
    val packed = graft.operators.Sharding
      .packByTokenBudget(docs, "doc_id", "n_toks", 1000L, 4)
    val stats = graft.operators.Sharding.shardStats(packed, "n_toks")
      .collect()
    // every shard except possibly a bucket's last stays within budget
    // + one document (greedy close-out property)
    stats.foreach { r =>
      assert(r.getAs[Long]("tokens") <= 1000L + 300L)
    }
    // deterministic: same input packs identically
    val again = graft.operators.Sharding
      .packByTokenBudget(docs, "doc_id", "n_toks", 1000L, 4)
    assertSameRows(packed, again)
  }

  test("prefixDoubleRanks: rank equality IS prefix equality at every " +
      "doubling width (brute-force law)") {
    import graft.operators.SuffixDedup
    val corpus = Seq(
      (1L, "a b c d a b c d x"),
      (2L, "z a b c d a b q"),
      (3L, "c d a b c d"))
      .toDF("doc_id", "text")
    val toks = corpus.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val pos = SuffixDedup.tokenPositions(corpus, "doc_id", "text")
    for (rounds <- 0 to 3) {
      val width = 1 << rounds
      val ranks = SuffixDedup.prefixDoubleRanks(pos, rounds)
        .as[(Long, Long, Long)].collect()
      def prefix(doc: Long, off: Long): Seq[String] =
        toks(doc).drop(off.toInt).take(width)
      for (a <- ranks; b <- ranks)
        assert((a._3 == b._3) ==
          (prefix(a._1, a._2) == prefix(b._1, b._2)),
          s"width $width: (${a._1},${a._2}) vs (${b._1},${b._2})")
    }
  }

  test("repeatedSpanPairs: aligned window counts, boundaries respected," +
      " short tails excluded") {
    import graft.operators.SuffixDedup
    // docs 1/2 share a 6-token run -> at width 4 that is 3 aligned
    // windows; doc 3 shares only a 3-token run with doc 1 -> below
    // width, no pair; doc 4 ends with a 2-token tail of the shared
    // run -> full-window filter keeps it out
    val corpus = Seq(
      (1L, "p q r s t u x y z"),
      (2L, "m p q r s t u n"),
      (3L, "p q r m m m m"),
      (4L, "k k k k k t u"))
      .toDF("doc_id", "text")
    val got = SuffixDedup
      .repeatedSpanPairs(corpus, "doc_id", "text", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L)), s"got $got")
  }

  test("exciseRepeatedSpans: smallest doc keeps its copy, long runs " +
      "excised in full, untouched docs intact") {
    import graft.operators.SuffixDedup
    // docs 1/2 share a 5-token run (width 4 -> 2 aligned windows
    // covering all 5 tokens on the doc_2 side); doc 3 is untouched
    val corpus = Seq(
      (1L, "p q r s t x y z"),
      (2L, "m p q r s t n o"),
      (3L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val got = SuffixDedup
      .exciseRepeatedSpans(corpus, "doc_id", "text", 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      // doc 1 = smallest id: keeps the run verbatim
      (1L, 8L, 0L, "p q r s t x y z"),
      // doc 2: the 5 run tokens are cut, the flanks survive
      (2L, 8L, 5L, "m n o"),
      (3L, 8L, 0L, "a b c d e f g h")), s"got $got")
  }

  test("ivfTopKFiltered: every hit satisfies the predicate; a full " +
      "probe equals the brute-force filtered top-k") {
    import org.apache.spark.sql.functions._
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(4)(j => (((i + j) % 7).toFloat + 1f)), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val q = vecs.filter($"vec_id" === 0)
      .select(col("embedding").as("qvec"))
    val hits = Similarity.ivfTopKFiltered(vecs, "vec_id", "embedding",
      q, 8, 8, 5, col("label") === 1L)
    val got = hits.select("vec_id").as[Long].collect().toSeq
    assert(got.forall(_ % 3 == 1), s"predicate must hold: $got")
    // nProbe == nCentroids probes every list -> exact filtered top-k
    val brute = Similarity.bruteForceTopK(vecs.filter($"label" === 1L),
      "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == brute, s"full probe must be exact: $got vs $brute")
  }

  test("prototypicalityFilter: keeps the least-prototypical fraction " +
      "per cluster, ties on id, exact integer keep counts") {
    import org.apache.spark.sql.functions._
    // one cluster: ten copies of a prototype + two off-axis outliers;
    // keep 25% of 12 = 3 -> both outliers plus the smallest-id copy
    val rows = (1L to 10L).map(i => (i, Array(1f, 0f, 0f, 0f))) ++
      Seq((11L, Array(0f, 1f, 0f, 0f)), (12L, Array(0f, 1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val kept = Similarity.prototypicalityFilter(df, "vec_id",
        "embedding", 1, 2, 4, 250L)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L, 1L), s"got $kept")
    // boundary fractions
    assert(Similarity.prototypicalityFilter(df, "vec_id", "embedding",
      1, 2, 4, 1000L).count() == 12L)
    assert(Similarity.prototypicalityFilter(df, "vec_id", "embedding",
      1, 2, 4, 0L).count() == 0L)
  }

  test("sharedRunStats: islands of aligned matches collapse to exact " +
      "span lengths; the longest shared run wins max_span_tokens") {
    import graft.operators.SuffixDedup
    // doc1/doc2 share a 10-token run AND a separate 5-token run on a
    // different diagonal; width 4 (rounds 2) => runs of 7 and 2
    // aligned windows => spans 10 and 5, overlap mass 9
    val shared10 = (1 to 10).map(i => s"s$i").mkString(" ")
    val shared5 = (1 to 5).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$shared10 u1 u2 $shared5"),
      (2L, s"v1 v2 v3 $shared5 v4 $shared10"))
      .toDF("doc_id", "text")
    val got = SuffixDedup
      .sharedRunStats(corpus, "doc_id", "text", 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 9L, 10L)), s"got $got")
  }

  test("unimaxBudgets: exact waterfill — caps bind as a prefix, " +
      "leftover splits evenly, totals conserve") {
    import graft.operators.Curation
    def alloc(budget: Long, epochsMilli: Long): Map[String, Long] = {
      // per-group token masses: a 10, b 20, c 100 (one row per token)
      val rows = Seq.fill(1)(("a", 10L)) ++ Seq(("b", 20L)) ++
        Seq(("c", 100L))
      val df = rows.toDF("g", "n")
      Curation.unimaxBudgets(df, "g", "n", budget, epochsMilli)
        .select("g", "alloc_tokens").as[(String, Long)].collect().toMap
    }
    // budget beyond every cap (2 epochs): alloc == cap, leftover unused
    assert(alloc(1000L, 2000L) == Map("a" -> 20L, "b" -> 40L,
      "c" -> 200L))
    // tight budget, generous caps: pure equal split with the odd
    // token going to the (cap, group)-leading group
    assert(alloc(10L, 2000L) == Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
    // mixed: caps 20/40/200, budget 100 -> a and b bind (20+40),
    // c takes the remaining 40 (under its cap)
    assert(alloc(100L, 2000L) == Map("a" -> 20L, "b" -> 40L,
      "c" -> 40L))
    // conservation + cap laws on every case above
    for ((b, e) <- Seq((1000L, 2000L), (10L, 2000L), (100L, 2000L))) {
      val a = alloc(b, e)
      val caps = Map("a" -> 10L * e / 1000, "b" -> 20L * e / 1000,
        "c" -> 100L * e / 1000)
      a.foreach { case (g, v) => assert(v <= caps(g), s"$g over cap") }
      assert(a.values.sum == math.min(b, caps.values.sum),
        s"budget conservation at $b")
    }
  }

  test("packContiguousWindowsFrom: append-only refresh equals the " +
      "full repack; empty state is a cold start") {
    import graft.operators.Sharding
    import org.apache.spark.sql.functions._
    val sizes = Seq(700L, 256L, 10L, 0L, 300L, 17L, 999L, 256L, 40L,
      1L, 123L, 511L)
    val docs = sizes.zipWithIndex
      .map { case (n, i) => (i.toLong + 1, n) }.toDF("doc_id", "n_toks")
    val full = Sharding
      .packContiguousWindows(docs, "doc_id", "n_toks", 256L, 2)
    val oldB = docs.filter($"doc_id" <= 6)
    val newB = docs.filter($"doc_id" > 6)
    val inc = Sharding.packContiguousWindowsFrom(newB, "doc_id",
      "n_toks", 256L, 2, Sharding.packState(
        Sharding.packContiguousWindows(oldB, "doc_id", "n_toks",
          256L, 2)))
    assertSameRows(
      full.filter($"doc_id" > 6).orderBy("doc_id", "window_id"),
      inc.orderBy("doc_id", "window_id"))
    // cold start: empty state table == the base operator
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("base_tokens",
          org.apache.spark.sql.types.LongType))))
    assertSameRows(
      full.orderBy("doc_id", "window_id"),
      Sharding.packContiguousWindowsFrom(docs, "doc_id", "n_toks",
        256L, 2, empty).orderBy("doc_id", "window_id"))
  }

  test("prefixFilterJaccardPairs == brute-force Jaccard join at every " +
      "threshold (completeness law), including the tau=1 prefix-1 edge") {
    // brute force = ngramJaccardPairs with a df cap no shingle reaches
    for (tau <- Seq(0.3, 0.5, 1.0)) {
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        2, tau, dfCap = 1000000)
      val fast = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        2, tau)
      assertSameRows(exact.orderBy("id_a", "id_b"),
        fast.orderBy("id_a", "id_b"))
    }
    // the identical docs 1/2/5 must survive at tau=1.0
    val ones = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
      2, 1.0).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(ones == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("packContiguousWindows: spans tile every document and every " +
      "window; only a bucket's last window underfills") {
    import org.apache.spark.sql.functions._
    // sizes force every interesting case: doc >> cap (spans 3+
    // windows), doc == cap, tiny docs, a zero-token doc (dropped)
    val docs = Seq((1L, 700L), (2L, 256L), (3L, 10L), (4L, 0L),
      (5L, 300L), (6L, 17L), (7L, 999L), (8L, 256L), (9L, 40L),
      (10L, 1L)).toDF("doc_id", "n_toks")
    val spans = graft.operators.Sharding
      .packContiguousWindows(docs, "doc_id", "n_toks", 256L, 2)
      .collect()
    // document conservation: spans of one doc are contiguous from
    // doc_off 0 and sum to the doc's token count
    val byDoc = spans.groupBy(_.getAs[Long]("doc_id"))
    assert(!byDoc.contains(4L), "zero-token doc must vanish")
    val want = Map(1L -> 700L, 2L -> 256L, 3L -> 10L, 5L -> 300L,
      6L -> 17L, 7L -> 999L, 8L -> 256L, 9L -> 40L, 10L -> 1L)
    want.foreach { case (id, n) =>
      val ss = byDoc(id).sortBy(_.getAs[Long]("window_id"))
      assert(ss.map(_.getAs[Long]("n_tokens")).sum == n,
        s"doc $id token conservation")
      assert(ss.head.getAs[Long]("doc_off") == 0L,
        s"doc $id starts at offset 0")
      ss.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("doc_off") ==
            a.getAs[Long]("doc_off") + a.getAs[Long]("n_tokens"),
            s"doc $id spans must be contiguous")
          assert(b.getAs[Long]("window_id") ==
            a.getAs[Long]("window_id") + 1, s"doc $id window adjacency")
        case _ => ()
      }
    }
    // window conservation: within a (bucket, window) the spans tile
    // [0, fill) — start at 0, contiguous, and every window except the
    // bucket's LAST is exactly full
    val stats = graft.operators.Sharding.windowStats(
      graft.operators.Sharding.packContiguousWindows(
        docs, "doc_id", "n_toks", 256L, 2), 256L).collect()
    val lastWin = stats.groupBy(_.getAs[Long]("bucket"))
      .map { case (b, rs) => b -> rs.map(_.getAs[Long]("window_id")).max }
    stats.foreach { r =>
      val (b, w) = (r.getAs[Long]("bucket"), r.getAs[Long]("window_id"))
      if (w != lastWin(b))
        assert(r.getAs[Long]("tokens") == 256L,
          s"non-final window ($b,$w) must be exactly full")
      else assert(r.getAs[Long]("tokens") <= 256L)
    }
    spans.groupBy(r => (r.getAs[Long]("bucket"),
        r.getAs[Long]("window_id"))).foreach { case (k, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("win_off"))
      assert(sorted.head.getAs[Long]("win_off") == 0L,
        s"window $k must start filling at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("win_off") == a.getAs[Long]("win_off")
            + a.getAs[Long]("n_tokens"), s"window $k spans contiguous")
        case _ => ()
      }
    }
  }

  test("leakageSafeSplit never lets a duplicate cluster straddle the split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 200 docs in 100 exact-dup pairs (ids 2k and 2k+1 share text)
    val docs = (0L until 200L).map(i => (i, s"shared text ${i / 2}"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"), md5(col("text")).as("f"))
    val clusters = fps
      .join(fps.groupBy("f").agg(min("doc_id").as("rep_id")), Seq("f"))
      .select("doc_id", "rep_id")
    val split = graft.operators.Dedup
      .leakageSafeSplit(docs, "doc_id", clusters, "rep_id", 30)
    // both members of every pair land on the same side
    val straddlers = split.groupBy("rep_id")
      .agg(countDistinct("split").as("sides"))
      .filter(col("sides") > 1).count()
    assert(straddlers == 0L)
    // the fold actually splits (30% target on 100 clusters)
    val vals = split.filter(col("split") === "val").count()
    assert(vals > 0L && vals < 200L)
    // a doc with no cluster row represents itself, deterministically
    val lone = graft.operators.Dedup.leakageSafeSplit(
      Seq((999L, "x")).toDF("doc_id", "text"), "doc_id",
      clusters.limit(0), "rep_id", 30)
    assert(lone.select("rep_id").as[Long].head() == 999L)
  }

  test("sqEncode codes span [0,255] and reconstruction stays in-cell") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 2.0f, 3.0f)),   // linear ramp
      (2L, Array(5.0f, 5.0f, 5.0f, 5.0f)))   // constant vector
      .toDF("vec_id", "embedding")
    val codes = graft.operators.Similarity
      .sqEncode(vecs, "vec_id", "embedding")
      .select("vec_id", "dim", "code")
      .as[(Long, Long, Long)].collect().toSet
    // ramp: lo=0 hi=3 → floor(x*256/3) capped at 255
    assert(codes.contains((1L, 0L, 0L)))
    assert(codes.contains((1L, 1L, 85L)))
    assert(codes.contains((1L, 2L, 170L)))
    assert(codes.contains((1L, 3L, 255L)))
    // constant vector: all zeros, no division by zero
    assert(codes.filter(_._1 == 2L).forall(_._3 == 0L))
    // reconstruction error per dim is bounded by half a cell width:
    // err <= dims * ((hi-lo)/256 / 2)^2 → micros
    val err = graft.operators.Similarity
      .sqReconstructionError(vecs, "vec_id", "embedding")
      .as[(Long, Long)].collect().toMap
    val cell = 3.0 / 256.0
    assert(err(1L) <= Math.ceil(4 * (cell / 2) * (cell / 2) * 1e6).toLong)
    assert(err(2L) == 0L)
  }

  test("editDistancePairs: substitution/insert/delete neighbors, nothing else") {
    import spark.implicits._
    val words = Seq("cat", "bat", "cart", "ca", "dog")
      .toDF("s").withColumn("id", $"s")
    val pairs = Dedup.editDistancePairs(words, "id", "s")
      .select("id_a", "id_b", "dist")
      .as[(String, String, Int)].collect().toSet
    // ca↔cart (dist 2) block together on "ca" but fail the exact
    // verify; dog shares no block key with anything
    assert(pairs == Set(
      ("bat", "cat", 1),   // substitution
      ("ca", "cat", 1),    // deletion
      ("cart", "cat", 1)), // insertion
      pairs)
    // over-length keys are excluded, never truncated (truncation
    // would fabricate false ED-1 matches)
    val long = (Seq("cat", "x" * 100, "x" * 100 + "y"))
      .toDF("s").withColumn("id", $"s")
    assert(Dedup.editDistancePairs(long, "id", "s").count() == 0L)
    assert(Dedup.editDistancePairs(long, "id", "s",
      maxLen = 200).count() == 1L)
  }

  test("dupSourceMatrix: unordered source pair, counts add up to the pair count") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("id_a", "id_b")
    val docsT = Seq((1L, "src_b"), (2L, "src_a"), (3L, "src_b"),
      (4L, "src_a")).toDF("doc_id", "source")
    val m = Dedup.dupSourceMatrix(pairs, docsT, "doc_id", "source")
      .as[(String, String, Long)].collect().toSet
    // (1,2) crosses b/a → canonical (a,b); (1,3) within b; (2,4) within a
    assert(m == Set(("src_a", "src_b", 1L), ("src_b", "src_b", 1L),
      ("src_a", "src_a", 1L)), m)
    assert(m.toSeq.map(_._3).sum == 3L)
    assert(m.forall { case (a, b, _) => a <= b }) // canonical order
  }

  test("hardNegatives: never the anchor's own label, ranked by similarity") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(0.99f, 0.01f), 1),
      (3L, Array(0.9f, 0.1f), 2), (4L, Array(0.5f, 0.5f), 2),
      (5L, Array(0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val anchors = corpus.filter($"vec_id" === 1L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"),
        $"label".as("qlabel"))
    val negs = Similarity.hardNegatives(corpus, "vec_id", "embedding",
        "label", anchors, 2)
      .select("qid", "neg_id").as[(Long, Long)].collect().toSeq
    // id 2 shares the anchor's label — excluded even though nearest;
    // the two hardest label-2 negatives are 3 then 4
    assert(negs == Seq((1L, 3L), (1L, 4L)), negs)
  }

  test("centroidDrift: identical snapshots sit at cosine ~1, disjoint axes near 0") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(0.8f, 0.2f), 1),
      (3L, Array(0.0f, 1.0f), 2), (4L, Array(0.2f, 0.8f), 2)
    ).toDF("vec_id", "embedding", "label")
    val same = Similarity.centroidDrift(emb, emb, "label", "vec_id",
        "embedding", 2)
      .select("drift_cos").as[Double].collect()
    assert(same.forall(d => math.abs(d - 1.0) < 1e-12), same.toSeq)
    // swap the labels on one side: centroids land on opposite axes
    val swapped = emb.withColumn("label",
      org.apache.spark.sql.functions.expr("3 - label"))
    val far = Similarity.centroidDrift(emb, swapped, "label", "vec_id",
        "embedding", 2)
      .select("drift_cos").as[Double].collect()
    assert(far.forall(_ < 0.6), far.toSeq)
  }

  test("knnClassify: majority of the true cluster wins; self is excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // label 1 hugs the x-axis, label 2 the y-axis
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.95f, 0.05f), 1),
      (4L, Array(0.0f, 1.0f), 2), (5L, Array(0.1f, 0.9f), 2)
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.filter($"vec_id" === 1L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val pred = Similarity.knnClassify(corpus, "vec_id", "embedding",
        "label", q, 3)
      .as[(Long, Int, Long)].collect()
    assert(pred.sameElements(Array((1L, 1, 2L))),
      s"x-axis query must vote label 1 with its 2 x-axis neighbors " +
        s"(self excluded): ${pred.toSeq}")
  }

  test("hammingPairs: over-cap buckets are dropped, small buckets still pair") {
    import spark.implicits._
    // fps 1,2,3 share every chunk (identical); 100,101 share theirs.
    // cap=2 kills the 3-member buckets but keeps the 2-member ones.
    val sigs = Seq(
      (1L, 0x0F0FL), (2L, 0x0F0FL), (3L, 0x0F0FL),
      (100L, 0xA5A0L), (101L, 0xA5A1L)
    ).toDF("id", "fp")
    val pairs = graft.operators.Dedup
      .hammingPairs(sigs, "id", "fp", 16, 4, 3, maxBucket = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)),
      s"hot bucket dropped, sparse bucket kept: $pairs")
    // with the default cap both groups pair up
    val all = graft.operators.Dedup
      .hammingPairs(sigs, "id", "fp", 16, 4, 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L), (100L, 101L)))
  }

  test("incrementalHammingPairs: the cap counts batch and index " +
      "together") {
    // index ids 1, 2 and batch id 100 carry one fingerprint, so each
    // of its (band, chunk) buckets holds 3 ids in all (1 in the batch);
    // batch ids 101, 102 share 3 of their 4 buckets
    val index = Seq((1L, 0x0F0FL), (2L, 0x0F0FL)).toDF("id", "fp")
    val batch = Seq((100L, 0x0F0FL), (101L, 0xA5A0L), (102L, 0xA5A1L))
      .toDF("id", "fp")
    def pairs(cap: Int) = Dedup
      .incrementalHammingPairs(batch, index, "id", "fp", 16, 4, 3,
        maxBucket = cap)
      .select("new_id", "other_id", "other_is_new")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(pairs(2) == Set((101L, 102L, true)), pairs(2).toString)
    assert(pairs(1000) == Set((100L, 1L, false), (100L, 2L, false),
      (101L, 102L, true)), pairs(1000).toString)
  }

  test("incrementalHammingPairs: batch probes index, index never self-pairs") {
    import spark.implicits._
    // index ids 1,2 are near-dups of each other AND of batch id 100;
    // batch ids 100,101 are near-dups of each other; 3 is far from all
    val index = Seq(
      (1L, 0x0F0FL), (2L, 0x0F0EL), (3L, 0xF0F0L)).toDF("id", "fp")
    val batch = Seq(
      (100L, 0x0F0FL), (101L, 0x0F0DL)).toDF("id", "fp")
    val got = graft.operators.Dedup
      .incrementalHammingPairs(batch, index, "id", "fp", 16, 4, 3)
      .select("new_id", "other_id", "other_is_new")
      .as[(Long, Long, Boolean)].collect().toSet
    // (1,2) is an index-index pair — must NOT appear
    assert(got == Set(
      (100L, 1L, false), (100L, 2L, false),   // batch vs index
      (101L, 1L, false), (101L, 2L, false),
      (100L, 101L, true)),                    // batch-internal, once
      got.toString)
  }

  test("decontamBySimilarity: flags near-eval train vecs, argmax ties to smallest eval id") {
    import spark.implicits._
    val train = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // identical to eval 1 AND 2
      (11L, Array(0.0f, 0.9f, 0.1f, 0.0f)),  // close to eval 3 only
      (12L, Array(0.0f, 0.0f, 0.0f, 1.0f))   // orthogonal to all evals
    ).toDF("vec_id", "embedding")
    val eval = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // duplicate of eval 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.decontamBySimilarity(train, eval,
        "vec_id", "embedding", 0.5)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2))))
      .toMap
    assert(r.keySet == Set(10L, 11L), s"only near-eval train flagged: $r")
    // 10 matches evals 1 and 2 at cosine 1 exactly — tie to eval 1
    assert(r(10L)._1 == 1L && r(10L)._2 == 1.0d, s"tie to smallest eid: $r")
    assert(r(11L)._1 == 3L && r(11L)._2 > 0.9d, s"closest eval wins: $r")
  }

  test("semDedupKeep: drops the higher id of each near-dup, keeps singletons") {
    import spark.implicits._
    // two tight near-dup groups on opposite axes + one unrelated vector
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),  // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.98f, 0.02f, 0.0f)),  // near-dup of 3
      (5L, Array(0.0f, 0.0f, 0.0f, -1.0f))    // unrelated
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedupKeep(vecs, "vec_id", "embedding",
        k = 2, iters = 1, dim = 4, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(3L), s"group reps kept: $kept")
    assert(!kept.contains(2L) && !kept.contains(4L), s"dups dropped: $kept")
    assert(kept.contains(5L), s"singleton kept: $kept")
    // pairs never cross clusters: every reported pair shares a cid
    val centroids = Similarity.kmeansCentroids(vecs, "vec_id",
      "embedding", 2, 1, 4).select("cid", "cv")
    val pairs = Similarity.semDedupPairs(vecs, "vec_id", "embedding",
      centroids, 0.95).collect()
    assert(pairs.forall(r => r.getLong(1) < r.getLong(2)))
  }

  test("sqrtRebalance: budgets ∝ isqrt, kept per group = min(budget, n)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed corpus: 100 'en', 25 'fr', 4 'de'
    val docs = ((1 to 100).map(i => (i.toLong, "en")) ++
      (101 to 125).map(i => (i.toLong, "fr")) ++
      (126 to 129).map(i => (i.toLong, "de"))).toDF("doc_id", "lang")
    val budgets = graft.operators.Curation.sqrtBudgets(docs, "lang", 30L)
      .select("lang", "budget").as[(String, Long)].collect().toMap
    // isqrt: 10 / 5 / 2, tot 17 → floor(30*isq/17) = 17 / 8 / 3
    assert(budgets == Map("en" -> 17L, "fr" -> 8L, "de" -> 3L), budgets)
    assert(budgets.values.sum <= 30L)
    val kept = graft.operators.Curation
      .rebalanceKeep(docs, "lang", "doc_id", 30L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept == Map("en" -> 17L, "fr" -> 8L, "de" -> 3L), kept)
    // head share shrank: en was 78% of the corpus, now 17/28
    // deterministic cut: lowest doc_ids survive
    val keptIds = graft.operators.Curation
      .rebalanceKeep(docs, "lang", "doc_id", 30L)
      .filter(col("lang") === "de").select("doc_id")
      .as[Long].collect().toSet
    assert(keptIds == Set(126L, 127L, 128L))
  }

  test("keepByMassBudget: budget met never undershot, cut is minimal, " +
      "highest scores survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // group a: scores 100,50,30,10,10 (total 200); 60% = 120 mass →
    // keep 100 (cum-before 0) and 50 (cum-before 100 < 120): mass 150.
    // group b: one row — always kept at any frac > 0.
    val df = Seq((1L, "a", 100L), (2L, "a", 50L), (3L, "a", 30L),
      (4L, "a", 10L), (5L, "a", 10L), (6L, "b", 7L))
      .toDF("id", "g", "score")
    val kept = graft.operators.Curation
      .keepByMassBudget(df, "g", "score", "id", 600)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 6L), kept)
    // law across fracs: kept mass >= frac*total, and dropping the
    // weakest kept row undershoots (minimality)
    for (frac <- Seq(1, 250, 500, 999, 1000)) {
      val k = graft.operators.Curation
        .keepByMassBudget(df.filter($"g" === "a"), "g", "score", "id",
          frac)
        .select("id", "score").as[(Long, Long)].collect().sortBy(_._1)
      val mass = k.map(_._2).sum
      assert(mass * 1000 >= frac.toLong * 200L,
        s"frac $frac: kept mass $mass undershoots")
      val weakest = k.last._2
      assert((mass - weakest) * 1000 < frac.toLong * 200L,
        s"frac $frac: cut not minimal (could drop $weakest)")
    }
    // ties broken by id: equal scores keep the smaller id first
    val tied = Seq((1L, "t", 10L), (2L, "t", 10L), (3L, "t", 10L))
      .toDF("id", "g", "score")
    val k2 = graft.operators.Curation
      .keepByMassBudget(tied, "g", "score", "id", 400)
      .select("id").as[Long].collect().toSet
    assert(k2 == Set(1L, 2L), k2)
  }

  test("mmrTopK: λ=1 reduces to pure relevance order; a near-duplicate " +
      "of the first pick demotes below a diverse candidate") {
    import graft.operators.Similarity
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a and b are near-duplicates highly relevant to q; c is diverse
    // and moderately relevant
    val corpus = Seq(
      (1L, Seq(1.0f, 0.10f, 0.0f, 0.0f)),   // a: rel ≈ .995
      (2L, Seq(1.0f, 0.11f, 0.0f, 0.0f)),   // b: rel ≈ .994, sim(a,b) ≈ 1
      (3L, Seq(0.5f, 0.80f, 0.0f, 0.0f)))   // c: rel ≈ .53
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("qvec")
    val pure = Similarity.mmrTopK(corpus, "vec_id", "embedding", q,
        1000, 3, 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(pure == Seq(1L, 2L, 3L), s"λ=1 must be relevance order: $pure")
    val diverse = Similarity.mmrTopK(corpus, "vec_id", "embedding", q,
        400, 3, 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(diverse == Seq(1L, 3L, 2L),
      s"the near-duplicate must demote below the diverse pick: $diverse")
    // scores are monotone non-increasing down the ranking at any λ
    val scores = Similarity.mmrTopK(corpus, "vec_id", "embedding", q,
        700, 3, 3)
      .orderBy("rank").select("score_micro").as[Long].collect()
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), scores.toSeq)
  }

  test("recallAtK: identity is 1000, disjoint is 0, partial is exact milli") {
    import graft.operators.Similarity
    val exact = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    def one(a: Seq[Long]) = Similarity
      .recallAtK(exact, a.toDF("vec_id"), "vec_id")
      .as[(Long, Long, Long)].collect()(0)
    assert(one(Seq(1L, 2L, 3L, 4L)) == ((4L, 4L, 1000L)))
    assert(one(Seq(9L, 8L)) == ((4L, 0L, 0L)))
    assert(one(Seq(1L, 3L, 9L)) == ((4L, 2L, 500L)))
    // extra ids on the approx side never inflate recall past k
    assert(one(Seq(1L, 2L, 3L, 4L, 5L, 6L)) == ((4L, 4L, 1000L)))
  }

  test("randomProject: basis vectors read the sign matrix back out") {
    import graft.operators.Similarity
    // projecting the i-th basis vector yields column i of the sign
    // matrix — the projection IS the literal rpSigns family
    val dim = 6
    val basis = (0 until dim).map(i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)))
      .toDF("vec_id", "v")
    val signs = Similarity.rpSigns(3, dim)
    val out = Similarity.randomProject(basis, "v", dim, 3)
      .select("vec_id", "proj")
      .as[(Long, Seq[Double])].collect().toMap
    for (i <- 0 until dim; p <- 0 until 3)
      assert(out(i.toLong)(p) == signs(p)(i))
    // signs are ±1 only, and the rp family differs from all-ones
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(signs.flatten.toSet.size == 2)
  }

  test("rpTopK: exact duplicates stay top-ranked in projected space") {
    import graft.operators.Similarity
    // vec 0 duplicated as vec 7: the projection is a deterministic
    // linear map, so the duplicate keeps cosine 1.0 and leads the
    // shortlist regardless of JL distortion on the rest
    val rnd = new scala.util.Random(42)
    val base = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val vecs = (0L until 7L).map(i =>
      (i, if (i == 0) base else Array.fill(16)(rnd.nextFloat() - 0.5f))) :+
      (7L, base)
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 0)
      .select($"embedding".as("qvec"))
    val top = Similarity.rpTopK(df, "vec_id", "embedding", 16, q, 8, 2)
      .select("vec_id").as[Long].collect().toSet
    assert(top == Set(0L, 7L))
  }

  test("rpRefineTopK: full-corpus shortlist reproduces the exact top-k") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    val df = (0L until 30L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 0)
      .select($"embedding".as("qvec"))
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    // shortlist >= corpus: the refine stage IS the exact search
    val refined = Similarity.rpRefineTopK(df, "vec_id", "embedding",
        16, q, 4, 30, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(refined == exact)
    // a real shortlist can only lose candidates, never invent them
    val short = Similarity.rpRefineTopK(df, "vec_id", "embedding",
        16, q, 4, 10, 5)
      .select("vec_id").as[Long].collect().toSet
    assert(short.subsetOf((0L until 30L).toSet) && short.size == 5)
  }

  test("recallAtKByQuery: per-query recall, missing queries coalesce to 0") {
    import graft.operators.Similarity
    val exact = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 3L))
      .toDF("qid", "vec_id")
    val approx = Seq((10L, 1L), (10L, 9L)).toDF("qid", "vec_id")
    val r = Similarity.recallAtKByQuery(exact, approx, "qid", "vec_id")
      .as[(Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    assert(r(10L) == ((2L, 1L, 500L)))
    assert(r(20L) == ((2L, 0L, 0L)))   // approx returned nothing for q20
  }

  test("mixBudgets: binding group caps the total, budgets never exceed supply, unsatisfiable target = 0") {
    import graft.operators.Curation
    // en 100 docs, de 10, fr 40 — target 50/25/25: de binds
    // (T = 10*1000 div 250 = 40), budgets 20/10/10
    val docs = ((1 to 100).map(i => (s"d$i", "en")) ++
      (1 to 10).map(i => (s"g$i", "de")) ++
      (1 to 40).map(i => (s"f$i", "fr"))).toDF("doc_id", "lang")
    val w = Seq(("en", 500L), ("de", 250L), ("fr", 250L))
      .toDF("lang", "target_milli")
    val b = Curation.mixBudgets(docs, "lang", w)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._4)).toMap
    assert(b("en") == ((100L, 20L)) && b("de") == ((10L, 10L)) &&
      b("fr") == ((40L, 10L)), b)
    // apply keeps exactly the budgets, lowest order first
    val kept = Curation.mixKeep(docs, "lang", "doc_id", w)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept == Map("en" -> 20L, "de" -> 10L, "fr" -> 10L), kept)
    // a weighted language missing from the corpus pins T to 0
    val w2 = Seq(("en", 500L), ("xx", 500L)).toDF("lang", "target_milli")
    assert(Curation.mixKeep(docs, "lang", "doc_id", w2).count() == 0L)
    // zero-weight and unlisted groups are dropped, not sampled
    val w3 = Seq(("en", 1000L), ("de", 0L)).toDF("lang", "target_milli")
    val only = Curation.mixKeep(docs, "lang", "doc_id", w3)
      .select("lang").distinct().as[String].collect().toSeq
    assert(only == Seq("en"), only)
    // a duplicated group in the config must fail loudly, not double
    // its kept rows through the budget join
    val wDup = Seq(("en", 500L), ("en", 500L)).toDF("lang", "target_milli")
    val err = intercept[IllegalArgumentException] {
      Curation.mixBudgets(docs, "lang", wDup)
    }
    assert(err.getMessage.contains("duplicate"), err.getMessage)
  }

  test("sharedSpanPairs: longest run per pair, sub-minSpan excluded") {
    import org.apache.spark.sql.functions._
    // docs 1-2 share the 6-token run "a b c d e f" (4 matching
    // 3-grams on one diagonal => 4 + 3 - 1 = 6); docs 1-3 share only
    // the 3-token "h i j" (one 3-gram => span 3, below minSpan 4)
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f z w"),
      (3L, "h i j q r s t u v n")).toDF("doc_id", "text")
    val out = Dedup.sharedSpanPairs(docs, "doc_id", "text",
        k = 3, minSpan = 4, maxGramDf = 20)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 6L)), out)
    // two disjoint shared runs: only the longest is reported
    val docs2 = Seq(
      (1L, "p q r s GAP1 GAP2 t u v w x"),
      (2L, "p q r s OTHER SEP t u v w x")).toDF("doc_id", "text")
    val out2 = Dedup.sharedSpanPairs(docs2, "doc_id", "text",
        k = 3, minSpan = 4, maxGramDf = 20)
      .as[(Long, Long, Long)].collect().toSeq
    // runs "p q r s" (span 4) and "t u v w x" (span 5) -> max 5
    assert(out2 == Seq((1L, 2L, 5L)), out2)
  }

  test("sharedSpanPairs: corpus-hot grams are df-capped out") {
    import org.apache.spark.sql.functions._
    // the same 8-token template on every doc; with maxGramDf = 2 the
    // template's grams exceed the cap on a 4-doc corpus -> no pairs
    val tpl = "one two three four five six seven eight"
    val docs = (1L to 4L).map(i => (i, tpl)).toDF("doc_id", "text")
    assert(Dedup.sharedSpanPairs(docs, "doc_id", "text",
      k = 3, minSpan = 4, maxGramDf = 2).count() == 0L)
    // raising the cap to corpus size restores the full-length span
    val out = Dedup.sharedSpanPairs(docs, "doc_id", "text",
        k = 3, minSpan = 4, maxGramDf = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.length == 6 && out.forall(_._3 == 8L), out)
  }

  test("lshBandPlan: monotone S-curves, one chosen split, and the " +
      "k=8 tau=0.5 winner is the production (4,2) banding") {
    val plan = Dedup.lshBandPlan(spark, k = 8, threshold = 0.5)
      .select("bands", "rows", "s_centi", "p_micro", "chosen")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    // every split's curve is monotone non-decreasing in s
    plan.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
      val ps = rows.sortBy(_._3).map(_._4).toSeq
      assert(ps == ps.sorted)
    }
    // exactly one split is chosen, and it is minHashLshPairs'
    // default banding (bands=4, rows=2)
    val chosen = plan.filter(_._5).map(r => (r._1, r._2)).distinct
    assert(chosen.toSeq == Seq((4L, 2L)))
    // curves hit ~1 at s=1 (1 - (1-1)^b, up to micro flooring)
    assert(plan.filter(_._3 == 100L).forall(_._4 >= 999999L))
  }

  test("lshRecallReport: identical docs are always recalled; counts " +
      "are consistent") {
    // identical text => identical signature => every band collides,
    // so the (1,2) pair MUST be an LSH candidate (recall law for
    // exact duplicates); the unrelated docs share no 4-grams
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup), (2L, dup),
      (3L, "one two three four five six seven"),
      (4L, "red green blue yellow purple orange pink"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecallReport(docs, "doc_id", "text",
        shingleSize = 4, k = 8, bands = 4, maxBucket = 1000,
        threshold = 0.5)
      .select("n_exact", "n_cand", "hits", "recall_milli",
        "precision_milli")
      .as[(Long, Long, Long, Long, Long)].collect().head
    val (nExact, nCand, hits, recall, precision) = r
    assert(nExact == 1L && hits == 1L && recall == 1000L, r)
    assert(hits <= math.min(nExact, nCand))
    assert(recall <= 1000L && precision <= 1000L)
  }

  test("dedupStats: histogram, totals and dup ratio are exact on a " +
      "hand-built labeling") {
    // 3 singletons, 2 pairs, 1 triple: 10 docs, 6 clusters
    val clusters = Seq(
      (1L, 1L), (2L, 2L), (3L, 3L),
      (4L, 4L), (5L, 4L), (6L, 6L), (7L, 6L),
      (8L, 8L), (9L, 8L), (10L, 8L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.dedupStats(clusters, "doc_id", "cluster_id")
      .orderBy("size")
      .select("size", "n_clusters", "n_docs", "docs_total",
        "clusters_total", "dup_ratio_milli")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // dup ratio = (10 - 6) * 1000 div 10 = 400
    assert(got == Seq(
      (1L, 3L, 3L, 10L, 6L, 400L),
      (2L, 2L, 4L, 10L, 6L, 400L),
      (3L, 1L, 3L, 10L, 6L, 400L)), got)
  }
}
