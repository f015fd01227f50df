package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All formulations are distributed-first: candidate generation goes
  * through an equi-join key (hash, shingle, band bucket, simhash band)
  * so the plan is shuffle-on-key + within-bucket work — never an O(n²)
  * cross join. At 100 TB the bucket join is the only shape that
  * survives; brute-force pairing exists only inside buckets.
  *
  * Hashes are md5-derived (`graft.functions.hash31/hash60`) so every
  * number is reproducible in any engine — needed for oracle testing
  * and for cross-run determinism of candidate sets.
  */
object Dedup {

  /** Ensure at least the session's default parallelism before an
    * expression-heavy narrow map. A single-rowgroup parquet file plans
    * as ONE partition, serializing md5/regex-heavy per-row work onto
    * one core; on a real cluster the input has thousands of splits and
    * this is a no-op (the guard avoids pointless shuffles there). */
  private[operators] def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    // Metadata-only split estimate. executedPlan.outputPartitioning
    // is UnknownPartitioning(0) for file scans AND round-robin
    // repartitions (verified on Spark 4.1) — reading it would make
    // this guard re-shuffle everything forever — and df.rdd forces a
    // plan-to-RDD translation per call. Spark splits file scans by
    // BYTES (packing small files together), so sizeInBytes /
    // maxPartitionBytes tracks the scan's split count: a 100 TB scan
    // estimates huge and the branch is a no-op; a single-rowgroup
    // local file estimates 1 and gets spread. Errors land on the
    // underestimate side (openCostInBytes padding, filter-selectivity
    // stats), which at worst adds a repartition the old RDD count
    // would also have added. Caveat: a large NON-SPLITTABLE input
    // (one gzip'd JSONL/CSV) estimates many splits but scans as ONE
    // partition, so the guard no-ops there — callers feeding
    // compressed text through the dedup ladder must repartition at
    // ingest (Sources does; parquet/ORC are always splittable).
    val maxPart =
      math.max(1L, sess.sessionState.conf.filesMaxPartitionBytes)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes /
      maxPart + 1
    if (est < target) df.repartition(target) else df
  }

  /** Exact dedup: one representative row per key (smallest tieBreak).
    * A groupBy-shaped window, shuffles once on the key. */
  def exactByKey(df: DataFrame, keyCols: Seq[String],
      tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tieBreak).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup on normalized text (md5 fingerprint groups;
    * representative = min id). Returns (fingerprint, rep_id, dup_count). */
  def exactTextGroups(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(md5(normalizeText(col(textCol))).as("fingerprint"),
        col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("rep_id"),
        count(lit(1)).as("dup_count"))

  /** Leakage-safe train/validation split: every document gets the
    * fold of its duplicate-cluster REPRESENTATIVE, so exact/near
    * duplicates can never straddle the split — the classic eval
    * contamination where "generalization" on the held-out set is the
    * model reciting a training-side duplicate. `clusters` maps
    * idCol → repCol (exactTextGroups joined back on fingerprint,
    * duplicateClusters, or LSH clusters all produce one); docs
    * without a cluster row represent themselves. The fold is
    * hashBucket(rep) — md5-derived, so the SAME split reproduces on
    * every engine, run, and scale, and adding documents never moves
    * existing ones across the boundary (no global count or rand()
    * anywhere). One equi-join on the id plus a per-row hash. */
  def leakageSafeSplit(df: DataFrame, idCol: String,
      clusters: DataFrame, repCol: String, valPct: Int,
      salt: String = "split"): DataFrame =
    df.join(clusters.select(col(idCol), col(repCol)), Seq(idCol), "left")
      .withColumn(repCol, coalesce(col(repCol), col(idCol)))
      .withColumn("split",
        when(graft.functions.hashBucket(col(repCol), 100, salt) < valPct,
          lit("val")).otherwise(lit("train")))

  /** Hash-family constants for permutation i — md5-derived so they
    * look random but are reproducible in any engine (the naive
    * a=2i+3 family produces correlated permutations and spurious LSH
    * bucket collisions). `a` is forced odd. */
  def minHashA(i: Int): Long = hash31Lit(s"mh_a:$i") | 1L
  def minHashB(i: Int): Long = hash31Lit(s"mh_b:$i")

  /** MinHash signature: k independent permutation-style hash functions
    * h_i(s) = (A_i * hash31(s) + B_i) mod (2^31-1), min over the doc's
    * DISTINCT shingles. Returns the input plus `sig` array<long>.
    * One narrow map per row; no shuffle.
    *
    * Uses the native expression (graft.expressions.MinHashSigExpr via
    * graft_minhash): each shingle is md5-hashed once and all k minima
    * update in a tight JVM loop — the HOF formulation (kept below as
    * [[withMinHashSignatureHof]] for the bit-parity spec) interprets
    * per-element lambdas. Requires the GraftExtensions session config. */
  def withMinHashSignature(df0: DataFrame, textCol: String,
      shingleSize: Int, k: Int): DataFrame =
    // fully fused kernel: token array -> signature in one call — no
    // shingle array, no distinct pass (min over a multiset equals min
    // over its set), no per-shingle string allocation
    spread(df0).withColumn("sig",
      call_function("graft_minhash_text",
        tokens(col(textCol)), lit(shingleSize), lit(k)))

  /** HOF formulation of [[withMinHashSignature]] — works in bare
    * sessions (no extensions); the shingle array is built and each
    * shingle md5-hashed exactly ONCE (materialized `__mh` column);
    * the per-permutation inner loop is pure 64-bit arithmetic over
    * those precomputed hashes. Folding the md5 into the per-k lambda
    * instead re-evaluates the whole shingle pipeline k times per row
    * — measured 8× slower end-to-end at sf0.1. */
  def withMinHashSignatureHof(df0: DataFrame, textCol: String,
      shingleSize: Int, k: Int): DataFrame = {
    val df = spread(df0)
    val sh = array_distinct(shingles(col(textCol), shingleSize))
    val sig = array((0 until k).map { i =>
      val a = lit(minHashA(i))
      val b = lit(minHashB(i))
      when(size(col("__mh")) === 0, lit(HashPrime31))
        .otherwise(array_min(transform(col("__mh"),
          h => (a * h + b) % HashPrime31)))
    }: _*)
    df.withColumn("__mh", transform(sh, s => hash31(s)))
      .withColumn("sig", sig)
      .drop("__mh")
  }

  /** MinHash + LSH candidate pairs: band the signature, bucket-join on
    * (band, band-slice), emit each unordered pair once with its
    * estimated Jaccard = fraction of agreeing signature positions.
    * Shuffle key is the band bucket — the LSH scale path. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 8, bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val bandedAll = bandedBuckets(df, idCol, textCol, shingleSize, k,
      bands)
    // bucket-size cap: a bucket shared by B docs yields B^2 candidate
    // pairs; giant buckets are boilerplate signatures, not near-dups —
    // dropping them bounds every join key (standard LSH hygiene)
    val key = Seq("band", "bucket")
    val banded = HotKeys.drop(bandedAll,
      HotKeys.over(bandedAll, key, maxBucket), key)
    val l = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / k.toDouble)
          .as("est_jaccard"))
      .distinct()
  }

  /** Shared banding step of the LSH paths: minhash signature (fused
    * native kernel), one row per (id, band) with the band-slice md5
    * bucket. The signature table is localCheckpointed — it is
    * consumed several times (cap census, cap anti join, join sides) and is
    * tiny relative to the text it summarizes (id + k longs); on a
    * real cluster persist it explicitly instead. */
  private def bandedBuckets(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, k: Int,
      bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rowsPerBand = k / bands
    val signed = withMinHashSignature(df, textCol, shingleSize, k)
      .select(col(idCol).as("id"), col("sig"))
      .localCheckpoint(eager = false)
    signed.select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        md5(concat_ws(",",
          col("band"),
          array_join(slice(col("sig"), col("band") * rowsPerBand + 1,
            lit(rowsPerBand)), ","))))
  }

  /** Incremental near-dup detection: candidates of a NEW ingestion
    * batch against an existing corpus (plus within the batch itself)
    * WITHOUT ever self-joining the corpus — the ongoing-curation
    * shape, where history is banded once (in production: a persisted
    * LSH index table) and each arriving batch only joins its own
    * bands against it. Emits (new_id, other_id, other_is_new,
    * est_jaccard); ids of the two frames must be disjoint.
    *
    * Scale: the join's left side is batch-sized; the bucket cap is
    * enforced on the COMBINED bucket population so a boilerplate
    * bucket in history cannot explode an arriving batch. */
  def incrementalLshPairs(newDf: DataFrame, indexDf: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3, k: Int = 8,
      bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val bNew = bandedBuckets(newDf, idCol, textCol, shingleSize, k,
      bands).withColumn("__new", lit(true))
    val all = bNew.unionByName(
        bandedBuckets(indexDf, idCol, textCol, shingleSize, k, bands)
          .withColumn("__new", lit(false)))
      .localCheckpoint(eager = false)
    val key = Seq("band", "bucket")
    val kept = HotKeys.drop(all, HotKeys.over(all, key, maxBucket), key)
    val l = kept.filter(col("__new")).select(col("band"), col("bucket"),
      col("id").as("new_id"), col("sig").as("sig_a"))
    val r = kept.select(col("band"), col("bucket"),
      col("id").as("other_id"), col("sig").as("sig_b"),
      col("__new").as("other_is_new"))
    l.join(r, Seq("band", "bucket"))
      // batch-internal pairs once (a < b); batch-vs-index pairs always
      .filter((col("other_is_new") && col("new_id") < col("other_id"))
        || !col("other_is_new"))
      .select(col("new_id"), col("other_id"), col("other_is_new"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / k.toDouble)
          .as("est_jaccard"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity via the distributed shingle-join:
    * explode distinct shingles, drop shingles whose document frequency
    * exceeds `dfCap`, self-join on shingle (the only shuffle key),
    * count common shingles per pair, then
    * J = common / (|A| + |B| - common). Exact integer arithmetic until
    * one final double division. Emits pairs with jaccard >= threshold.
    *
    * The df-cap is the scale guard: without it one shingle shared by
    * 10^5 docs yields 10^10 pairs in a single bucket. Dropping
    * high-frequency shingles BEFORE the self-join (and before the
    * per-doc size count, so J stays consistent over the filtered
    * shingle space) bounds every bucket at dfCap^2 — standard
    * stop-shingle practice for set-similarity joins. */
  def ngramJaccardPairs(df0: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, dfCap: Int = 1000): DataFrame = {
    val df = spread(df0)
    // materialize the exploded shingle table once: it feeds the df-cap
    // census, the cap's anti join, the per-doc sizes, and BOTH self-join
    // sides — without the checkpoint the interpreted shingle HOF is
    // re-evaluated for each consumer (cluster runs: persist instead)
    val shRaw = df.select(col(idCol).as("id"),
        explode(array_distinct(call_function("graft_shingles",
          tokens(col(textCol)), lit(n)))).as("shingle"))
      .localCheckpoint(eager = false)
    // df cap: shingles past it are boilerplate
    val sh = HotKeys.drop(shRaw,
        HotKeys.over(shRaw, Seq("shingle"), dfCap), Seq("shingle"))
      .localCheckpoint(eager = false)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.select(col("id").as("id_a"), col("shingle"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
  }

  /** Prefix-filtered set-similarity join (Chaudhuri/Ganti/Kaushik
    * 2006 "SSJoin"; Xiao et al. 2008 "PPJoin"): ALL pairs with
    * shingle-Jaccard >= `threshold`, with NO df-cap recall loss —
    * the exact-join alternative to [[ngramJaccardPairs]]'s
    * stop-shingle heuristic.
    *
    * The filter theorem: order every document's shingles by one
    * consistent total order (here (df, shingle) — rarest first, ties
    * bytewise) and keep only each document's first
    * L = |s| - ceil(τ·|s|) + 1 shingles as its PREFIX. Any pair with
    * J >= τ must overlap in |A∩B| >= τ/(1+τ)·(|A|+|B|) elements, which
    * forces the two prefixes to share at least one shingle — so the
    * candidate join runs over prefixes only (~(1-τ) of the shingle
    * mass; at τ=0.8 that is 5× fewer rows into the hot equi-join, and
    * the rarest-first order makes the surviving buckets the SMALLEST
    * ones). PPJoin's length filter (τ·|A| <= |B| <= |A|/τ) prunes
    * candidates before verification; verification then counts the
    * true intersection for candidate pairs only (cost: candidates ×
    * doc size, never corpus²).
    *
    * Worst case is honest: if the output itself is quadratic (a
    * corpus of near-identical docs) no filter saves the join — that
    * corpus shape is what [[exactTextGroups]] + [[minHashLshPairs]]
    * are for upstream. */
  def prefixFilterJaccardPairs(df0: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    val df = spread(df0)
    val shRaw = df.select(col(idCol).as("id"),
        explode(array_distinct(call_function("graft_shingles",
          tokens(col(textCol)), lit(n)))).as("shingle"))
      .localCheckpoint(eager = false)
    val dfs = shRaw.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wp = Window.partitionBy("id").orderBy(col("df"), col("shingle"))
    // n_sh via a window over the SAME id partitioning as the prefix
    // rank — one exchange serves both, where a sizes join would add
    // its own shuffle of the full shingle table
    val prefix = shRaw.join(dfs, Seq("shingle"))
      .withColumn("n_sh",
        count(lit(1)).over(Window.partitionBy("id")))
      .withColumn("__pos", row_number().over(wp))
      // float-robust prefix cutoff: when n·τ is mathematically an
      // exact integer the double product can land a hair ABOVE it and
      // ceil would overshoot, shortening the prefix by one and
      // silently dropping a qualifying pair. The 1e-9 nudge errs
      // toward a LONGER prefix — extra candidates only, never recall
      // loss (n·τ < 2^31 keeps the nudge below one ulp of slack).
      .filter(col("__pos") <=
        col("n_sh") - ceil(col("n_sh") * threshold - lit(1e-9)) + 1)
      .select(col("id"), col("shingle"), col("n_sh"), col("__pos"))
    val cand = ppjoinCandidates(prefix, threshold,
      positionalBound = true)
    // verification: per-candidate array_intersect over each doc's
    // COLLECTED shingle set — candidate-bounded narrow work (two
    // row-per-doc joins), never a re-exploded corpus shuffle; string
    // shingles keep it exact, no fingerprint in the loop. Only pairs
    // surviving the aggregated positional bound ship their sets.
    val sets = shRaw.groupBy("id")
      .agg(sort_array(collect_list(col("shingle"))).as("__set"))
    cand
      .join(sets.select(col("id").as("id_a"), col("__set").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("__set").as("__sb")),
        Seq("id_b"))
      .withColumn("common",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("n_a", size(col("__sa")).cast("long"))
      .withColumn("n_b", size(col("__sb")).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
  }

  /** Candidate-pair generation of [[prefixFilterJaccardPairs]]: the
    * prefix self-join, the length-ratio filter, and (when
    * `positionalBound`) the AGGREGATED PPJoin positional filter
    * (Xiao et al. 2008, "Efficient similarity joins for near
    * duplicate detection"). With pm = common-in-both-prefixes count
    * and (pa_max, pb_max) the LAST such match's positions, every
    * other common shingle sits after both (shingles appear in the
    * same global df-order in every doc), so
    *   overlap ≤ pm + min(n_a − pa_max, n_b − pb_max)
    * and pairs whose cap cannot reach the J ≥ τ overlap floor
    * τ/(1+τ)·(n_a+n_b) are rejected BEFORE the verify stage ever
    * ships their shingle sets — strictly tighter than the per-match
    * first-position bound (that one is this bound at pm = 1), at the
    * cost of one pair-keyed aggregate that replaces the distinct()
    * the join needed anyway. The floor carries a 1-token slack so
    * float rounding can only keep a pair, never drop a qualifying
    * one. Exposed for the scale spec: the bound must shrink the
    * verify-stage input, not just the final answer. */
  private[graft] def ppjoinCandidates(prefix: DataFrame,
      threshold: Double, positionalBound: Boolean): DataFrame = {
    val overlapFloor =
      lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b")) -
        lit(1.0)
    val joined = prefix
      .select(col("id").as("id_a"), col("shingle"),
        col("n_sh").as("n_a"), col("__pos").as("__pa"))
      .join(prefix.select(col("id").as("id_b"), col("shingle"),
        col("n_sh").as("n_b"), col("__pos").as("__pb")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("n_b").cast("double") >= col("n_a") * threshold &&
        col("n_a").cast("double") >= col("n_b") * threshold)
    if (!positionalBound) joined.select("id_a", "id_b").distinct()
    else joined
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        count(lit(1)).as("__pm"),
        max(col("__pa")).as("__pa_max"),
        max(col("__pb")).as("__pb_max"))
      .filter((col("__pm") + least(col("n_a") - col("__pa_max"),
        col("n_b") - col("__pb_max"))).cast("double") >= overlapFloor)
      .select("id_a", "id_b")
  }

  /** Asymmetric containment pairs (Broder 1997, "On the resemblance
    * and containment of documents"): for candidate pairs sharing a
    * rare shingle, emit containment in BOTH directions —
    * c_a = |A∩B|/|A| (how much of A lives inside B) and the mirror
    * c_b. Jaccard misses subset duplication: a paragraph wholly
    * quoted inside a 100× longer page scores J ≈ 0.01 but c_a = 1.0
    * — exactly the nested-duplicate shape crawl corpora are full of
    * (quoted posts, syndicated articles inside portals). A pair
    * survives when EITHER direction reaches `threshold`.
    *
    * Same scale posture as [[ngramJaccardPairs]] (shared plan up to
    * the pair counts): shingles df-capped BEFORE the self-join, so
    * no bucket exceeds dfCap² and sizes are measured over the same
    * filtered shingle space the intersection uses. Milli-quantized
    * integer containments ride along for cross-engine thresholding. */
  def containmentPairs(df0: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, dfCap: Int = 1000): DataFrame = {
    val df = spread(df0)
    val shRaw = df.select(col(idCol).as("id"),
        explode(array_distinct(call_function("graft_shingles",
          tokens(col(textCol)), lit(n)))).as("shingle"))
      .localCheckpoint(eager = false)
    // df cap: shingles past it are boilerplate
    val sh = HotKeys.drop(shRaw,
        HotKeys.over(shRaw, Seq("shingle"), dfCap), Seq("shingle"))
      .localCheckpoint(eager = false)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.select(col("id").as("id_a"), col("shingle"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("cont_a_milli",
        expr("(common * 1000) div n_a"))
      .withColumn("cont_b_milli",
        expr("(common * 1000) div n_b"))
      .filter(col("cont_a_milli") >= (threshold * 1000).toLong ||
        col("cont_b_milli") >= (threshold * 1000).toLong)
      .select("id_a", "id_b", "common", "n_a", "n_b",
        "cont_a_milli", "cont_b_milli")
  }

  /** SimHash over distinct tokens, `bits` wide (<= 32): majority vote
    * per bit of each token's md5-derived hash. Ties (sum == 0) set the
    * bit, matching `vote >= 0`.
    *
    * Uses the native expression (graft.expressions.SimHashExpr via
    * graft_simhash): a pure narrow map, ZERO shuffles. The relational
    * formulation (kept as [[withSimHashGroupBy]] for the parity spec)
    * pays an explode+groupBy shuffle plus a join back — at 100 TB that
    * is two full exchanges for a per-row computation. Requires the
    * GraftExtensions session config. */
  def withSimHash(df0: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame =
    spread(df0).withColumn("simhash",
      call_function("graft_simhash",
        array_distinct(tokens(col(textCol))), lit(bits)))

  /** Relational groupBy formulation of [[withSimHash]] — works in bare
    * sessions (no extensions). */
  def withSimHashGroupBy(df0: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    val df = spread(df0)
    val toks = df.select(col(idCol),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val voteCols: Seq[Column] = (0 until bits).map(i =>
      sum(when((shiftright(col("h"), i) % 2) === 1, 1).otherwise(-1))
        .as(s"v$i"))
    val agg = toks.withColumn("h", hash31(col("tok")))
      .groupBy(idCol).agg(voteCols.head, voteCols.tail: _*)
    val simhash = (0 until bits).map(i =>
      when(col(s"v$i") >= 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    df.join(agg.select(col(idCol), simhash.as("simhash")), Seq(idCol), "left")
      .withColumn("simhash", coalesce(col("simhash"), lit(0L)))
  }

  /** Near-dup candidate pairs within hamming distance `maxDist` of
    * each other's simhash, via BANDED bucket joins: the fingerprint is
    * cut into `bands` equal bit-chunks; two fingerprints within
    * hamming distance < bands must agree exactly on at least one chunk
    * (pigeonhole), so an equi-join per (band, chunk) finds every such
    * pair without any global O(n²) — the shuffle key is the chunk
    * value. Exact hamming (bit_count of xor) re-ranks within buckets;
    * distinct() collapses pairs found in several bands. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16, bands: Int = 4, maxDist: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    hammingPairs(
      withSimHash(df, idCol, textCol, bits)
        .select(col(idCol).as("id"), col("simhash").as("fp")),
      "id", "fp", bits, bands, maxDist, maxBucket)

  /** Generic banded hamming-distance pair finding over ANY long
    * fingerprint column (simhash, perceptual image hash, audio
    * fingerprint): the banding/pigeonhole machinery of
    * [[simHashPairs]] factored out so every 64-bit-fingerprint
    * modality shares one scale-safe candidate generator. Input must
    * be one fingerprint per id.
    *
    * `maxBucket` is the same hygiene cap as [[minHashLshPairs]]: a
    * (band, chunk) bucket of B ids yields B² candidates, and a hot
    * chunk value (the all-zero fingerprint of empty/near-empty docs,
    * a boilerplate header's chunk) grows with the corpus, not with
    * true near-duplication — buckets past the cap are dropped before
    * the self-join so every join key stays bounded. Size `bits/bands`
    * so typical chunks stay sparse (wider chunks = more bucket
    * values); the cap is the backstop for the degenerate values. */
  def hammingPairs(sigs: DataFrame, idCol: String, fpCol: String,
      bits: Int, bands: Int, maxDist: Int,
      maxBucket: Int = 1000): DataFrame = {
    require(bits % bands == 0, "bits must be divisible by bands")
    require(maxDist < bands,
      "banding only guarantees recall for hamming distance < bands")
    val width = bits / bands
    val mask = (1L << width) - 1L
    // same materialize-before-self-join rationale as minHashLshPairs
    val s = sigs.select(col(idCol).as("id"), col(fpCol).as("fp"))
      .localCheckpoint(eager = false)
    val bandedAll = s.select(col("id"), col("fp"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("chunk",
        expr(s"shiftright(fp, band * $width)").bitwiseAND(lit(mask)))
    val key = Seq("band", "chunk")
    val banded = HotKeys.drop(bandedAll,
      HotKeys.over(bandedAll, key, maxBucket), key)
    banded.select(col("band"), col("chunk"),
        col("id").as("id_a"), col("fp").as("fp_a"))
      .join(banded.select(col("band"), col("chunk"),
        col("id").as("id_b"), col("fp").as("fp_b")),
        Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Incremental banded hamming pairs: check an arriving batch of
    * fingerprints against a persisted fingerprint index WITHOUT ever
    * self-joining the index — [[incrementalLshPairs]]' shape for the
    * [[hammingPairs]] family (streaming media dedup: each new
    * image/audio batch probes the corpus phash index, plus
    * batch-internal pairs once). Emits (new_id, other_id,
    * other_is_new, hamming); ids of the two frames must be disjoint.
    *
    * Scale: the join's left side is batch-sized; the `maxBucket` cap
    * is enforced on the COMBINED bucket population so a degenerate
    * chunk in history (the all-zero fingerprint) cannot explode an
    * arriving batch. */
  def incrementalHammingPairs(newSigs: DataFrame, indexSigs: DataFrame,
      idCol: String, fpCol: String, bits: Int, bands: Int,
      maxDist: Int, maxBucket: Int = 1000): DataFrame = {
    require(bits % bands == 0, "bits must be divisible by bands")
    require(maxDist < bands,
      "banding only guarantees recall for hamming distance < bands")
    val width = bits / bands
    val mask = (1L << width) - 1L
    def banded(df: DataFrame, isNew: Boolean): DataFrame =
      df.select(col(idCol).as("id"), col(fpCol).as("fp"))
        .select(col("id"), col("fp"),
          explode(sequence(lit(0), lit(bands - 1))).as("band"))
        .withColumn("chunk",
          expr(s"shiftright(fp, band * $width)").bitwiseAND(lit(mask)))
        .withColumn("__new", lit(isNew))
    val all = banded(newSigs, isNew = true)
      .unionByName(banded(indexSigs, isNew = false))
      .localCheckpoint(eager = false)
    val key = Seq("band", "chunk")
    val kept = HotKeys.drop(all, HotKeys.over(all, key, maxBucket), key)
    val l = kept.filter(col("__new")).select(col("band"), col("chunk"),
      col("id").as("new_id"), col("fp").as("fp_a"))
    val r = kept.select(col("band"), col("chunk"),
      col("id").as("other_id"), col("fp").as("fp_b"),
      col("__new").as("other_is_new"))
    l.join(r, Seq("band", "chunk"))
      // batch-internal pairs once (a < b); batch-vs-index pairs always
      .filter((col("other_is_new") && col("new_id") < col("other_id"))
        || !col("other_is_new"))
      .select(col("new_id"), col("other_id"), col("other_is_new"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Connected-component clustering of candidate pairs — the dedup
    * endgame: every document gets a cluster_id (the smallest id in
    * its component), so "keep one per cluster" is a single filter.
    *
    * Algorithm: min-label propagation over the symmetric edge set,
    * iterated to FIXPOINT (the loop is driver-side control flow only;
    * each step is one distributed join + aggregate, label tables are
    * localCheckpointed to truncate lineage). Converges in
    * O(component diameter) steps — near-dup components are shallow,
    * and the iteration cap guards pathological chains. Deterministic:
    * min is order-free. */
  def duplicateClusters(ids: DataFrame, idCol: String,
      pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"),
        col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .localCheckpoint(eager = false)
    def propagate(cur: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(cur.withColumnRenamed("id", "dst")
          .withColumnRenamed("lbl", "nlbl"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nlbl")).as("minn"))
      cur.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("minn"), col("lbl"))).as("lbl"),
          (coalesce(col("minn"), col("lbl")) < col("lbl")).as("__chg"))
    }
    var changed = 1L
    var it = 0
    // Steps run in pairs, so maxIters is rounded UP to the next even
    // step count (maxIters=5 allows 6 propagation steps).
    while (changed > 0 && it < maxIters) {
      // TWO propagation steps per driver round-trip, convergence flag
      // read from the second only — if any step changes nothing the
      // fixpoint is reached, so checking the last is sufficient. One
      // count job (which also materializes the lazy checkpoint) per
      // two steps; a separate old-vs-new join would add a shuffle and
      // a second job per step.
      val updated = propagate(propagate(labels).drop("__chg"))
        .localCheckpoint(eager = false)
      changed = updated.filter(col("__chg")).count()
      labels = updated.drop("__chg")
      it += 2
    }
    // a silent partial closure would assign wrong cluster_ids to any
    // component with diameter > maxIters — fail loudly instead
    if (changed > 0)
      throw new IllegalStateException(
        s"duplicateClusters did not converge after $maxIters iterations " +
          s"($changed labels still changing); raise maxIters")
    labels.select(col("id").as(idCol), col("lbl").as("cluster_id"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the deep-graph alternative to [[duplicateClusters]]:
    * label propagation needs O(component diameter) rounds, which a
    * pathological duplicate CHAIN (a~b~c~... with no transitive pair)
    * can stretch to thousands; the star steps contract such chains in
    * O(log^2 n) rounds. Same contract and same answer as
    * duplicateClusters (cluster_id = component minimum — spec'd equal
    * on random graphs): choose by expected component shape, not
    * semantics.
    *
    * Each round is two (groupBy + join) steps over the canonical
    * (a < b) edge set — per-round cost matches label propagation, the
    * round COUNT is what shrinks. Deterministic: min is order-free. */
  def duplicateClustersStar(ids: DataFrame, idCol: String,
      pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // one-action round probe: (edge count, order-free multiset hash
    // signature). The signature gates the exceptAll confirmation —
    // a per-round exceptAll join costs as much as the round itself
    // on deep chains (edge COUNT stays ~n there, so a count-only
    // gate fires the join every round); with the signature it fires
    // once, at the true fixpoint. Convergence is still CONFIRMED by
    // the exact set compare, so a hash collision can only cost one
    // extra probe, never a wrong answer.
    def probe(df: DataFrame): (Long, BigDecimal) = {
      // the signature sums in decimal(38,0): int64 terms overflow a
      // long sum after ~2 rows under ANSI arithmetic
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var e = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(eager = false)
    var eStat = probe(e)
    var round = 0
    var converged = eStat._1 == 0L
    while (!converged && round < maxRounds) {
      // LARGE-STAR: every edge, seen from its smaller endpoint u with
      // larger neighbor v, becomes (min(Γ(u) ∪ {u}), v)
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // the ls checkpoint was A/B-measured against a no-checkpoint
      // round (alternating in one JVM; OPTIMIZATION_r18.md §11): warm
      // passes are a wash (3.4-4.0 s both ways at sf0.1) — dropping
      // it doubles the ss-plan's ls subtree (ReusedExchange absorbs
      // most of it) and saves one block write, net zero; kept for
      // block hygiene
      val ls = sym.join(lsMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(eager = false)
      // SMALL-STAR: every node u links its smaller neighbors (and
      // itself) to the minimum of that set
      val d = ls.select(col("b").as("u"), col("a").as("v"))
      val ssMin = d.groupBy("u").agg(min("v").as("m"))
      val ss = d.join(ssMin, Seq("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionByName(ssMin.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(eager = false)
      // star-set fixpoint: identical edge sets (distinct'd) — the
      // (count, signature) probe gates the exact one-sided anti-join
      val ssStat = probe(ss)
      converged = ssStat == eStat && ss.exceptAll(e).isEmpty
      // the round's intermediate and the superseded edge set are
      // dead — release their pinned blocks (both are in-op frames;
      // the caller's `pairs` is untouched)
      Lineage.freeLocalCheckpoint(ls)
      Lineage.freeLocalCheckpoint(e)
      e = ss
      eStat = ssStat
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClustersStar did not converge after $maxRounds rounds")
    // at the fixpoint every edge is (component-min, member)
    val labels = e.groupBy(col("b").as(idCol))
      .agg(min("a").as("cluster_id"))
    ids.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Dedup KEEP policy: given per-doc cluster labels (e.g. from
    * [[duplicateClusters]]) and a quality score, keep exactly one row
    * per cluster — the highest-scoring member, ties broken by smallest
    * id so the choice is deterministic. One shuffle on cluster_id. */
  def keepBestPerCluster(clustered: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    clustered.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Dedup SUMMARY report over a (id, cluster_id) labeling — the
    * table every dedup paper prints: the cluster-size histogram (how
    * many clusters have 1, 2, 3… members) with corpus totals and the
    * headline duplicate ratio (docs − clusters) / docs carried on
    * every row as exact integer milli, so a "dedup removed 31.4%"
    * claim compares identically on any engine.
    *
    * Scale shape: two keyed partial-agg aggregates (labels → cluster
    * sizes → histogram; the histogram is at most max-cluster-size
    * rows) + one broadcast totals row. Nothing pairwise, nothing
    * corpus-sized past the first groupBy. */
  def dedupStats(clusters: DataFrame, idCol: String,
      clusterCol: String): DataFrame = {
    val hist = clusters
      .groupBy(col(clusterCol)).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
    val totals = hist.agg(sum(col("n_docs")).as("docs_total"),
      sum(col("n_clusters")).as("clusters_total"))
    hist.crossJoin(broadcast(totals))
      .withColumn("dup_ratio_milli",
        expr("CASE WHEN docs_total > 0 THEN " +
          "((docs_total - clusters_total) * 1000) div docs_total " +
          "ELSE 0L END"))
      .select("size", "n_clusters", "n_docs", "docs_total",
        "clusters_total", "dup_ratio_milli")
  }

  /** Embedding near-duplicates: LSH-bucketed cosine (see Similarity) —
    * pairs in the same random-hyperplane bucket with cosine >= threshold. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, threshold: Double): DataFrame =
    Similarity.lshCosinePairs(df, idCol, vecCol, planes)
      .filter(col("cosine") >= threshold)

  /** Cross-source duplication matrix: near-dup pair counts keyed by
    * the unordered (source, source) pair — the curation diagnostic
    * that says WHERE duplication lives (mirrors/scrapes duplicate
    * ACROSS sources; template boilerplate duplicates WITHIN one).
    * Consumes any id-pair table (MinHash-LSH, simhash, embedding
    * near-dup); two id-keyed joins against the docs table, then a
    * |sources|²-row aggregate — the matrix is dimension-table-sized
    * at any corpus scale. */
  def dupSourceMatrix(pairs: DataFrame, docs: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val d = docs.select(col(idCol), col(srcCol))
    pairs.select(col("id_a"), col("id_b"))
      .join(d.select(col(idCol).as("id_a"), col(srcCol).as("__sa")),
        Seq("id_a"))
      .join(d.select(col(idCol).as("id_b"), col(srcCol).as("__sb")),
        Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Fuzzy string pairs at edit distance ≤ 1 via deletion-neighborhood
    * blocking (the FastSS scheme): each string's block keys are itself
    * plus its length one-character-deletion variants; any two strings
    * within edit distance 1 share at least one key, so candidates come
    * from an equi-join on the key — never an all-pairs cross — and the
    * exact levenshtein confirms. The fuzzy-equi-join a text-keyed
    * merge (§2.3 J2) needs when keys carry typos. Fan-out is len+1
    * keys per row (bound your key length upstream); like every
    * blocking scheme, candidate volume concentrates on popular keys —
    * `maxVariantDf` drops keys shared by more strings than that
    * (same posture as the shingle df cap in [[ngramJaccardPairs]]).
    * `idCol` must order consistently with string inequality for the
    * dedup direction; pass the string itself as the id when in doubt.
    * Strings longer than `maxLen` are EXCLUDED, not truncated: the
    * deletion neighborhood is len+1 keys per row, so one unbounded
    * document-sized value would dominate the explode — fuzzy JOIN
    * KEYS (names, codes, brands) are short by nature, and a silent
    * truncation would fabricate false ED-1 matches. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxVariantDf: Int = 1000, maxLen: Int = 64): DataFrame = {
    val s = df.filter(col(strCol).isNotNull &&
        length(col(strCol)) <= maxLen)
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .localCheckpoint(eager = false)
    val keyed = s.select(col("id"), col("s"),
        explode(array_union(array(col("s")),
          transform(sequence(lit(1), length(col("s"))), i =>
            concat(col("s").substr(lit(1), i - 1),
              col("s").substr(i + 1, length(col("s"))))))).as("k"))
      .distinct()
    val blocked = HotKeys.drop(keyed,
      HotKeys.over(keyed, Seq("k"), maxVariantDf), Seq("k"))
    blocked.select(col("k"), col("id").as("id_a"), col("s").as("s_a"))
      .join(blocked.select(col("k"), col("id").as("id_b"),
        col("s").as("s_b")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b").distinct()
      // THRESHOLDED levenshtein (Spark 3.5+): the banded DP costs
      // O(len·1) per pair instead of O(len²) and early-exits to -1
      // past the threshold — candidates here are ED<=2 by
      // construction (shared deletion variant), so the full DP was
      // pure waste on the ED-2 false positives; survivors' distances
      // are identical (0..1 is below the band)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), 1))
      .filter(col("dist").between(0, 1))
  }

  /** Shared-span detection (the substring-dedup signal of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed as set algebra): find document pairs that
    * share a run of >= `minSpan` CONSECUTIVE tokens, and report the
    * longest such run per pair. Long verbatim overlap is the
    * signature of syndicated/templated/quoted text that survives
    * whole-document near-dup filters because the rest of the page
    * differs.
    *
    * Method: positional k-gram fingerprints (id, pos, hash of the
    * k-shingle at pos); an equi-join on the fingerprint yields
    * matched position pairs; matches on one diagonal (pa - pb
    * constant) at consecutive positions are one shared run. Per
    * (pair, diagonal) the matched positions are collected as a SET
    * (`collect_set` dedups the repeats a multi-occurrence gram
    * produces, with map-side partial aggregation), sorted, and a
    * linear fold finds the longest consecutive run r, which spans
    * r + k - 1 tokens. One shuffle where the equivalent
    * DISTINCT + gaps-and-islands window formulation (the oracle's
    * shape) costs three plus a sort.
    *
    * Scale posture: the join key is the k-gram hash with a document
    * frequency cap (`maxGramDf`, same discipline as
    * [[ngramJaccardPairs]]'s df cap) — grams on more than that many
    * documents are template stop-grams that would otherwise square
    * the candidate volume; dropping one gram can only split a span
    * where EVERY window over the cut point is itself corpus-hot. The
    * fold groups on (pair, diagonal) — per-group state is one
    * position set bounded by the shorter document's length, never a
    * corpus-sized series. */
  def sharedSpanPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minSpan: Int = 6, maxGramDf: Int = 20): DataFrame = {
    require(k >= 1 && minSpan >= k,
      s"need k >= 1 and minSpan >= k: k=$k minSpan=$minSpan")
    // native positional kernel: one pass hashes every window
    // incrementally (bit-identical to hash60 of the joined shingle
    // string — parity spec'd); no shingle string is ever materialized
    val pos = spread(df)
      .select(col(idCol).as("__id"),
        posexplode(call_function("graft_shingle_pos_hashes",
          tokens(col(textCol)), lit(k))).as(Seq("__p", "__gh")))
    // HOT-GRAM PREFILTER before the collect: grams on more than
    // maxGramDf documents are dropped BEFORE aggregation, so no
    // corpus-hot stop-gram ever BUILDS a collect_list buffer
    // (filtering after aggregation bounded nothing — a
    // million-occurrence gram's array had to exist before the cap
    // could drop it, an unspillable OOM at corpus scale).
    // The matched-position pairs and the diagonal derive MAP-SIDE
    // from the per-gram occurrence array (two chained generators,
    // a < b by id order inside the struct array); the per-gram
    // buffer is HARD-bounded by maxGramDf docs x per-doc repeats.
    val hot = HotKeys.over(pos, Seq("__gh"), maxGramDf,
      census = count_distinct(col("__id")))
    val m = HotKeys.drop(pos, hot, Seq("__gh"))
      .groupBy("__gh")
      .agg(collect_list(struct(col("__id"), col("__p"))).as("__xs"))
      .select(explode(expr(
        """flatten(transform(__xs, x ->
          |  transform(filter(__xs, y -> y.__id > x.__id),
          |    y -> struct(x.__id AS id_a, y.__id AS id_b,
          |      x.__p - y.__p AS __d, x.__p AS __pa))))"""
          .stripMargin)).as("__m"))
      .select(col("__m.id_a"), col("__m.id_b"), col("__m.__d"),
        col("__m.__pa"))
    // longest consecutive run over the sorted distinct positions of
    // one diagonal: (best, cur, prev) fold — prev starts below any
    // valid position so the first element always opens a run of 1
    val longestRun = (ps: Column) => aggregate(
      sort_array(ps),
      struct(lit(0).as("best"), lit(0).as("cur"), lit(-2).as("prev")),
      (acc, x) => {
        val cur = when(x === acc.getField("prev") + 1,
          acc.getField("cur") + 1).otherwise(lit(1))
        struct(greatest(acc.getField("best"), cur).as("best"),
          cur.as("cur"), x.as("prev"))
      },
      acc => acc.getField("best"))
    m.groupBy("id_a", "id_b", "__d")
      .agg(collect_set(col("__pa")).as("__ps"))
      .select(col("id_a"), col("id_b"),
        longestRun(col("__ps")).as("__run"))
      .groupBy("id_a", "id_b")
      .agg((max(col("__run")) + lit(k - 1)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
  }

  /** LSH BAND PLANNER: the S-curve table P(candidate | s) =
    * 1 − (1 − s^r)^b for every (bands b, rows r) split of a k-hash
    * signature budget, evaluated on an s = i/steps grid, with each
    * split's false-positive mass (Σ p below the Jaccard threshold)
    * and false-negative mass (Σ (1−p) at/above it) and the
    * error-minimizing split marked — what an operator reads BEFORE
    * committing a banding to a corpus run ([[lshRecallReport]] then
    * measures the realized numbers after). All arithmetic is
    * engine-portable: powers are explicit left-associated multiply
    * chains (never a pow() builtin), probabilities floor to micro
    * ints, and the masses/argmin compare integers only.
    *
    * Scale: |divisors(k)| · steps rows from a range spine — plan
    * metadata, no data tables touched. */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession, k: Int,
      threshold: Double, steps: Int = 20): DataFrame = {
    require(k >= 1 && steps >= 2, s"bad k=$k / steps=$steps")
    val tauIdx = math.ceil(threshold * steps).toInt
    val grid = spark.range(1, steps + 1).toDF("i")
    val perSplit = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      val s = col("i").cast("double") / lit(steps.toDouble)
      val sr = Seq.fill(r)(s).reduceLeft(_ * _)
      val qb = Seq.fill(b)(lit(1.0) - sr).reduceLeft(_ * _)
      grid.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows"),
        expr(s"(i * 100) div $steps").as("s_centi"),
        floor((lit(1.0) - qb) * 1e6).cast("long").as("p_micro"),
        col("i").as("__i"))
    }
    val curve = perSplit.reduce(_ unionByName _)
    val masses = curve.groupBy("bands", "rows")
      .agg(
        sum(when(col("__i") < tauIdx, col("p_micro")).otherwise(0L))
          .as("fp_micro"),
        sum(when(col("__i") >= tauIdx, lit(1000000L) - col("p_micro"))
          .otherwise(0L)).as("fn_micro"))
      .withColumn("err_micro", col("fp_micro") + col("fn_micro"))
    val best = org.apache.spark.sql.expressions.Window
      .orderBy(col("err_micro").asc, col("bands").asc)
    val ranked = masses
      .withColumn("chosen", row_number().over(best) === 1)
    curve.join(ranked, Seq("bands", "rows"))
      .select(col("bands"), col("rows"), col("s_centi"),
        col("p_micro"), col("fp_micro"), col("fn_micro"),
        col("err_micro"), col("chosen"))
  }

  /** MinHash-LSH RECALL/PRECISION harness: measures the production
    * dedup rung ([[minHashLshPairs]]) against the exact Jaccard ≥ τ
    * pair set ([[prefixFilterJaccardPairs]] — complete by the
    * prefix-filter theorem, so the ground truth is itself exact).
    * One row: n_exact, n_cand, hits, recall_milli, precision_milli.
    * The dedup analog of the ANN recallAtK harnesses: the measured
    * numbers that validate a (k, bands) banding choice against the
    * S-curve P(cand|s) = 1−(1−s^r)^b BEFORE committing a corpus-wide
    * run to it.
    *
    * Scale: both sides are the already-bounded operators; the
    * comparison adds one (id_a, id_b)-keyed semi join and three
    * single-row counts. */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 4, k: Int = 8, bands: Int = 4,
      maxBucket: Int = 1000, threshold: Double = 0.5): DataFrame =
    lshRecallReportFrom(
      prefixFilterJaccardPairs(df, idCol, textCol, shingleSize,
        threshold),
      minHashLshPairs(df, idCol, textCol, shingleSize, k, bands,
        maxBucket))

  /** [[lshRecallReport]] over PRECOMPUTED pair frames — a pipeline
    * that already materialized the exact pair table (it usually has:
    * the dedup itself consumes it) reuses it here instead of paying
    * the prefix join twice. Both inputs: (id_a, id_b) with a < b. */
  def lshRecallReportFrom(exactPairs: DataFrame,
      candPairs: DataFrame): DataFrame = {
    // both pair frames feed TWO consumers (their count + the hit semi
    // join), so each checkpoints once — EAGERLY, because the three
    // aggregates are single-row driver values: folding them here lets
    // the checkpoints be freed before returning (block hygiene — the
    // report must not pin two pair-table-sized block sets for the
    // life of the session) and the returned frame is pure literals
    val exact = exactPairs.select("id_a", "id_b")
      .localCheckpoint(eager = true)
    val cand = candPairs.select("id_a", "id_b")
      .localCheckpoint(eager = true)
    val nExact = exact.count()
    val nCand = cand.count()
    val hits = cand.join(exact, Seq("id_a", "id_b"), "left_semi")
      .count()
    Lineage.freeLocalCheckpoint(exact)
    Lineage.freeLocalCheckpoint(cand)
    exactPairs.sparkSession.range(1)
      .select(lit(nExact).as("n_exact"), lit(nCand).as("n_cand"),
        lit(hits).as("hits"),
        lit(if (nExact == 0) 0L else hits * 1000L / nExact)
          .as("recall_milli"),
        lit(if (nCand == 0) 0L else hits * 1000L / nCand)
          .as("precision_milli"))
  }

  /** WINNOWING fingerprint selection (Schleimer-Wilkerson-Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every k-token shingle,
    * slide a window of `w` consecutive hashes over each document, and
    * keep each window's minimum (rightmost on ties), deduplicated.
    * The guarantee that makes it the code/doc fingerprint standard:
    * every match of length ≥ w+k−1 tokens between two documents
    * shares at least one SELECTED fingerprint (a local algorithm —
    * selection depends only on a w-neighborhood, so the same content
    * fingerprints identically wherever it appears), while storing
    * ~2/(w+1) of all hashes.
    *
    * Determinism across engines: the windowed argmin rides ONE int64
    * `h·2²⁰ + (2²⁰−1−pos)` — minimizing it picks the smallest hash
    * and, among equals, the LARGEST position (the rightmost-tie rule)
    * — so a plain frame `min` implements the paper's rule exactly and
    * a SQL oracle reproduces it bit-for-bit. 31-bit hash + 20-bit
    * position = 51 bits; docs are capped at 2²⁰ shingles (guarded).
    *
    * Scale shape: shingle fan-out is narrow; the only exchange is the
    * per-document window (one key shuffle), and output size is the
    * ~2/(w+1) selected fraction. */
  def winnowFingerprints(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(w >= 1, s"w must be >= 1: $w")
    val M = 1048576L // 2^20 position slots per document
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    df.select(col(idCol),
        posexplode(call_function("graft_shingles",
          graft.functions.tokens(col(textCol)), lit(k)))
          .as(Seq("pos", "gram")))
      .select(col(idCol), col("gram"),
        when(col("pos") >= M, raise_error(concat(
            lit("winnowFingerprints: document exceeds 2^20 shingles: "),
            col(idCol).cast("string"))))
          .otherwise(col("pos")).as("pos"))
      .withColumn("__key",
        hash31(col("gram")) * M + (lit(M - 1) - col("pos")))
      .drop("gram")
      .withColumn("__sel", min(col("__key")).over(win))
      .withColumn("__mx",
        max(col("pos")).over(Window.partitionBy(col(idCol))))
      // the paper's windows start once w hashes exist; partial
      // leading windows select nothing (short docs with fewer than
      // w shingles still emit via the max-pos window)
      .filter(col("pos") >= w - 1 || col("pos") === col("__mx"))
      .select(col(idCol),
        (lit(M - 1) - col("__sel") % M).as("fp_pos"),
        expr("__sel div 1048576").as("fp_hash"))
      .distinct()
  }

  /** SOFT dedup — the keep-everything alternative to
    * [[keepBestPerCluster]] (Muennighoff et al. 2023, data-constrained
    * scaling: repeated data is worth less but not worthless): every
    * document survives, but members of a duplicate cluster carry
    * sampling weight 1/cluster_size (exact integer milli), so each
    * DISTINCT content unit contributes one document's worth of
    * training mass no matter how many copies the crawl found. Feeds
    * straight into the weighted samplers (weightedReservoirSample /
    * systematicResample) — hard dedup becomes the special case
    * "resample to the weight mass".
    *
    * `all` is the full corpus id frame; `clusters` the (id, cluster)
    * pairs from [[duplicateClusters]] (non-clustered docs absent —
    * they get weight 1000). Weights floor at 1 milli
    * (greatest(1, 1000 div size)): a cluster past 1000 members (web
    * boilerplate routinely is) keeps a positive weight instead of the
    * zero that 1000 div size alone produces — a zero would make
    * weightedReservoirSample raise and systematicResample silently
    * drop the whole cluster. Members of such clusters are modestly
    * over-weighted (mass size/1000 instead of 1); callers needing
    * exact conservation on mega-clusters should hard-dedup them
    * first. Scale shape: one count shuffle on the
    * cluster id (cluster-count-sized result), one key join back;
    * nothing corpus². */
  def softDedupWeights(all: DataFrame, clusters: DataFrame,
      idCol: String, clusterCol: String): DataFrame = {
    val sz = clusters.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"))
    all.select(col(idCol))
      .join(clusters.join(sz, Seq(clusterCol))
          .select(col(idCol), col("cluster_size")),
        Seq(idCol), "left")
      .na.fill(1L, Seq("cluster_size"))
      .withColumn("weight_milli",
        expr("greatest(1L, 1000 div cluster_size)"))
  }

  /** The MOSS MATCH step over [[winnowFingerprints]] output: group
    * documents by selected fingerprint, emit each unordered pair once
    * with its shared-fingerprint count, keep pairs sharing at least
    * `minShared`. By the winnowing guarantee, any two documents
    * sharing a run of ≥ w+k−1 tokens MUST appear here — so this pair
    * table has full recall on long verbatim overlaps at ~2/(w+1) of
    * the all-grams join's cost.
    *
    * Same hygiene as the LSH paths: a fingerprint selected by B docs
    * yields B² pairs, and ubiquitous fingerprints are boilerplate,
    * not matches — the `maxBucket` cap bounds every join key.
    * Shuffle keys are fp_hash then the pair — nothing all-pairs. */
  def winnowPairs(fp: DataFrame, idCol: String, minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val u = fp.select(col(idCol).as("id"), col("fp_hash")).distinct()
    val kept = HotKeys.drop(u,
      HotKeys.over(u, Seq("fp_hash"), maxBucket), Seq("fp_hash"))
    val l = kept.select(col("fp_hash"), col("id").as("id_a"))
    val r = kept.select(col("fp_hash"), col("id").as("id_b"))
    l.join(r, Seq("fp_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
