package graft

import graft.sources.ManifestScanFiles
import org.apache.spark.sql.DataFrame

/** Plan-regression specs: assert the PHYSICAL plan shapes the engine
  * depends on at 100 TB, so a refactor that silently loses a pushdown,
  * a broadcast, or codegen fails the suite — not the bench three
  * rounds later. Plans come from the same SparkEntry.queries surface
  * the driver grades, over the sf0.001 testdata (plan shape is scale-
  * independent; explicit broadcast hints and pushdowns do not depend
  * on input statistics).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("inventory: every graded query carries a DuckDB oracle") {
    // drift guard — a queries entry without an oracleSql entry would
    // silently downgrade the driver's hash compare to a rows-only
    // check. Every current operator IS SQL-expressible; if a future
    // one genuinely isn't, list it here consciously.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("q_s4_scan_prune: filter reaches the parquet scan, columns pruned") {
    val plan = planOf("q_s4_scan_prune")
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_quantity,45"),
      s"filter must be pushed to the scan:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_comment") &&
      !readSchema.contains("l_extendedprice"),
      s"scan must read only the projected columns:\n$readSchema")
  }

  test("graft-manifest DSv2 scan: zone pruning yields pruned " +
      "InputPartitions, the pushed range is visible in the plan, " +
      "and a bare COUNT(*) plans as the metadata-count scan") {
    import graft.sources.ManifestTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files
      .createTempDirectory("graft-dsv2-plan").toString
    for (r <- Seq(1L to 40L, 41L to 80L, 81L to 120L))
      ManifestTable.commitWithStats(r.toDF("k").coalesce(1), table,
        append = true, "k")
    val df = spark.read.format("graft-manifest")
      .option("path", table).load()
    val filtered = df.filter(col("k").between(45L, 60L))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("graft-manifest") &&
      plan.contains("zonePruned=") &&
      plan.contains("files=1"),
      s"pruned scan must plan ONE surviving InputPartition:\n$plan")
    assert(filtered.rdd.getNumPartitions == 1)
    // one InputPartition per file where Spark's rule packs none
    assert(unpacked(spark.read.format("graft-manifest")
      .option("path", table).load().rdd.getNumPartitions) == 3)
    // the 3 files pack by Spark's own rule: as many partitions as
    // spark.read.parquet plans for them
    assert(ManifestScanFiles(df).size == 3)
    assert(df.rdd.getNumPartitions == spark.read.parquet(
      ManifestTable.snapshotFor(table, None).files
        .map(f => java.nio.file.Paths.get(table, f).toString): _*)
      .rdd.getNumPartitions)
    val countPlan = df.groupBy().count()
      .queryExecution.executedPlan.toString
    assert(countPlan.contains("metadata agg agg_0=120"),
      s"bare COUNT(*) must answer from the manifest:\n$countPlan")
  }

  test("SQL catalog scan: a range predicate through GraftCatalog " +
      "plans the SAME pruned DSv2 scan (one surviving InputPartition, " +
      "pinned snapshot version in the plan)") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-cat-plan").toString
    spark.conf.set("spark.sql.catalog.gplan",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gplan.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    for (r <- Seq(1L to 40L, 41L to 80L, 81L to 120L))
      ManifestTable.commitWithStats(r.toDF("k").coalesce(1),
        s"$root/$t", append = true, "k")
    val df = spark.sql(
      s"SELECT k FROM gplan.$t WHERE k BETWEEN 45 AND 60")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-manifest") && plan.contains("files=1"),
      s"catalog read must plan the pruned DSv2 scan:\n$plan")
    assert(plan.contains(" v3 "),
      s"the scan must surface its PINNED snapshot version:\n$plan")
    assert(df.rdd.getNumPartitions == 1)
    // typed pushed filters: a string-equality predicate prunes too
    val t2 = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    for (s0 <- Seq(Seq("aa", "bb"), Seq("yy", "zz")))
      ManifestTable.commitWithStats(
        s0.zipWithIndex.map { case (x, i) => (i.toLong, x) }
          .toDF("k", "s").coalesce(1),
        s"$root/$t2", append = true, Seq("s"), None)
    val df2 = spark.sql(s"SELECT k FROM gplan.$t2 WHERE s = 'zz'")
    assert(df2.rdd.getNumPartitions == 1,
      "string zones must prune through the SQL planner")
    assert(df2.as[Long].collect().toSeq == Seq(1L))
  }

  test("q_j11_broadcast_lookup: dimension joins are broadcast, not shuffled") {
    val plan = planOf("q_j11_broadcast_lookup")
    assert(plan.contains("BroadcastHashJoin"),
      s"the N+1-replacement join must broadcast the dim side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge for broadcastable dims:\n$plan")
  }

  test("q_a5_topk_groups: top-k plans as TakeOrderedAndProject") {
    val plan = planOf("q_a5_topk_groups")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ORDER BY+LIMIT after agg must not globally sort:\n$plan")
  }

  test("q_j6_not_exists: NOT-EXISTS shape decorrelates to a left-anti join") {
    val plan = planOf("q_j6_not_exists")
    assert(plan.contains("LeftAnti"),
      s"anti-join, not a per-row subquery:\n$plan")
  }

  test("aggregations plan with a map-side partial phase") {
    val plan = planOf("q_a7_multikey_agg")
    assert(plan.contains("partial_"),
      s"groupBy must pre-aggregate before the shuffle:\n$plan")
  }

  test("brute-force ANN: cosine runs through the native graft_dot kernel") {
    // the corpus-side cosine is the entire cost of a brute-force scan
    // — it must be the codegen'd native expression, not the
    // interpreted HOF fold (bit-identical; parity-spec'd)
    val plan = planOf("q_v_brute_topk")
    assert(plan.contains("graft_dot"),
      s"float-array cosine must use the native kernel:\n$plan")
  }

  test("assignTo (trained IVF / k-means inner loop): partial min_by argmin") {
    // the centroid assignment sits in the hot loop of every k-means
    // iteration — it must map-side-reduce its N×K rows like ivfAssign
    val plan = planOf("q_v_ivf_trained")
    assert(plan.contains("partial_min_by"),
      s"assignTo must aggregate with map-side partial min_by:\n$plan")
  }

  test("groupCentroidSums: per-(label, dim) sums partial-aggregate") {
    val plan = planOf("q_v_label_centroids_sum")
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      s"the centroid accumulator must pre-aggregate map-side:\n$plan")
  }

  test("ivfAssign: argmin plans as partial min_by before the exchange") {
    // the N×K distance rows must reduce map-side (each task keeps one
    // row per id) — a row_number window here would shuffle and sort
    // the full N×K product instead. Asserted on the OPERATOR: the
    // query now reads the session-shared materialized assignment
    // (ivf_assign_16), whose plan is a checkpoint scan by design.
    val plan = operators.Similarity.ivfAssign(
        spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id",
        "embedding", 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_by"),
      s"ivfAssign must aggregate with map-side partial min_by:\n$plan")
    assert(!plan.contains("row_number"),
      s"ivfAssign must not rank through a window:\n$plan")
  }

  test("analyze: native rolling_fp sits inside whole-stage codegen") {
    val df = operators.TextAnalysis.analyze(
      spark.read.parquet(s"$sf/documents.parquet"), "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rolling_fp"),
      s"analyze must use the native expression:\n$plan")
    // codegen'd stages carry the "*(n)" prefix in the plan string; the
    // project evaluating rolling_fp must be inside one (HOF-lambda
    // projects are CodegenFallback and print without it)
    val fpLine = plan.linesIterator
      .find(_.contains("graft_rolling_fp")).getOrElse("")
    assert(fpLine.trim.matches("""^\*\(\d+\).*"""),
      s"the rolling_fp project must be whole-stage codegen'd:\n$fpLine")
  }

  test("w1 window partitions by its group key (no single-partition window)") {
    val plan = planOf("q_w1_first_per_group")
    val windowLines = plan.linesIterator
      .filter(_.contains("Window")).mkString("\n")
    assert(!windowLines.contains("windowspecdefinition()"),
      s"window must carry a partition spec:\n$windowLines")
  }

  test("exactKth never plans a global sort; heavy hitters recount " +
      "through a semi join, not a full-cardinality aggregate") {
    import graft.operators.Sketches
    val df = spark.range(0, 5000)
      .selectExpr("CAST(id % 97 AS LONG) AS x")
    val kth = Sketches.exactKth(df, "x", 2500L)
    // the selection already happened in the radix driver fold — the
    // returned 1-row frame must not drag a SortExec anywhere
    assert(!kth.queryExecution.executedPlan.toString.contains("Sort"),
      "exactKth result plan must be sort-free")
    // the PUBLIC entry eagerly materializes its <k-row result (block
    // hygiene: the corpus-sized checkpoint is freed), so the pipeline
    // shape is pinned on the recount stage itself
    val vals = df.selectExpr("CAST(x AS STRING) AS v")
    val cands = df.selectExpr("CAST(x AS STRING) AS v").distinct()
    val plan = Sketches.heavyHittersRecount(vals, cands, 5, 5000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"recount must semi-join the candidate set:\n$plan")
    // and the public entry's returned frame IS the materialized tiny
    // result — nothing upstream stays reachable
    val hh = Sketches.heavyHittersExact(df, "x", 5)
    assert(hh.queryExecution.executedPlan.toString
        .contains("Scan ExistingRDD"),
      "public entry must return the materialized result")
  }

  test("round-9 additions: AND-search prunes before its exchange; " +
      "packing shuffles once on the bucket; JS drift broadcasts totals") {
    // conjunctiveSearch: the query-term IN filter is narrow and sits
    // UPSTREAM (printed below) the doc aggregate's exchange
    val andPlan = planOf("q_r_boolean_and")
    val lines = andPlan.linesIterator.toIndexedSeq
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains(" IN ("))
    val exchIdx = lines.indexWhere(_.contains("Exchange"))
    assert(filterIdx >= 0, s"IN filter must exist:\n$andPlan")
    assert(exchIdx >= 0 && filterIdx > exchIdx,
      s"IN filter must run before the exchange:\n$andPlan")
    // window packing: the only hash exchange is the bucket key; the
    // prefix-sum window carries its partition spec
    val packPlan = planOf("q_pack_windows")
    assert(packPlan.contains("hashpartitioning(bucket"),
      s"packing must shuffle on the bucket key:\n$packPlan")
    assert(!packPlan.contains("SinglePartition"),
      s"no single-partition stage in packing:\n$packPlan")
    assert(!packPlan.linesIterator.filter(_.contains("Window"))
      .mkString.contains("windowspecdefinition()"),
      s"packing window must be bucket-keyed:\n$packPlan")
    // prefix-filter join: per-doc prefix window is id-keyed
    val pfPlan = planOf("q_d_prefix_jaccard")
    assert(!pfPlan.linesIterator.filter(_.contains("Window"))
      .mkString.contains("windowspecdefinition()"),
      s"prefix window must partition by id:\n$pfPlan")
    // JS drift: totals ride a broadcast, never a shuffled or
    // cartesian join (the bucket-count exchange itself sits behind
    // the shared-intermediate checkpoint, so it is not in this plan)
    val jsPlan = planOf("q_t_js_drift")
    assert(jsPlan.contains("BroadcastNestedLoopJoin") &&
      !jsPlan.contains("CartesianProduct"),
      s"totals must broadcast:\n$jsPlan")
    // unimax: the waterfill's single-row tables ride broadcasts (the
    // corpus count itself sits behind the shared-intermediate
    // checkpoint, so its partial-agg phase is not in this plan)
    val umPlan = planOf("q_cur_unimax")
    assert(umPlan.contains("BroadcastNestedLoopJoin") &&
      !umPlan.contains("CartesianProduct"),
      s"unimax scalar tables must broadcast:\n$umPlan")
  }

  test("partitioned sink enables partition pruning on read") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prune").toString
    val df = (0 until 100).map(i => (i.toLong, s"r$i", i % 4))
      .toDF("id", "v", "part")
    graft.sources.Sinks.partitionedBy(df, dir, Seq("part"))
    val pruned = spark.read.parquet(dir).filter($"part" === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("part"),
      s"partition filter must prune at the source:\n$plan")
    assert(pruned.count() == 25)
  }

  test("minhash signature is one narrow map: no shuffle before the explode") {
    val df = operators.Dedup.withMinHashSignature(
      spark.read.parquet(s"$sf/documents.parquet"), "text", 3, 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_minhash"),
      s"signature must use the native expression:\n$plan")
    // spread() may repartition a single-split file up to default
    // parallelism, but there must be no hash/range shuffle
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"signature computation must stay narrow:\n$plan")
  }

  test("randomProject is a narrow literal map: no shuffle, no lookup join") {
    val df = operators.Similarity.randomProject(
      spark.read.parquet(s"$sf/embeddings.parquet"), "embedding", 64, 4)
    val plan = df.queryExecution.executedPlan.toString
    // the sign matrix rides the plan as literals — nothing to join or
    // broadcast, and (beyond spread's round-robin) nothing to shuffle
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Join"),
      s"projection must stay a narrow literal map:\n$plan")
  }

  test("q_k_bloom: the filter side broadcasts; the probe never shuffles to join") {
    val plan = planOf("q_k_bloom")
    assert(plan.contains("BroadcastHashJoin"),
      s"bloom membership must be a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a KB-sized filter table must never sort-merge:\n$plan")
  }

  test("q_t_decontam: the eval side broadcasts against the train corpus") {
    val plan = planOf("q_t_decontam")
    assert(plan.contains("BroadcastHashJoin"),
      s"decontamination must broadcast the benchmark side:\n$plan")
  }

  test("q_t_chunks: chunking stays a narrow map (no shuffle at all)") {
    val plan = planOf("q_t_chunks")
    // the final ORDER BY adds a range exchange for output ordering;
    // the chunk computation itself must not hash-shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunk fan-out must not shuffle:\n$plan")
  }

  test("q_v_pq_adc: codebook and LUT broadcast; the encoded scan never sort-merges") {
    val plan = planOf("q_v_pq_adc")
    assert(plan.contains("BroadcastHashJoin"),
      s"PQ lookups must broadcast the KB-sized tables:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge against a lookup table:\n$plan")
  }

  test("hll registers partially aggregate before the one m-row shuffle") {
    val df = operators.Sketches.hllRegisters(
      spark.read.parquet(s"$sf/orders.parquet"), "o_orderkey", 256)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"),
      s"register max must combine map-side:\n$plan")
  }

  test("triangle close is a semi join; no cartesian anywhere") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.select(col("l_orderkey"), col("l_partkey").as("u"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("v")),
        Seq("l_orderkey"))
      .filter(col("u") < col("v"))
    val plan = operators.Graph.triangleCounts(pairs, "u", "v", 128)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"wedge close must be a semi join (no triangle list wider than " +
        s"the wedge stream):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian in the triangle pipeline:\n$plan")
  }

  test("hot-key caps: the capped graph prelude and record linkage drop " +
      "the hot minority by a broadcast anti join, never by a semi join " +
      "against the majority") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.util.QueryExecutionListener
    val antiBhj = "BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r
    def assertCapShape(what: String, plan: String): Unit = {
      assert(antiBhj.findFirstIn(plan).isDefined,
        s"$what: the cap must be a broadcast hash anti join:\n$plan")
      assert(!plan.contains("LeftSemi"),
        s"$what: no semi join against the majority:\n$plan")
    }
    // the prelude returns a lazy localCheckpoint, so its capped plan is
    // the one the checkpoint action executed
    val plans = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.select(col("l_orderkey"), col("l_partkey").as("u"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("v")),
          Seq("l_orderkey"))
        .filter(col("u") < col("v"))
      operators.Graph.cappedCanonicalEdges(pairs, "u", "v", 128)
      val deadline = System.nanoTime() + 60L * 1000000000L
      var capped: Option[String] = None
      while (capped.isEmpty && System.nanoTime() < deadline)
        capped = Option(plans.poll(1, java.util.concurrent.TimeUnit.SECONDS))
          .filter(p => p.contains("LeftAnti") || p.contains("LeftSemi"))
      assert(capped.isDefined, "no capped prelude plan was executed")
      assertCapShape("cappedCanonicalEdges", capped.get)
    } finally spark.listenerManager.unregister(listener)
    assertCapShape("q_d_linkage", planOf("q_d_linkage"))
  }

  test("round-4 additions: delta joins broadcast; semdedup verifies on the native kernel") {
    // IVM join delta: history probes the broadcast delta, never a
    // data-sized shuffle or cartesian
    val pd = planOf("q_i7_join_delta")
    assert(pd.contains("BroadcastHashJoin"),
      s"delta joins must broadcast:\n$pd")
    assert(!pd.contains("CartesianProduct"), s"no cartesian:\n$pd")
    // SemDeDup: the Σ n_c² pair verify runs the codegen'd graft_dot,
    // and pairs come from the cid equi-join (centroid broadcast is a
    // deliberate 8-row BNL cross, not a data-sized cartesian)
    val ps = planOf("q_v_semdedup")
    assert(ps.contains("graft_dot"),
      s"pair verify must use the native kernel:\n$ps")
    assert(!ps.contains("CartesianProduct"), s"no cartesian:\n$ps")
    // fuzzy join: deletion-variant blocking is an equi-join
    val pf = planOf("q_j14_fuzzy_join")
    assert(!pf.contains("CartesianProduct"), s"no cartesian:\n$pf")
    // stream-static enrichment: the dim broadcasts
    val pj = planOf("q_st_static_join")
    assert(pj.contains("BroadcastHashJoin"),
      s"static dim must broadcast:\n$pj")
  }

  test("bloom pre-join filters the fact side before the join exchange") {
    import org.apache.spark.sql.functions._
    val big = spark.read.parquet(s"$sf/orders.parquet")
    val small = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_acctbal"))
    val plan = operators.Sketches
      .bloomPreJoin(big, small, "o_custkey", "c_custkey")
      .queryExecution.executedPlan.toString
    // the membership test is a narrow Filter (md5 expr), present
    // below the join — not a join against the filter table
    assert(plan.contains("Filter"), s"narrow member filter:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("duplicateNgramStats: per-doc statistic stays narrow — no join, one exchange") {
    val plan = planOf("q_t_dup_ngrams")
    // the round-6 rewrite computes the Gopher repetition stat inside
    // the row (sorted-shingle singleton runs); the ONLY exchange
    // allowed is the final orderBy's range repartition
    assert(!plan.contains("Join"), s"no join of any kind:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"no aggregation — the stat never leaves the row:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"only the output-order exchange is allowed, saw $exchanges:\n$plan")
  }

  test("mixKeep: the budget table broadcasts back onto the corpus") {
    val plan = planOf("q_cur_mix")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"config-sized budgets must broadcast, not shuffle the corpus:\n$plan")
  }

  test("sharedSpanPairs: diagonal run-length folds without a window sort") {
    val plan = planOf("q_d_shared_spans")
    assert(plan.contains("partial_collect_set"),
      s"diagonal position sets must pre-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"the gaps-and-islands window was replaced by a fold — a Window " +
        s"here means the extra shuffle+sort came back:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("aucExact/calibrationBins: corpus collapses before the rank window") {
    for (q <- Seq("q_t_quality_auc", "q_t_calibration")) {
      val plan = planOf(q)
      assert(plan.contains("partial_sum") || plan.contains("partial_count"),
        s"$q: the distinct-score collapse must pre-aggregate map-side:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q: no cartesian:\n$plan")
    }
  }

  test("oovRate: the vocab broadcasts onto the token stream, counts partial-agg") {
    val plan = planOf("q_t_oov")
    assert(plan.contains("BroadcastHashJoin"),
      s"the config-sized vocab must broadcast:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-doc counts must pre-aggregate before the doc shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("decontamBySimilarity: the eval side broadcasts, argmax partial-aggregates") {
    val plan = planOf("q_v_semantic_decontam")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the eval benchmark must broadcast onto the train corpus:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("partial_max"),
      s"the per-train argmax must pre-aggregate before the exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the train side must never shuffle for a config-sized eval set:\n$plan")
  }

  test("decontaminateSpans: the eval gram set broadcasts, no cartesian") {
    val plan = planOf("q_t_decontam_spans")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams must broadcast onto the train side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("dedupUnitsAcross: first-occurrence argmin partial-aggregates map-side") {
    val plan = planOf("q_t_corpus_dedup")
    assert(plan.contains("partial_min"),
      s"min(struct(id,pos)) must pre-aggregate before the exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("bigramNll: count tables partial-aggregate, joins stay keyed") {
    val plan = planOf("q_t_bigram_nll")
    assert(plan.contains("partial_count"),
      s"bigram/context counts must pre-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("native graft_cms folds partially before the one-buffer exchange") {
    val df = operators.Sketches.cmsBuildNative(
      spark.read.parquet(s"$sf/orders.parquet"), "o_custkey", 2048, 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_cms"),
      s"cms counters must combine map-side:\n$plan")
    // no per-row explode feeding an exchange: the only generator is
    // the FINAL buffer unpack (after the single-row aggregate)
    assert(!plan.contains("ScalaUDF"), s"expression space only:\n$plan")
  }

  test("withLangIdMulti scores in one narrow map: no join, no window, " +
      "no shuffle before the aggregate") {
    val df = operators.TextAnalysis.withLangIdMulti(
      spark.read.parquet(s"$sf/documents.parquet"), "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Window") && !plan.contains("Join"),
      s"langid is a projection, nothing wider:\n$plan")
  }

  test("cooccurrenceLift: pair expansion is map-side from the grouped " +
      "array — exactly the basket and pair-count exchanges, no join " +
      "of the row stream") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = operators.Graph
      .cooccurrenceLift(li, "l_orderkey", "l_partkey", 3)
      .queryExecution.executedPlan.toString
    // the lift join of item totals onto surviving pairs remains; the
    // raw (basket, item) rows must never meet a SortMergeJoin
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    val genCount = "Generate".r.findAllIn(plan).length
    assert(genCount >= 2, // cnt explode + pair expansion
      s"pair expansion must be generator-based, not join-based:\n$plan")
  }

  test("imageDims/wavMeta: header parses are expression-only — no exchange, no UDF") {
    for (q <- Seq("q_mm_image_dims", "q_mm_wav_meta")) {
      val plan = planOf(q)
      // the single Exchange allowed is the final orderBy's range
      // repartition; the parse itself must not shuffle or leave
      // codegen for a UDF
      assert(!plan.contains("BatchEvalPython") &&
        !plan.contains("ScalaUDF"), s"$q must stay in expression space:\n$plan")
    }
  }

  test("partitioned sink read-back: the partition predicate prunes at " +
      "planning time, not per-row") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-ppart-spec").toString
    graft.sources.Sinks.partitionedBy(
      spark.read.parquet(s"$sf/documents.parquet"), out, Seq("lang"))
    val back = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.contains("lang"),
      s"lang = 'en' must land in PartitionFilters (directory pruning, " +
        s"zero data read for other langs):\n$plan")
    assert(!plan.contains("PushedFilters: [IsNotNull(lang"),
      s"the partition column must not fall through to a data filter:\n$plan")
  }

  test("featureHash: signed sums partial-aggregate map-side; the only " +
      "keyed exchange is the (id, idx) aggregation") {
    val plan = planOf("q_t_feature_hash")
    assert(plan.contains("partial_sum"),
      s"per-task feature sums must combine before the exchange:\n$plan")
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(keyed == 1,
      s"expected exactly one keyed exchange, found $keyed:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("hllTrailingDistinct: register build partial-aggregates; the " +
      "window merge never cartesians") {
    val plan = planOf("q_k_hll_trailing")
    assert(plan.contains("partial_max"),
      s"per-task register maxes must combine before the exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("keepByMassBudget: both window passes share ONE keyed exchange") {
    val plan = planOf("q_cur_mass_budget")
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(keyed == 1,
      s"cum and total windows must reuse the group partitioning " +
        s"(found $keyed keyed exchanges):\n$plan")
  }

  test("bqBatchTopK: the Hamming-radius filter runs BEFORE the " +
      "per-query exchange — candidates shuffle, not the N×Q cross") {
    val plan = planOf("q_v_bq_batch_recall")
    val exch = plan.indexOf("Exchange hashpartitioning(qid")
    val filt = plan.indexOf("<= 28")
    assert(exch >= 0, s"per-query ranking must exchange on qid:\n$plan")
    assert(filt >= 0, s"the radius filter must exist:\n$plan")
    // physical plans print top-down: the exchange's INPUT (the
    // filter) prints after it — radius-first means filter below
    assert(exch < filt,
      s"radius filter must feed the exchange, not follow it:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("NfcIdempotence rule: nested graft_nfc collapses to one call") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.nfcNormalize(
        graft.functions.nfcNormalize(col("text"))).as("t"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val n = "graft_nfc".r.findAllIn(optimized).length
    assert(n == 1, s"expected one graft_nfc after the rewrite:\n$optimized")
  }

  test("bucketed co-located join: SortMergeJoin with ZERO Exchange — " +
      "the write-time shuffle is never repeated") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-bkt-spec").toString
    operators.Layout.writeBucketed(
      spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_orderstatus"),
      "g_spec_bkt_o", s"$work/o", "o_orderkey", 4)
    operators.Layout.writeBucketed(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity"),
      "g_spec_bkt_l", s"$work/l", "l_orderkey", 4)
    val j = operators.Layout.bucketedJoin(spark, "g_spec_bkt_o",
      "g_spec_bkt_l", "o_orderkey", "l_orderkey")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"co-bucketed join must sort-merge:\n$plan")
    assert(!plan.contains("Exchange"),
      s"matched bucketing must eliminate every shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"both scans must report their bucket spec:\n$plan")
    // and the result is the same rows the unbucketed join yields
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
      .join(spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
    assert(j.count() == direct.count(),
      "bucketing changed the join result")
  }

  test("bq top-k: code scan is narrow — TakeOrderedAndProject rungs, " +
      "no hash-partitioned exchange anywhere") {
    val plan = planOf("q_v_bq_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"shortlist and re-rank must be top-N, not global sorts:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"quantize+hamming is per-row; nothing may shuffle on a key:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the query row must broadcast:\n$plan")
  }

  test("rendezvous sharding: pure narrow projection — the only " +
      "exchange is the final count rollup's") {
    val plan = planOf("q_c_rendezvous")
    // shard argmax per row is a projection; exactly the groupBy's
    // partial->final exchange may appear, nothing from the assignment
    assert(plan.contains("HashAggregate"),
      s"count rollup expected:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"shard assignment must not join, window, or go pairwise:\n$plan")
  }

  test("lexicon tagging: every phrase-length join broadcasts the " +
      "lexicon; the corpus never sort-merges") {
    val plan = planOf("q_t_tag_lexicon")
    assert(plan.contains("BroadcastHashJoin"),
      s"lexicon must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"no corpus-side wide join for a metadata lexicon:\n$plan")
  }

  test("distinct-n diversity: occurrence counts partial-aggregate " +
      "map-side before any exchange") {
    val plan = planOf("q_t_distinct_n")
    val firstExchange = plan.indexOf("Exchange hashpartitioning")
    val firstPartial = plan.lastIndexOf("HashAggregate")
    assert(firstExchange >= 0, s"keyed agg expected:\n$plan")
    // plan prints top-down: the LAST HashAggregate in the text is the
    // deepest (map-side partial) and must sit BELOW the exchange
    assert(firstPartial > firstExchange,
      s"partial agg must precede the shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), s"aggs only:\n$plan")
  }

  test("bitext margin: the pair scorer is a broadcast nested loop " +
      "(one side broadcast), never a CartesianProduct") {
    // pin the OPERATOR's plan directly: q_v_bitext_margin now reads
    // the session-shared materialized mining stage (the ANN recall
    // report grades against the same frame), so the query's own plan
    // is a checkpoint scan and no longer shows the scorer's join
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = graft.operators.Similarity.bitextMarginMine(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, minMargin = 1.02)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"cross side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbroadcast cartesian:\n$plan")
  }

  test("ivf recall curve: centroids/queries broadcast; no cartesian, " +
      "windows keyed on (qid, nprobe)") {
    val plan = planOf("q_v_recall_curve")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"broadcast rungs expected:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbroadcast cartesian:\n$plan")
    assert(plan.contains("windowspecdefinition(qid"),
      s"the sweep window must be keyed by qid:\n$plan")
  }

  test("round-10 additions: radius curve windows key on (qid, " +
      "radius); phrase search prunes to its terms before any " +
      "exchange; reservoir is a TakeOrdered, no corpus window; " +
      "skipping report broadcasts the workload; VAD never shuffles " +
      "before its rollup; tuned serve broadcasts the dial") {
    val curve = planOf("q_v_bq_radius_curve")
    assert(curve.contains("windowspecdefinition(qid"),
      s"radius sweep must rank per (qid, radius):\n$curve")
    assert(!curve.contains("CartesianProduct"),
      s"queries must broadcast in the curve:\n$curve")

    val phrase = planOf("q_r_phrase")
    assert(phrase.contains("table") && phrase.contains("hash"),
      s"term IN filter must reach the plan:\n$phrase")
    assert(!phrase.contains("CartesianProduct") &&
      !phrase.contains("BroadcastNestedLoopJoin"),
      s"adjacency joins are keyed equi-joins:\n$phrase")

    val res = planOf("q_samp_reservoir")
    assert(res.contains("TakeOrderedAndProject"),
      s"reservoir top-k must be TakeOrdered, not a global sort:\n$res")
    assert(!res.contains("Window") &&
      !res.contains("Exchange hashpartitioning"),
      s"priority is per-row narrow work:\n$res")

    val skip = planOf("q_z_skipping")
    assert(skip.contains("BroadcastNestedLoopJoin") ||
      skip.contains("BroadcastHashJoin") ||
      skip.contains("BroadcastExchange"),
      s"the workload table must broadcast:\n$skip")
    assert(!skip.contains("CartesianProduct"),
      s"zones x preds must not go cartesian:\n$skip")

    val vad = planOf("q_mm_vad")
    assert(!vad.contains("Exchange hashpartitioning") &&
      !vad.contains("SortMergeJoin"),
      s"pack->parse->frame->fold is narrow per-row work:\n$vad")

    val serve = planOf("q_e2e_autotuned_serve")
    assert(serve.contains("BroadcastExchange") ||
      serve.contains("BroadcastNestedLoopJoin"),
      s"the one-row dial must broadcast into the serve scan:\n$serve")
    assert(serve.contains("windowspecdefinition(qid"),
      s"serve rank must stay per-qid:\n$serve")
  }

  test("batched filtered IVF: every ranking window partitions by " +
      "qid — probe ranking and the top-k cut are PER QUERY, never a " +
      "global orderBy that would serialize the batch") {
    val plan = planOf("q_v_ivf_filtered_batch")
    val specs = "windowspecdefinition\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(specs.nonEmpty && specs == Set("qid"),
      s"all window specs must be qid-partitioned, got $specs:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbroadcast cartesian:\n$plan")
  }

  test("epoch shuffle: no global ranking window over the corpus — " +
      "row ranks partition by bucket and the offset table broadcasts") {
    val plan = planOf("q_pack_epoch_shuffle")
    // every window spec leads with the bucket key: the corpus-side
    // rank partitions by __b, and the only orderBy-without-partition
    // window runs on the B-row offset frame (also keyed __b)
    val specs = "windowspecdefinition\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(specs == Set("__b"),
      s"all window specs must lead with the bucket key, got $specs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"offset table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"no wide join in the position assignment:\n$plan")
  }

  test("domain blocklist: a config blocklist is a plan literal — " +
      "the tagging is one narrow projection, no join anywhere") {
    val plan = planOf("q_t_domain_blocklist")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"blocklist tagging must not join:\n$plan")
  }

  test("winnowing: both windows key on the document id — one " +
      "shuffle, no pairwise work in fingerprint selection") {
    val plan = planOf("q_d_winnow")
    val specs = "windowspecdefinition\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(specs == Set("doc_id"),
      s"selection windows must key on doc_id, got $specs:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"fingerprint selection must not join:\n$plan")
  }

  test("score buckets: rank and count windows key on the group — " +
      "a single group-keyed shuffle, never a global percentile") {
    val plan = planOf("q_t_score_buckets")
    val specs = "windowspecdefinition\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(specs == Set("lang"),
      s"windows must key on the group, got $specs:\n$plan")
  }

  test("winnow pairs: the match join keys on fp_hash — no " +
      "cartesian, no all-pairs work") {
    val plan = planOf("q_d_winnow_pairs")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay keyed on the fingerprint:\n$plan")
  }

  test("e2e crawl curation: every window keys on lang or the " +
      "shuffle bucket; blocklist stage contributes no join") {
    val plan = planOf("q_e2e_crawl_curate")
    val specs = "windowspecdefinition\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(specs == Set("lang", "__b"),
      s"windows must key on lang (buckets) and __b (shuffle), " +
        s"got $specs:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"only the broadcast offset join may appear:\n$plan")
  }

  test("record linkage: the pair join keys on the block — no " +
      "cartesian, no all-pairs scoring") {
    val plan = planOf("q_d_linkage")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay block-keyed:\n$plan")
  }

  test("correlated sample: both tables filter on the shared-key " +
      "hash BEFORE the join — the exchange only moves the sample") {
    val plan = planOf("q_samp_correlated")
    val nFilters = "csamp:".r.findAllIn(plan).length
    assert(nFilters >= 2,
      s"both join inputs must carry the salted-key filter:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"keyed equi-join expected:\n$plan")
  }

  test("unigram-LM training: the Viterbi DP is a per-row fold — no " +
      "window anywhere, the vocab map rides broadcast") {
    // the graded query reads the materialized vocab (Scan
    // ExistingRDD), so pin the OPERATOR's own plan
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TextAnalysis
      .unigramLmVocab(docs, "text", 3, 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"the DP must not be a window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"vocab must broadcast, never a cartesian:\n$plan")
    assert(plan.contains("Broadcast"),
      s"the cost map must ride a broadcast:\n$plan")
  }

  test("span excision: coverage and rebuild are keyed work — no " +
      "cartesian, no global window over the corpus") {
    val plan = planOf("q_e2e_substring_excise")
    assert(!plan.contains("CartesianProduct"),
      s"excision must stay keyed:\n$plan")
    val specs = "windowspecdefinition\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(specs.subsetOf(Set("doc_a", "doc_b", "doc_id")),
      s"any window must key on document columns, got $specs:\n$plan")
  }

  test("DSv2 statistics: the manifest scan reports manifest-derived " +
      "size/rows (pruned), and Catalyst broadcasts a small manifest " +
      "dim BECAUSE of them — SMJ once the threshold drops below the " +
      "reported size") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions.{col, count, lit}
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft-stats-dim").toString
    val factDir = java.nio.file.Files
      .createTempDirectory("graft-stats-fact").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    // dim: 4 ZONE-DISJOINT files (~300 rows total, a few KB); fact:
    // orders replicated 4× (~150 KB) so only the dim sits under the
    // broadcast threshold
    val dimBase = orders.filter(col("o_orderkey") % 5 === 0)
      .select("o_orderkey", "o_orderpriority")
    // sf0.001 orderkeys are dense in [0, 1500): quartile the range
    val bounds = Seq((Long.MinValue, 375L), (375L, 750L),
      (750L, 1125L), (1125L, Long.MaxValue))
    for ((lo, hi) <- bounds) {
      ManifestTable.commitWithStats(
        dimBase.filter(col("o_orderkey") > lo &&
          col("o_orderkey") <= hi).coalesce(1),
        dimDir, append = true, "o_orderkey")
    }
    val factBase = orders.select("o_orderkey", "o_custkey")
    ManifestTable.commitWithStats(
      factBase.union(factBase).union(factBase).union(factBase)
        .coalesce(1),
      factDir, append = true, "o_orderkey")
    val dim = spark.read.format("graft-manifest")
      .option("path", dimDir).load()
    // the relation's reported stats are the manifest's: exact row
    // count (#nrows lines), file-size bytes — never the
    // defaultSizeInBytes=Long.Max fallback
    val st = dim.queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes < 65536L,
      s"manifest stats must reach the plan: ${st.sizeInBytes}")
    assert(st.rowCount.contains(BigInt(dimBase.count())),
      s"numRows must be the manifest's exact count: ${st.rowCount}")
    // zone pruning compounds into the estimate: the PUSHED scan (the
    // one join planning sees after V2ScanRelationPushDown) reports
    // one surviving file's bytes, not the table's
    val pushedBuilder = new graft.sources.ManifestScanBuilder(
      dim.schema, graft.sources.ManifestV2Options(dimDir, None))
    pushedBuilder.pushFilters(Array(
      org.apache.spark.sql.sources.LessThanOrEqual(
        "o_orderkey", Long.box(300L))))
    val prunedSt = pushedBuilder.build()
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics]
      .estimateStatistics()
    assert(prunedSt.sizeInBytes.getAsLong < st.sizeInBytes.toLong,
      s"pruned scan must report pruned size: " +
        s"${prunedSt.sizeInBytes} vs ${st.sizeInBytes}")
    val fact = spark.read.format("graft-manifest")
      .option("path", factDir).load()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThresh = spark.conf.get(
      "spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // dim (~a few KB) under the threshold, fact above it: the
      // ONLY way the planner can pick BHJ here is our reported stats
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      val joined = fact.join(dim, "o_orderkey")
        .agg(count(lit(1)))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"stats-driven broadcast expected:\n$plan")
      // drop the threshold below the dim's reported bytes: the same
      // join must fall back to a shuffle join — proving the decision
      // tracked the REPORTED size, not a hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
      val plan2 = fact.join(dim, "o_orderkey")
        .agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan2.contains("BroadcastHashJoin") &&
          (plan2.contains("SortMergeJoin") ||
            plan2.contains("ShuffledHashJoin")),
        s"below-threshold stats must shuffle:\n$plan2")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevThresh)
    }
  }

  test("manifest DSv2 reads are COLUMNAR (vectorized) — across " +
      "schema evolution AND deletion vectors (row-id-mapping mask); " +
      "only a required _graft_pos row id forces the row path") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-columnar").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    ManifestTable.commit(orders.filter(col("o_orderkey") % 2 === 0)
      .coalesce(1), dir, append = false)
    // evolution: the second file carries a column the first lacks
    ManifestTable.commit(orders.filter(col("o_orderkey") % 2 === 1)
      .withColumn("late", col("o_custkey") * 2).coalesce(1),
      dir, append = true)
    def scanOf(df: DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan"))
    val df = spark.read.format("graft-manifest")
      .option("path", dir).load()
    assert(scanOf(df).supportsColumnar,
      "DV-free manifest scan must be columnar")
    // values: identical to the source recompute, late column NULL
    // for pre-evolution rows, _graft_file constant served columnar
    val expected = orders.filter(col("o_orderkey") % 2 === 0)
      .withColumn("late", lit(null).cast("long"))
      .unionByName(orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("late", col("o_custkey") * 2))
    assertSameRows(df.select("o_orderkey", "o_custkey", "late"),
      expected)
    val withMeta = df.select(col("late"), col("_graft_file"),
      col("o_orderkey"))
    assert(scanOf(withMeta).supportsColumnar,
      "metadata-column projection stays columnar")
    assert(withMeta.where(col("_graft_file").isNull).count() == 0L)
    assert(withMeta.where(col("late").isNull).count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    // a DV stays COLUMNAR too: the live-row index mapping masks dead
    // positions with zero copies (the Iceberg ColumnVectorWithFilter
    // shape) — values identical to the pre-delete frame minus the
    // deleted range
    ManifestTable.deleteRangeDv(spark, dir, "o_orderkey", 0L, 3L,
      dvMaxFraction = 1.0)
    val dvd = spark.read.format("graft-manifest")
      .option("path", dir).load()
    assert(scanOf(dvd).supportsColumnar,
      "DV'd manifest scan must stay columnar (row-id mapping mask)")
    assertSameRows(dvd.select("o_orderkey"),
      df.select("o_orderkey")
        .where(!col("o_orderkey").between(0, 3)))
    assertSameRows(dvd.select("o_orderkey", "o_custkey", "late"),
      expected.where(!col("o_orderkey").between(0, 3)))
    // INT96 timestamps: the Scala-path commit stages Spark's default
    // INT96 encoding — the vectorized reader must decode it to the
    // same micros the row path (and the source) carry
    val tsDir = java.nio.file.Files
      .createTempDirectory("graft-columnar-ts").toString
    val withTs = orders.withColumn("ts",
      org.apache.spark.sql.functions.timestamp_micros(
        col("o_orderkey") * 1000000L + 123456L))
    ManifestTable.commit(withTs.coalesce(1), tsDir, append = false)
    val tsDf = spark.read.format("graft-manifest")
      .option("path", tsDir).load()
    assert(scanOf(tsDf).supportsColumnar)
    assertSameRows(
      tsDf.select(col("o_orderkey"),
        org.apache.spark.sql.functions.unix_micros(col("ts"))),
      withTs.select(col("o_orderkey"),
        org.apache.spark.sql.functions.unix_micros(col("ts"))))
  }

  test("every graft-manifest scan kind — batch, _graft_pos (split " +
      "and filtered), SQL UPDATE and CDC — plans columnar and returns " +
      "ManifestTable.read's types and values over every flat type, " +
      "an evolved column and a DV; _graft_pos is _metadata.row_index") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.datasources.v2.{
      BatchScanExec, MicroBatchScanExec}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory("graft-parity-root").toString
    spark.conf.set("spark.sql.catalog.g_par",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g_par.root", root)
    val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = s"$root/$t"
    def rows(lo: Long, hi: Long): DataFrame = {
      val id = col("id")
      spark.range(lo, hi).select(id.as("l"),
        (id * 7 % 1000).cast("int").as("i"),
        (id % 3000 - 1500).cast("short").as("h"),
        (id % 200 - 100).cast("byte").as("b"),
        expr("CAST(id % 500 + 0.99 AS DECIMAL(12,2))").as("price"),
        when(id % 11 === 0, lit(null)).otherwise(id * 1.5).as("x"),
        (id / 4).cast("float").as("f"),
        (id % 3 === 0).as("flag"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          (id % 400).cast("int")).as("d"),
        timestamp_micros(id * 1000003L + 17L).as("ts"),
        when(id % 5 === 0, lit(null))
          .otherwise(concat(lit("s"), id.cast("string"))).as("s"),
        when(id % 7 === 0, lit(null))
          .otherwise(unhex(lpad(hex(id), 8, "0"))).as("bin"))
    }
    def plans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => plans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => plans(q.plan)
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        plans(c.commandPhysicalPlan)
      case other => other +: (other.children ++ other.subqueries)
        .flatMap(plans)
    }
    def assertColumnar(p: SparkPlan): Unit = {
      val scans = plans(p).collect {
        case b: BatchScanExec => b.supportsColumnar
        case m: MicroBatchScanExec => m.supportsColumnar
      }
      assert(scans.nonEmpty && scans.forall(identity), s"$scans\n$p")
    }
    def types(df: DataFrame): Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    // values in one column order, binary as hex (canon compares
    // strings)
    def shown(df: DataFrame): DataFrame = df.select(
      df.schema.fieldNames.sorted.map(n =>
        if (df.schema(n).dataType == BinaryType) hex(col(n)).as(n)
        else col(n)).toSeq: _*)
    def assertSame(got: DataFrame, want: DataFrame): Unit = {
      assert(types(got) == types(want), (got.schema, want.schema))
      assertSameRows(shown(got), shown(want))
    }
    def load(extra: (String, String)*): DataFrame =
      extra.foldLeft(spark.read.format("graft-manifest")
        .option("path", dir)) { case (r, (k, v)) => r.option(k, v) }
        .load()
    // CDC: one AvailableNow drain per commit on one checkpoint; each
    // drain's last micro-batch delivers that commit's file
    val cdcOut = java.nio.file.Files
      .createTempDirectory("graft-parity-cdc").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-parity-ckpt").toString
    def drainCdc(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("path", dir).option("startingVersion", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(cdcOut)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val last = q.asInstanceOf[org.apache.spark.sql.execution
        .streaming.runtime.StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assertColumnar(last)
    }

    // v1: a Scala-API commit (INT96 timestamps) in many row groups;
    // v2: a DSv2 append (MICROS timestamps) adding a `late` column;
    // v3: a DV on the first file
    val hconf = spark.sparkContext.hadoopConfiguration
    try {
      hconf.set("parquet.block.size", "16384")
      hconf.set("parquet.page.size", "4096")
      ManifestTable.commit(rows(0L, 4000L).coalesce(1), dir,
        append = false)
    } finally {
      hconf.unset("parquet.block.size")
      hconf.unset("parquet.page.size")
    }
    drainCdc()
    rows(10000L, 10500L).withColumn("late", col("l") * 2).coalesce(1)
      .write.format("graft-manifest").option("path", dir)
      .mode("append").save()
    drainCdc()
    ManifestTable.deleteRangeDv(spark, dir, "l", 100L, 149L,
      dvMaxFraction = 1.0)
    val snap = ManifestTable.snapshotFor(dir, None)
    val tsKinds = snap.files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$f"), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val m = r.getFooter.getFileMetaData.getSchema
        m.getType(m.getFieldIndex("ts")).asPrimitiveType()
          .getPrimitiveTypeName.toString
      } finally r.close()
    }.toSet
    assert(tsKinds == Set("INT96", "INT64"), tsKinds)
    assertSame(spark.read.option("mergeSchema", "true").parquet(cdcOut),
      ManifestTable.read(spark, dir, Some(2L)))

    val want = ManifestTable.read(spark, dir)
    assert(want.schema("price").dataType == DecimalType(12, 2) &&
      want.schema("b").dataType == ByteType &&
      want.schema("h").dataType == ShortType)
    // batch scan
    val batch = load()
    assertColumnar(batch.queryExecution.executedPlan)
    assertSame(batch, want)
    // _graft_pos scans: split into row-group ranges, and filtered
    // (a pushed filter must not skip row groups under the ordinal)
    def rowIndex(version: Option[Long]): DataFrame = {
      val s = ManifestTable.snapshotFor(dir, version)
      s.files.map { f =>
        val dead = s.dvs.getOrElse(f, Seq.empty)
        spark.read.parquet(s"$dir/$f").select(lit(f).as("_graft_file"),
            col("l"), col("_metadata.row_index").as("_graft_pos"))
          .where(!col("_graft_pos").isin(dead: _*))
      }.reduce(_ unionByName _)
    }
    val withPos = load("splitBytes" -> "16384").select(col("*"),
      col("_graft_file"), col("_graft_pos"))
    assert(withPos.rdd.getNumPartitions > 2,
      withPos.rdd.getNumPartitions)
    assertColumnar(withPos.queryExecution.executedPlan)
    assertSame(withPos.drop("_graft_file", "_graft_pos"), want)
    assertSameRows(withPos.select("_graft_file", "l", "_graft_pos"),
      rowIndex(None))
    val filtered = load("version" -> "2").where(col("l") >= 3000L)
      .select("_graft_file", "l", "_graft_pos")
    assertColumnar(filtered.queryExecution.executedPlan)
    assertSameRows(filtered,
      rowIndex(Some(2L)).where(col("l") >= 3000L))
    // SQL UPDATE: its scans plan columnar and carry every type through
    // the replacement write
    val upd = spark.sql(s"UPDATE g_par.$t SET x = x + 1 WHERE l < 100")
    assertColumnar(upd.queryExecution.executedPlan)
    val updated = ManifestTable.read(spark, dir)
    assertSame(updated, want.withColumn("x",
      when(col("l") < 100L, col("x") + 1).otherwise(col("x"))))
    assertSame(load(), updated)
  }

  test("large manifest files split into row-group-aligned " +
      "InputPartitions; values stay exact, with and without a DV") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-split").toString
    // force many small row groups in ONE staged file
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("parquet.block.size")
    try {
      hconf.set("parquet.block.size", "16384")
      hconf.set("parquet.page.size", "4096")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      ManifestTable.commit(li.coalesce(1), dir, append = false)
    } finally {
      if (prev == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prev)
      hconf.unset("parquet.page.size")
    }
    val whole = spark.read.format("graft-manifest")
      .option("path", dir).option("splitBytes", "0").load()
    assert(whole.rdd.getNumPartitions == 1)
    val split = spark.read.format("graft-manifest")
      .option("path", dir).option("splitBytes", "16384").load()
    assert(split.rdd.getNumPartitions > 1,
      s"one multi-row-group file must plan several partitions, " +
        s"got ${split.rdd.getNumPartitions}")
    assertSameRows(split, whole)
    // DV + split: rowOffset keeps positions exact on ranged reads
    ManifestTable.deleteRangeDv(spark, dir, "l_orderkey", 0L, 5L,
      dvMaxFraction = 1.0)
    val splitDv = spark.read.format("graft-manifest")
      .option("path", dir).option("splitBytes", "16384").load()
    assert(splitDv.rdd.getNumPartitions > 1)
    assertSameRows(splitDv,
      whole.where(!col("l_orderkey").between(0, 5)))
  }

  test("CBO histograms from manifest metadata: skew-aware filter " +
      "estimates flip a join decision where NDV alone would not") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions.{col, when}
    val skewDir = java.nio.file.Files
      .createTempDirectory("graft-hist-skew").toString
    val unifDir = java.nio.file.Files
      .createTempDirectory("graft-hist-unif").toString
    val n = 100000L
    // skewed: 95% of rows at k ∈ [1, 10], the rest spread to 100000;
    // uniform: same count, same [min, max], near-identical NDV — the
    // histogram is the ONLY statistic distinguishing them
    val skew = spark.range(1, n + 1).select(
      when(col("id") % 20 =!= 0L, (col("id") % 10) + 1L)
        .otherwise(col("id")).as("k"))
    val unif = spark.range(1, n + 1).select(col("id").as("k"))
    ManifestTable.commitWithStats(skew.coalesce(2), skewDir,
      append = false, "k")
    ManifestTable.commitWithStats(unif.coalesce(2), unifDir,
      append = false, "k")
    def rd(dir: String) = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val keys = Seq("spark.sql.cbo.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // between the uniform estimate (~10 rows) and the skew-aware
      // one (~95k rows ≈ 1.9 MB at 20 B/row)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      // the scan reports a histogram into attributeStats
      val st = rd(skewDir).queryExecution.optimizedPlan.stats
        .attributeStats.toSeq.collectFirst {
          case (a, s) if a.name == "k" => s
        }.getOrElse(fail("no column stats for k"))
      assert(st.histogram.isDefined,
        "manifest histogram must reach catalyst column stats")
      // estimation: the skewed filter keeps MOST rows; uniform tiny
      def estRows(dir: String): BigInt =
        rd(dir).where(col("k") <= 10L)
          .queryExecution.optimizedPlan.stats.rowCount
          .getOrElse(BigInt(-1))
      val eSkew = estRows(skewDir)
      val eUnif = estRows(unifDir)
      assert(eSkew > BigInt(n / 2),
        s"skew-aware estimate should keep most rows, got $eSkew")
      assert(eUnif >= BigInt(0) && eUnif < BigInt(1000),
        s"uniform estimate should be tiny, got $eUnif")
      // the flip: same query shape, same NDV/bounds/rowcount — the
      // histogram alone turns broadcast into sort-merge
      val big = spark.range(200000).select((col("id") % 12L).as("k"))
      def planOf(dir: String) = rd(dir).where(col("k") <= 10L)
        .join(big, "k").queryExecution.executedPlan.toString
      assert(!planOf(skewDir).contains("BroadcastHashJoin"),
        "skewed side must NOT broadcast under the histogram estimate")
      assert(planOf(unifDir).contains("BroadcastHashJoin"),
        "uniform side SHOULD broadcast — the flip is histogram-driven")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("metadata aggregate pushdown: ungrouped MIN/MAX/COUNT over " +
      "stats columns answer from the manifest (zero data reads); " +
      "DVs, filters, and stats-less columns decline to a scan") {
    import graft.sources.{ManifestColumnarReader, ManifestTable}
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-metaagg").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    for (m <- 0 to 1)
      ManifestTable.commitWithStats(
        orders.filter(col("o_orderkey") % 2 === m).coalesce(1),
        dir, append = true, "o_orderkey")
    def rd = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val expected = orders.agg(min("o_orderkey"), max("o_orderkey"),
      count(lit(1)), count(col("o_orderkey"))).collect().toSeq
    def probe = rd.agg(min("o_orderkey"), max("o_orderkey"),
      count(lit(1)), count(col("o_orderkey")))
    assert(probe.queryExecution.executedPlan.toString
      .contains("[metadata agg"), "complete pushdown expected")
    ManifestColumnarReader.rowsDecoded.set(0L)
    assert(probe.collect().toSeq == expected)
    assert(ManifestColumnarReader.rowsDecoded.get() == 0L,
      "metadata aggregate must read zero data files")
    // stats-less column: decline (o_custkey has no #stats= line)
    val unstats = rd.agg(min("o_custkey"))
    assert(!unstats.queryExecution.executedPlan.toString
      .contains("[metadata agg"))
    assert(unstats.collect().toSeq ==
      orders.agg(min("o_custkey")).collect().toSeq)
    // a filter means reading rows: decline
    assert(!rd.where(col("o_orderkey") > 10).agg(max("o_orderkey"))
      .queryExecution.executedPlan.toString.contains("[metadata agg"))
    // DV'd snapshot: recorded extrema may BE deleted rows — decline
    // and recompute exactly
    ManifestTable.deleteRangeDv(spark, dir, "o_orderkey",
      Long.MinValue, 5L, dvMaxFraction = 1.0)
    val after = rd.agg(min("o_orderkey"), count(lit(1)))
    assert(!after.queryExecution.executedPlan.toString
      .contains("[metadata agg"))
    assert(after.collect().toSeq ==
      orders.where(col("o_orderkey") > 5)
        .agg(min("o_orderkey"), count(lit(1))).collect().toSeq)
  }

  test("pushed filters skip parquet ROW GROUPS inside a surviving " +
      "file: a selective range decodes a fraction of the rows, " +
      "values exact; a DV'd scan reads everything (and stays right)") {
    import graft.sources.{ManifestColumnarReader, ManifestTable}
    import org.apache.spark.sql.functions.{col, sum}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rgskip").toString
    // ONE staged file, many small row groups, SORTED on the
    // predicate column so group min/max are range-disjoint
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("parquet.block.size")
    try {
      hconf.set("parquet.block.size", "16384")
      hconf.set("parquet.page.size", "4096")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
        .repartition(1).sortWithinPartitions("l_orderkey")
      ManifestTable.commit(li, dir, append = false)
    } finally {
      if (prev == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prev)
      hconf.unset("parquet.page.size")
    }
    val df = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val total = df.count()
    def decodedFor(d: DataFrame): (Long, Seq[org.apache.spark.sql.Row]) = {
      ManifestColumnarReader.rowsDecoded.set(0L)
      val rows = d.collect().toSeq
      (ManifestColumnarReader.rowsDecoded.get(), rows)
    }
    def probe(d: DataFrame) = d
      .where(col("l_orderkey").between(100L, 140L))
      .agg(sum("l_partkey").cast("long").as("s"),
        sum(col("l_quantity").cast("long")).as("q"))
    val expected = probe(spark.read.parquet(s"$sf/lineitem.parquet"))
      .collect().toSeq
    val (decoded, got) = decodedFor(probe(df))
    assert(got == expected, s"row-group-skipped values drifted")
    assert(decoded > 0 && decoded < total / 2,
      s"selective range should decode < half the file's rows " +
        s"(row-group + page skip), got $decoded of $total")
    // hygiene: an UNfiltered scan decodes every row (the predicate
    // conversion must never fire without a pushed filter)
    val (allDecoded, _) = decodedFor(df.agg(sum("l_partkey")))
    assert(allDecoded == total)
    // DV'd file: positional masking forbids eliding row groups —
    // the reader decodes all rows, and values stay exact
    ManifestTable.deleteRangeDv(spark, dir, "l_orderkey", 110L, 115L,
      dvMaxFraction = 1.0)
    val dvd = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val (dvDecoded, dvGot) = decodedFor(probe(dvd))
    val dvExpected = probe(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .where(!col("l_orderkey").between(110L, 115L))).collect().toSeq
    assert(dvGot == dvExpected)
    assert(dvDecoded == total,
      s"DV'd read must not skip row groups (ordinal drift), " +
        s"decoded $dvDecoded of $total")
  }

  test("runtime (dynamic) file pruning: a manifest fact joined to a " +
      "selective dim re-prunes its files from the join key at " +
      "EXECUTION time — fewer partitions than the static scan") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.{broadcast, col}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dfp").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    // 4 zone-disjoint fact files on o_orderkey
    val bounds = Seq((Long.MinValue, 375L), (375L, 750L),
      (750L, 1125L), (1125L, Long.MaxValue))
    for ((lo, hi) <- bounds) {
      ManifestTable.commitWithStats(
        orders.filter(col("o_orderkey") > lo &&
          col("o_orderkey") <= hi).coalesce(1),
        dir, append = true, "o_orderkey")
    }
    val fact = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // selective dim: an In filter (the shape DPP keys on) keeping
      // 3 keys, all inside ONE fact file's zone
      val dim = spark.range(2000)
        .where(col("id").isin(400L, 401L, 402L))
        .select(col("id").as("k"))
      val joined = fact.join(broadcast(dim),
        fact("o_orderkey") === dim("k"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruning"),
        s"runtime filter expected in scan:\n$plan")
      // execute THIS plan instance (its pruning subquery runs, then
      // the scan re-plans partitions under the runtime IN-set)
      assert(plan.executeCollect().length == 3)
      val scan = plan.collectFirst { case b: BatchScanExec => b }
        .getOrElse(fail("no BatchScanExec"))
      assert(scan.inputRDD.getNumPartitions == 1,
        s"runtime IN over 3 keys must keep ONE of 4 files, got " +
          s"${scan.inputRDD.getNumPartitions}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("NDV column statistics: #ndv register sketches merge into " +
      "reported distinctCount, and a CBO join-cardinality decision " +
      "FLIPS with the reported NDV") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions.col
    def mkTable(withStats: Boolean): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ndv").toString
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
      for (m <- 0 to 1) {
        val part = orders.filter(col("k") % 2 === m).coalesce(1)
        if (withStats)
          ManifestTable.commitWithStats(part, dir, append = true, "k")
        else ManifestTable.commit(part, dir, append = true)
      }
      dir
    }
    val statsA = mkTable(withStats = true)
    val statsB = mkTable(withStats = true)
    val bareA = mkTable(withStats = false)
    val bareB = mkTable(withStats = false)
    val bigDir = java.nio.file.Files
      .createTempDirectory("graft-ndv-big").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("q"))
    // incompressible big side (unique ids), safely over the threshold
    ManifestTable.commit(
      spark.range(200000).select(
        (col("id") % 1500).as("k"),
        org.apache.spark.sql.functions.xxhash64(col("id")).as("q"))
        .coalesce(1),
      bigDir, append = false)
    def rd(dir: String) = spark.read.format("graft-manifest")
      .option("path", dir).load()
    val nRows = orders.count()
    // the relation-level stats carry the HLL-estimated NDV (±6.5%)
    val withNdv = rd(statsA)
    val prev = Seq("spark.sql.cbo.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(kk => kk -> spark.conf.getOption(kk))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      val attrStats = withNdv.queryExecution.optimizedPlan
        .stats.attributeStats
      val ndvEst = attrStats.toSeq.collectFirst {
        case (a, st) if a.name == "k" => st.distinctCount.get
      }.getOrElse(fail(s"no NDV reached the plan: $attrStats"))
      assert(math.abs(ndvEst.toLong - nRows) < nRows / 5,
        s"HLL NDV ≈ $nRows expected, got $ndvEst")
      // decision flip: (a ⋈ b) ⋈ big — WITH ndv the join's estimated
      // cardinality is ~|a| (keys unique), small enough to broadcast
      // the joined subtree; WITHOUT #ndv lines (same data, plain
      // commits) the estimate degrades to the size product and the
      // same join plans a shuffle
      def planOf(a: String, b: String): String = {
        val j = rd(a).join(rd(b).withColumnRenamed("p", "p2"), "k")
          .join(rd(bigDir).withColumnRenamed("p", "p3"), "k")
        j.queryExecution.executedPlan.toString
      }
      // the top join's BUILD side is (a ⋈ b): broadcastable only
      // when the cardinality estimate (≈ |a|, keys unique) holds —
      // i.e. only when the reported NDV reached JoinEstimation
      val withPlan = planOf(statsA, statsB)
      assert(!withPlan.contains("SortMergeJoin"),
        s"NDV-driven cardinality must broadcast the joined dims:\n" +
          withPlan)
      val barePlan = planOf(bareA, bareB)
      assert(barePlan.contains("SortMergeJoin"),
        s"without #ndv the joined-dims estimate degrades to the " +
          s"size product and must NOT broadcast:\n$barePlan")
    } finally prev.foreach { case (kk, v) =>
      v.fold(spark.conf.unset(kk))(spark.conf.set(kk, _))
    }
  }

  test("storage-partitioned join: two manifest tables partitioned on " +
      "the same column join with ZERO exchange " +
      "(KeyGroupedPartitioning + HasPartitionKey)") {
    import org.apache.spark.sql.functions.col
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-spj-a").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-spj-b").toString
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.select(col("c_custkey"), col("c_nationkey"))
      .write.format("graft-manifest").option("path", dirA)
      .option("partitionColumns", "c_nationkey").mode("append").save()
    spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
      .write.format("graft-manifest").option("path", dirB)
      .option("partitionColumns", "n_nationkey").mode("append").save()
    val prev = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.sources.v2.bucketing.enabled",
      graft.sources.ManifestScan.PreserveGroupingKey)
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(graft.sources.ManifestScan.PreserveGroupingKey,
        "true")
      val a = spark.read.format("graft-manifest")
        .option("path", dirA).load()
      val b = spark.read.format("graft-manifest")
        .option("path", dirB).load()
      val joined = a.join(b,
        a("c_nationkey") === b("n_nationkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"SPJ keeps a shuffle-join OPERATOR, minus its exchanges:\n$plan")
      assert(!plan.contains("Exchange"),
        s"same-key manifest⋈manifest must plan NO exchange:\n$plan")
      // values identical to the shuffled plan
      val expected = cust.join(
        spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      assertSameRows(joined.select("c_custkey", "n_name"), expected)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("row-level operation scan: runtime IN predicates on ZONE " +
      "columns prune candidate files (the planner face of " +
      "mergeByKeyDv's candidate pruning), composing with the " +
      "_graft_file group filter") {
    import graft.sources.{ManifestTable, ManifestV2Options}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    def v2lit(v: Long) =
      new org.apache.spark.sql.connector.expressions.Literal[java.lang.Long] {
        override def value: java.lang.Long = v
        override def dataType: org.apache.spark.sql.types.DataType =
          LongType
      }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rls-prune").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
    val bounds = Seq((Long.MinValue, 375L), (375L, 750L),
      (750L, 1125L), (1125L, Long.MaxValue))
    for ((lo, hi) <- bounds)
      ManifestTable.commitWithStats(
        orders.filter(col("k") > lo && col("k") <= hi).coalesce(1),
        dir, append = true, "k")
    val op = new graft.sources.ManifestDeltaOperation(
      org.apache.spark.sql.connector.write.RowLevelOperation
        .Command.MERGE,
      ManifestV2Options(dir, None))
    val scan = op.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      .build().asInstanceOf[graft.sources.ManifestRowScan]
    assert(scan.planInputPartitions().length == 4)
    assert(scan.filterAttributes().map(_.describe()).toSet ==
      Set("k"),
      "delta scans declare zone columns (group-based declare only " +
        "_graft_file, or Spark's group rule would mis-key)")
    // runtime IN on the zoned key: 3 keys inside ONE file's range
    scan.filter(Array(new Predicate("IN", Array(
      Expressions.column("k"),
      v2lit(400L), v2lit(401L), v2lit(402L)))))
    assert(scan.planInputPartitions().length == 1,
      s"zone pruning must keep 1 of 4: " +
        s"${scan.planInputPartitions().length}")
  }

  test("merge-on-read SQL MERGE (SupportsDelta): a small MERGE " +
      "publishes DV lines + ONE insert file with ZERO rewritten " +
      "data files; over-budget files fall back to copy-on-write") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.catalog.g_pd",
      "graft.sources.GraftCatalog")
    val tbl = "t_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-catalog-root",
      tbl).toString
    spark.sql(s"CREATE TABLE g_pd.$tbl (k BIGINT, p BIGINT) " +
      "USING `graft-manifest` " +
      "TBLPROPERTIES ('merge.mode'='merge-on-read')")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
    val bounds = Seq((Long.MinValue, 375L), (375L, 750L),
      (750L, 1125L), (1125L, Long.MaxValue))
    for ((lo, hi) <- bounds) {
      ManifestTable.commitWithStats(
        orders.filter(col("k") > lo && col("k") <= hi).coalesce(1),
        dir, append = true, "k")
    }
    val before = ManifestTable.snapshotFor(dir, None).files.toSet
    // small MERGE: 5 updates + 3 inserts → DV path
    orders.filter(col("k").between(400, 404))
      .select(col("k"), (col("p") + 1000000L).as("p"))
      .unionByName(spark.range(3).select(
        (col("id") + 9000000L).as("k"), col("id").as("p")))
      .createOrReplaceTempView("pd_src")
    spark.sql(s"MERGE INTO g_pd.$tbl t USING pd_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.p = s.p " +
      "WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, s.p)")
    val snap = ManifestTable.snapshotFor(dir, None)
    assert(before.subsetOf(snap.files.toSet),
      "small delta MERGE must rewrite ZERO data files")
    assert((snap.files.toSet -- before).size == 1,
      s"exactly one insert file expected, got " +
        s"${(snap.files.toSet -- before).size}")
    assert(snap.dvs.values.map(_.size).sum == 5,
      s"5 DV positions expected, got ${snap.dvs}")
    // values: matched keys carry the new payload, inserts appear
    val got = spark.sql(s"SELECT sum(p) FROM g_pd.$tbl " +
      "WHERE k BETWEEN 400 AND 404").head().getLong(0)
    val want = orders.filter(col("k").between(400, 404))
      .agg(org.apache.spark.sql.functions.sum(col("p") + 1000000L))
      .head().getLong(0)
    assert(got == want, s"updated payloads: $got vs $want")
    assert(spark.sql(s"SELECT count(*) FROM g_pd.$tbl " +
      "WHERE k >= 9000000").head().getLong(0) == 3L)
    // over-budget fallback: update EVERY row of one file — the file
    // must REWRITE (no DV), others untouched
    orders.filter(col("k") <= 375).select(col("k"),
        (col("p") + 5L).as("p"))
      .createOrReplaceTempView("pd_src2")
    spark.sql(s"MERGE INTO g_pd.$tbl t USING pd_src2 s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.p = s.p")
    val snap2 = ManifestTable.snapshotFor(dir, None)
    val full = orders.filter(col("k") <= 375).count()
    assert(snap2.dvs.values.map(_.size).sum == 5,
      s"a full-file update must NOT accumulate a ${full}-position " +
        s"DV: ${snap2.dvs.values.map(_.size).sum}")
    assert(spark.sql(s"SELECT count(*) FROM g_pd.$tbl").head()
      .getLong(0) == orders.count() + 3L)
    spark.sql(s"DROP TABLE g_pd.$tbl")
  }
}
