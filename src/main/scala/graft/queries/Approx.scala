package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Constraints, Graph, Merge, Similarity, Skew, Sketches, TextAnalysis}
import graft.streaming.StreamOps

/** Sketch / graph / streaming-parity additions to the [Q] inventory —
  * the operator families a 100 TB curation pipeline leans on when
  * exact formulations (COUNT DISTINCT, all-pairs joins, global sorts)
  * stop scaling. Every query follows the package determinism contract;
  * the sketch queries are bit-reproducible because the sketches
  * themselves are md5-derived (see operators.Sketches scaladoc).
  */
object Approx {

  /** Oracle for [[Graph.kCoreOfCanonical]] over the capped part
    * co-occurrence graph: the q_g_triangles prelude builds the
    * canonical capped edge table, then `rounds` synchronous peel
    * rounds are UNROLLED as chained CTEs (peeling past the fixpoint
    * is a no-op, so a fixed unroll replays the engine's
    * early-exiting loop exactly whenever the cascade converges
    * within `rounds` — 6 deep at sf0.01 for k=48). */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: each peel references its
    // predecessor three times, so DuckDB's default inlining would
    // expand the chain 3^rounds-fold (and re-open the parquet per
    // expansion); materialization keeps the replay linear, exactly
    // like the engine's per-round localCheckpoint
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
        |  GROUP BY node),
        |keep AS (SELECT node FROM deg WHERE deg <= 128),
        |e_0 AS MATERIALIZED (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM keep)
        |    AND v IN (SELECT node FROM keep))""".stripMargin
    val peels = (1 to rounds).map { r =>
      s""",
         |k_$r AS MATERIALIZED (SELECT node FROM (
         |  SELECT u AS node FROM e_${r - 1}
         |  UNION ALL SELECT v AS node FROM e_${r - 1})
         |  GROUP BY node HAVING count(*) >= $k),
         |e_$r AS MATERIALIZED (SELECT u, v FROM e_${r - 1}
         |  WHERE u IN (SELECT node FROM k_$r)
         |    AND v IN (SELECT node FROM k_$r))""".stripMargin
    }.mkString
    base + peels +
      s"""
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
         |  SELECT u AS node FROM e_$rounds
         |  UNION ALL SELECT v AS node FROM e_$rounds)
         |GROUP BY node ORDER BY node""".stripMargin
  }

  /** Oracle prelude for [[Graph.labelPropagation]] over the capped
    * part co-occurrence graph: builds the canonical capped edge table
    * (the q_g_triangles prelude), its symmetric adjacency, the
    * identity labeling l_0, then `rounds` synchronous
    * most-frequent-neighbor-label updates (min-label tie-break)
    * UNROLLED as chained CTEs — each round is a pure function of the
    * previous round's labels, so the unroll replays the engine's
    * loop exactly. MATERIALIZED for the same 3^rounds-inlining
    * reason as [[kCoreOracle]]. */
  private def lpaChain(rounds: Int): String = {
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |dg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
        |  GROUP BY node),
        |keep AS (SELECT node FROM dg WHERE deg <= 128),
        |e AS MATERIALIZED (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM keep)
        |    AND v IN (SELECT node FROM keep)),
        |adj AS MATERIALIZED (SELECT u AS n, v AS w FROM e
        |  UNION ALL SELECT v AS n, u AS w FROM e),
        |l_0 AS MATERIALIZED (
        |  SELECT DISTINCT n AS node, n AS lbl FROM adj)""".stripMargin
    val updates = (1 to rounds).map { r =>
      s""",
         |c_$r AS (SELECT a.n, l.lbl, count(*) AS c
         |  FROM adj a JOIN l_${r - 1} l ON l.node = a.w
         |  GROUP BY 1, 2),
         |l_$r AS MATERIALIZED (SELECT n AS node, lbl FROM (
         |  SELECT n, lbl, row_number() OVER (PARTITION BY n
         |    ORDER BY c DESC, lbl) AS rn FROM c_$r) WHERE rn = 1)""".stripMargin
    }.mkString
    base + updates
  }

  /** DuckDB mirror of Sketches' md5-derived hash60 with a salt. */
  private def h60(salt: String, x: String): String =
    sqlHash60(s"'$salt:' || CAST($x AS VARCHAR)")

  /** Mirror of hash60b (second hash from the same digest). */
  private def h60b(salt: String, x: String): String =
    sqlHash60b(s"'$salt:' || CAST($x AS VARCHAR)")

  /** Shared stages of the part co-occurrence graph (parts sharing an
    * order; degree cap 128): the capped canonical edge table and its
    * per-node triangle counts, each computed once per session — the
    * triangle and clustering queries both consume them, mirroring a
    * pipeline that materializes the prepared graph before running
    * several statistics over it. */
  private def coEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    materialized(s, d, "g_co_edges") {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.select(col("l_orderkey"), col("l_partkey").as("u"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("v")),
          Seq("l_orderkey"))
        .filter(col("u") < col("v"))
      Graph.cappedCanonicalEdges(pairs, "u", "v", maxDegree = 128)
    }

  private def coTriangles(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    materialized(s, d, "g_co_tri") {
      Graph.trianglesOfCanonical(coEdges(s, d))
    }

  /** 4-round deterministic LPA labels over the same capped graph —
    * shared by the community and modularity queries. */
  private def lpaLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    materialized(s, d, "g_lpa_labels") {
      Graph.labelPropagation(coEdges(s, d), rounds = 4)
    }

  val all: Seq[Q] = Seq(

    // SKETCH: deterministic HyperLogLog over orders (m=256 registers).
    // Raw-regime estimate (n >> 2.5m at every graded SF); the harmonic
    // sum folds exact powers of two in bucket order on both engines.
    Q("q_k_hll",
      s"""WITH h AS (SELECT DISTINCT ${h60("hll", "o_orderkey")} AS hv
         |    FROM orders),
         |b AS (SELECT hv % 256 AS bucket, hv // 256 AS v FROM h),
         |r AS (SELECT bucket, MAX(CASE WHEN v = 0 THEN 53
         |    ELSE 53 - length(bin(v)) END) AS rho FROM b GROUP BY bucket),
         |l AS (SELECT list(rho ORDER BY bucket) AS rhos,
         |    CAST(count(*) AS BIGINT) AS nb FROM r),
         |s AS (SELECT nb, list_reduce(
         |    list_prepend(0.0, [power(2.0, -CAST(x AS DOUBLE)) for x in rhos]),
         |    (a, x) -> a + x) + CAST(256 - nb AS DOUBLE) AS harmonic_sum
         |  FROM l)
         |SELECT CAST(256 AS BIGINT) AS m, nb AS nonzero_buckets,
         |  harmonic_sum,
         |  (0.7213 / (1 + 1.079 / 256)) * CAST(256 AS DOUBLE)
         |    * CAST(256 AS DOUBLE) / harmonic_sum AS estimate
         |FROM s""".stripMargin) { (s, d) =>
      Sketches.hllEstimate(t(s, d, "orders"), "o_orderkey", 256)
    },

    // SKETCH: the SAME HLL estimate through the native one-pass
    // typed-imperative aggregate (graft_hll_regs) — registers are
    // bit-identical to the declarative build (parity spec'd), so the
    // oracle is the identical SQL; what changes is the shuffle: one
    // m-byte buffer per partition instead of a DISTINCT of every
    // salted hash. Same answer, sketch-sized exchange.
    Q("q_k_hll_native",
      s"""WITH h AS (SELECT DISTINCT ${h60("hll", "o_orderkey")} AS hv
         |    FROM orders),
         |b AS (SELECT hv % 256 AS bucket, hv // 256 AS v FROM h),
         |r AS (SELECT bucket, MAX(CASE WHEN v = 0 THEN 53
         |    ELSE 53 - length(bin(v)) END) AS rho FROM b GROUP BY bucket),
         |l AS (SELECT list(rho ORDER BY bucket) AS rhos,
         |    CAST(count(*) AS BIGINT) AS nb FROM r),
         |s AS (SELECT nb, list_reduce(
         |    list_prepend(0.0, [power(2.0, -CAST(x AS DOUBLE)) for x in rhos]),
         |    (a, x) -> a + x) + CAST(256 - nb AS DOUBLE) AS harmonic_sum
         |  FROM l)
         |SELECT CAST(256 AS BIGINT) AS m, nb AS nonzero_buckets,
         |  harmonic_sum,
         |  (0.7213 / (1 + 1.079 / 256)) * CAST(256 AS DOUBLE)
         |    * CAST(256 AS DOUBLE) / harmonic_sum AS estimate
         |FROM s""".stripMargin) { (s, d) =>
      Sketches.hllEstimateFrom(
        Sketches.hllRegistersNative(t(s, d, "orders"), "o_orderkey", 256),
        256)
    },

    // SKETCH: per-GROUP HLL — approximate distinct users PER DAY
    // (m=32 registers per day; ~134 users/day keeps every group in
    // the raw regime n > 2.5m). The grouped register shuffle carries
    // |days| * m rows however long the history; exact counts ride
    // along so the oracle also demonstrates the error envelope.
    Q("q_k_hll_by_day",
      s"""WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id
         |  FROM events),
         |h AS (SELECT DISTINCT day, ${h60("hll", "user_id")} AS hv
         |  FROM e),
         |b AS (SELECT day, hv % 32 AS bucket, hv // 32 AS v FROM h),
         |r AS (SELECT day, bucket, MAX(CASE WHEN v = 0 THEN 56
         |    ELSE 56 - length(bin(v)) END) AS rho FROM b GROUP BY 1, 2),
         |l AS (SELECT day, list(rho ORDER BY bucket) AS rhos,
         |    count(*) AS nb FROM r GROUP BY day),
         |s AS (SELECT day, list_reduce(
         |    list_prepend(0.0, [power(2.0, -CAST(x AS DOUBLE))
         |      for x in rhos]),
         |    (a, x) -> a + x) + CAST(32 - nb AS DOUBLE) AS harmonic_sum
         |  FROM l),
         |x AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
         |    count(DISTINCT user_id) AS exact_nu FROM events GROUP BY 1)
         |SELECT x.day, CAST(x.exact_nu AS BIGINT) AS exact_nu,
         |  (0.7213 / (1 + 1.079 / 32)) * CAST(32 AS DOUBLE)
         |    * CAST(32 AS DOUBLE) / s.harmonic_sum AS estimate
         |FROM x JOIN s ON s.day = x.day ORDER BY x.day""".stripMargin) {
      (s, d) =>
      val ev = events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val exact = ev.groupBy(col("day").as("grp"))
        .agg(count_distinct(col("user_id")).as("exact_nu"))
      Sketches.hllEstimateByGroup(ev, "day", "user_id", 32)
        .join(exact, Seq("grp"))
        .select(col("grp").as("day"), col("exact_nu"), col("estimate"))
        .orderBy("day")
    },

    // SKETCH (K11): trailing-7-day distinct users per day — the
    // metric exact distinct can't deliver at scale (COUNT(DISTINCT)
    // is not even a legal window aggregate; exact re-scans every
    // identity per window position). Per-day registers built once,
    // then the trailing merge is a RANGE-frame window MAX per bucket
    // over the days × m grid — the HLL merge law as a window
    // function, sketch-sized end to end. The exact trailing count
    // rides along (both engines compute it by a small range join)
    // to show the m=32 error envelope.
    Q("q_k_hll_trailing",
      s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_ord,
         |    user_id FROM events),
         |h AS (SELECT DISTINCT day_ord, ${h60("hll", "user_id")} AS hv
         |  FROM e),
         |b AS (SELECT day_ord, hv % 32 AS bucket, hv // 32 AS v FROM h),
         |r AS (SELECT day_ord, bucket, MAX(CASE WHEN v = 0 THEN 56
         |    ELSE 56 - length(bin(v)) END) AS rho FROM b GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day_ord FROM e),
         |grid AS (SELECT d.day_ord, g.bucket FROM days d,
         |  (SELECT unnest(range(0, 32)) AS bucket) g),
         |w AS (SELECT grid.day_ord, grid.bucket,
         |    max(r.rho) OVER (PARTITION BY grid.bucket
         |      ORDER BY grid.day_ord
         |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mrho
         |  FROM grid LEFT JOIN r ON grid.day_ord = r.day_ord
         |    AND grid.bucket = r.bucket),
         |l AS (SELECT day_ord,
         |    [x for x in list(mrho ORDER BY bucket)
         |     if x IS NOT NULL] AS rhos
         |  FROM w GROUP BY day_ord),
         |s AS (SELECT day_ord, len(rhos) AS nb, list_reduce(
         |    list_prepend(0.0, [power(2.0, -CAST(x AS DOUBLE))
         |      for x in rhos]),
         |    (a, x) -> a + x) + CAST(32 - len(rhos) AS DOUBLE)
         |      AS harmonic_sum
         |  FROM l),
         |x AS (SELECT d.day_ord, count(DISTINCT e.user_id) AS exact_nu
         |  FROM days d JOIN e ON e.day_ord BETWEEN d.day_ord - 6
         |    AND d.day_ord
         |  GROUP BY 1)
         |SELECT s.day_ord, CAST(x.exact_nu AS BIGINT) AS exact_nu,
         |  (0.7213 / (1 + 1.079 / 32)) * 32.0 * 32.0 / s.harmonic_sum
         |    AS estimate
         |FROM s JOIN x ON s.day_ord = x.day_ord
         |ORDER BY s.day_ord""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .withColumn("day_ord", expr("unix_micros(ts) div 86400000000"))
      val days = ev.select(col("day_ord").as("d")).distinct()
      val exact = days
        .join(ev, col("day_ord").between(col("d") - 6, col("d")))
        .groupBy(col("d"))
        .agg(count_distinct(col("user_id")).as("exact_nu"))
      Sketches.hllTrailingDistinct(ev, "day_ord", "user_id", 32, 7)
        .join(exact, col("day_ord") === col("d"))
        .select(col("day_ord"), col("exact_nu").cast("long").as("exact_nu"),
          col("estimate"))
        .orderBy("day_ord")
    },

    // SKETCH: cross-dataset overlap by HLL inclusion-exclusion —
    // |A∩B| ≈ |A| + |B| − |A∪B| from three sketches, where the union
    // sketch is the registers' bytewise max (the merge law). THE
    // question before merging two corpora — how much of B already
    // sits in A — answered without joining them; the exact intersect
    // (q_sql_intersect's 'O'∩'F' customers) rides along to show the
    // error. All three estimates fold bucket-ordered.
    Q("q_k_overlap", {
      def hllCte(src: String, tag: String): String =
        s"""h_$tag AS (SELECT DISTINCT ${h60("hll", "o_custkey")} AS hv
           |  FROM orders WHERE o_orderstatus = '$src'),
           |b_$tag AS (SELECT hv % 256 AS bucket, hv // 256 AS v
           |  FROM h_$tag),
           |r_$tag AS (SELECT bucket, MAX(CASE WHEN v = 0 THEN 53
           |    ELSE 53 - length(bin(v)) END) AS rho FROM b_$tag
           |  GROUP BY bucket)""".stripMargin
      def estCte(regs: String, tag: String): String =
        s"""l_$tag AS (SELECT list(rho ORDER BY bucket) AS rhos,
           |    count(*) AS nb FROM $regs),
           |e_$tag AS (SELECT (0.7213 / (1 + 1.079 / 256)) * 65536.0 /
           |    (list_reduce(list_prepend(0.0,
           |      [power(2.0, -CAST(x AS DOUBLE)) for x in rhos]),
           |     (a, x) -> a + x) + CAST(256 - nb AS DOUBLE)) AS est
           |  FROM l_$tag)""".stripMargin
      s"""WITH ${hllCte("O", "a")},
         |${hllCte("F", "b")},
         |r_u AS (SELECT bucket, MAX(rho) AS rho FROM
         |  (SELECT * FROM r_a UNION ALL SELECT * FROM r_b)
         |  GROUP BY bucket),
         |${estCte("r_a", "ea")},
         |${estCte("r_b", "eb")},
         |${estCte("r_u", "eu")},
         |x AS (SELECT CAST(count(*) AS BIGINT) AS exact_n FROM (
         |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         |  INTERSECT
         |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
         |SELECT x.exact_n, e_ea.est AS est_a, e_eb.est AS est_b,
         |  e_eu.est AS est_union,
         |  e_ea.est + e_eb.est - e_eu.est AS est_overlap
         |FROM x, e_ea, e_eb, e_eu""".stripMargin
    }) { (s, d) =>
      val orders = t(s, d, "orders")
      val a = orders.filter(col("o_orderstatus") === "O")
      val b = orders.filter(col("o_orderstatus") === "F")
      val ra = Sketches.hllRegisters(a, "o_custkey", 256)
      val rb = Sketches.hllRegisters(b, "o_custkey", 256)
      val estOf = (r: org.apache.spark.sql.DataFrame, n: String) =>
        Sketches.hllEstimateFrom(r, 256).select(col("estimate").as(n))
      val exact = a.select("o_custkey")
        .intersect(b.select("o_custkey"))
        .agg(count(lit(1)).as("exact_n"))
      exact.crossJoin(estOf(ra, "est_a"))
        .crossJoin(estOf(rb, "est_b"))
        .crossJoin(estOf(Sketches.hllMergeRegisters(ra, rb), "est_union"))
        .withColumn("est_overlap",
          col("est_a") + col("est_b") - col("est_union"))
    },

    // SKETCH: per-day HLL through the native grouped aggregate — the
    // same estimates as q_k_hll_by_day (bit-equal registers and fold
    // order; parity spec'd), but the exchange carries one 32-byte
    // buffer per day instead of a distinct over every (day, hash).
    Q("q_k_hll_by_day_native",
      s"""WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id
         |  FROM events),
         |h AS (SELECT DISTINCT day, ${h60("hll", "user_id")} AS hv
         |  FROM e),
         |b AS (SELECT day, hv % 32 AS bucket, hv // 32 AS v FROM h),
         |r AS (SELECT day, bucket, MAX(CASE WHEN v = 0 THEN 56
         |    ELSE 56 - length(bin(v)) END) AS rho FROM b GROUP BY 1, 2),
         |l AS (SELECT day, list(rho ORDER BY bucket) AS rhos,
         |    count(*) AS nb FROM r GROUP BY day),
         |s AS (SELECT day, list_reduce(
         |    list_prepend(0.0, [power(2.0, -CAST(x AS DOUBLE))
         |      for x in rhos]),
         |    (a, x) -> a + x) + CAST(32 - nb AS DOUBLE) AS harmonic_sum
         |  FROM l),
         |x AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
         |    count(DISTINCT user_id) AS exact_nu FROM events GROUP BY 1)
         |SELECT x.day, CAST(x.exact_nu AS BIGINT) AS exact_nu,
         |  (0.7213 / (1 + 1.079 / 32)) * CAST(32 AS DOUBLE)
         |    * CAST(32 AS DOUBLE) / s.harmonic_sum AS estimate
         |FROM x JOIN s ON s.day = x.day ORDER BY x.day""".stripMargin) {
      (s, d) =>
      val ev = events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val exact = ev.groupBy(col("day").as("grp"))
        .agg(count_distinct(col("user_id")).as("exact_nu"))
      Sketches.hllEstimateByGroupNative(ev, "day", "user_id", 32)
        .join(exact, Seq("grp"))
        .select(col("grp").as("day"), col("exact_nu"), col("estimate"))
        .orderBy("day")
    },

    // SKETCH: k-minimum-values distinct estimate (k=64) — exact
    // integer arithmetic until one final double division.
    Q("q_k_kmv",
      s"""WITH h AS (SELECT DISTINCT ${h60("kmv", "o_orderkey")} AS hv
         |    FROM orders),
         |k AS (SELECT hv FROM h ORDER BY hv LIMIT 64)
         |SELECT CAST(count(*) AS BIGINT) AS k, max(hv) AS kth_min,
         |  CAST(count(*) - 1 AS DOUBLE) * 1152921504606846976.0
         |    / CAST(max(hv) AS DOUBLE) AS estimate
         |FROM k""".stripMargin) { (s, d) =>
      Sketches.kmvEstimate(t(s, d, "orders"), "o_orderkey", 64)
    },

    // SKETCH: KMV set algebra (Beyer 2007) — union/Jaccard/
    // intersection of the F-status vs O-status customer populations
    // from two 64-value sketches; after the sketches everything is
    // k-row arithmetic (price any corpus pair's overlap without
    // joining the corpora). Exact integer Jaccard fraction, one
    // trailing IEEE multiply/divide for the estimates.
    Q("q_k_kmv_overlap",
      s"""WITH ha AS (SELECT DISTINCT ${h60("kmv", "o_custkey")} AS hv
         |    FROM orders WHERE o_orderstatus = 'F'),
         |a AS (SELECT hv FROM ha ORDER BY hv LIMIT 64),
         |hb AS (SELECT DISTINCT ${h60("kmv", "o_custkey")} AS hv
         |    FROM orders WHERE o_orderstatus = 'O'),
         |b AS (SELECT hv FROM hb ORDER BY hv LIMIT 64),
         |m AS (SELECT DISTINCT hv FROM (SELECT hv FROM a
         |    UNION ALL SELECT hv FROM b) ORDER BY hv LIMIT 64),
         |ag AS (SELECT count(*) AS k_used, max(hv) AS kth FROM m),
         |ib AS (SELECT count(*) AS in_both FROM m
         |  WHERE hv IN (SELECT hv FROM a)
         |    AND hv IN (SELECT hv FROM b))
         |SELECT CAST(k_used AS BIGINT) AS k_used,
         |  CAST(in_both AS BIGINT) AS in_both,
         |  CAST(k_used - 1 AS DOUBLE) * 1152921504606846976.0
         |    / CAST(kth AS DOUBLE) AS union_est,
         |  CAST(in_both * 1000 // k_used AS BIGINT) AS jaccard_milli,
         |  (CAST(in_both AS DOUBLE) / CAST(k_used AS DOUBLE))
         |    * (CAST(k_used - 1 AS DOUBLE) * 1152921504606846976.0
         |      / CAST(kth AS DOUBLE)) AS inter_est
         |FROM ag, ib""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      Sketches.kmvOverlap(
        o.filter(col("o_orderstatus") === "F").select("o_custkey"),
        o.filter(col("o_orderstatus") === "O").select("o_custkey"),
        "o_custkey", 64)
    },

    // SKETCH: bloom-filter membership — build on high-balance
    // customers, probe every ordering customer. False positives are
    // the same keys in every engine (md5 double-hashing), so the
    // per-key maybe_member map is exact-comparable.
    Q("q_k_bloom",
      s"""WITH mem AS (SELECT DISTINCT c_custkey AS key FROM customer
         |    WHERE c_acctbal > 5000),
         |hh AS (SELECT ${h60("bloom", "key")} % 8192 AS h1,
         |    ${h60b("bloom", "key")} % 8192 AS h2 FROM mem),
         |pos AS (SELECT DISTINCT (h1 + i * h2) % 8192 AS p
         |  FROM hh, (SELECT unnest([0, 1, 2, 3]) AS i)),
         |words AS (SELECT p // 32 AS w, bit_or(1::BIGINT
         |    << CAST(p % 32 AS INTEGER)) AS bits FROM pos GROUP BY 1),
         |probe AS (SELECT DISTINCT o_custkey AS key FROM orders),
         |ph AS (SELECT key, ${h60("bloom", "key")} % 8192 AS h1,
         |    ${h60b("bloom", "key")} % 8192 AS h2 FROM probe),
         |pp AS (SELECT key, (h1 + i * h2) % 8192 AS p
         |  FROM ph, (SELECT unnest([0, 1, 2, 3]) AS i)),
         |hits AS (SELECT pp.key, CASE WHEN (w.bits & (1::BIGINT
         |    << CAST(pp.p % 32 AS INTEGER))) != 0 THEN 1 ELSE 0 END AS hit
         |  FROM pp LEFT JOIN words w ON w.w = pp.p // 32)
         |SELECT key, CAST(min(hit) AS BIGINT) AS maybe_member
         |FROM hits GROUP BY key ORDER BY key""".stripMargin) { (s, d) =>
      val members = t(s, d, "customer")
        .filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      val probe = t(s, d, "orders").select(col("o_custkey")).distinct()
      Sketches.bloomProbe(probe,
          Sketches.bloomBuild(members, "c_custkey"), "o_custkey")
        .orderBy("key")
    },

    // SKETCH: count-min heavy-hitter counts — per-key frequency
    // estimates from a 4 x 2048 counter grid (8 KB, mergeable by
    // counter sum) instead of a full groupBy over history. Estimates
    // never undercount; the md5-derived positions make the exact
    // overcounts engine-reproducible. Emitted next to the true counts
    // for keys < 100 so the oracle also DEMONSTRATES the error bound.
    Q("q_k_cms",
      s"""WITH cms AS (SELECT CAST(r.range AS BIGINT) AS r,
         |    (${sqlHash60("'cms:' || CAST(o_custkey AS VARCHAR)")}
         |     + r.range * ${sqlHash60b("'cms:' || CAST(o_custkey AS VARCHAR)")}) % 2048 AS p,
         |    count(*) AS cnt
         |  FROM orders, range(0, 4) r GROUP BY 1, 2),
         |keys AS (SELECT o_custkey AS key, count(*) AS true_n
         |  FROM orders GROUP BY 1),
         |pos AS (SELECT k.key, CAST(r.range AS BIGINT) AS r,
         |    (${sqlHash60("'cms:' || CAST(k.key AS VARCHAR)")}
         |     + r.range * ${sqlHash60b("'cms:' || CAST(k.key AS VARCHAR)")}) % 2048 AS p
         |  FROM (SELECT DISTINCT o_custkey AS key FROM orders) k,
         |    range(0, 4) r),
         |est AS (SELECT key, min(coalesce(cnt, 0)) AS est_n
         |  FROM pos LEFT JOIN cms ON cms.r = pos.r AND cms.p = pos.p
         |  GROUP BY key)
         |SELECT k.key, CAST(k.true_n AS BIGINT) AS true_n,
         |  CAST(e.est_n AS BIGINT) AS est_n
         |FROM keys k JOIN est e ON e.key = k.key
         |WHERE k.key < 100 ORDER BY k.key""".stripMargin) { (s, d) =>
      val orders = t(s, d, "orders")
      val cms = Sketches.cmsBuildNative(orders, "o_custkey", 2048, 4)
      val truth = orders.groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("true_n"))
      Sketches.cmsEstimate(orders.select("o_custkey"), cms,
          "o_custkey", 2048, 4)
        .join(truth, Seq("key"))
        .filter(col("key") < 100)
        .select(col("key"), col("true_n"), col("est_n"))
        .orderBy("key")
    },

    // SKETCH: join-size estimation from two CMS sketches (the
    // inner-product estimator) — planner support: the orders⋈customer
    // row count predicted from two KB sketches, next to the true
    // count so the oracle also demonstrates est >= true. No table is
    // touched by the estimate after the sketch builds.
    Q("q_k_join_size",
      s"""WITH ca AS (SELECT CAST(r.range AS BIGINT) AS r,
         |    (${sqlHash60("'cms:' || CAST(o_custkey AS VARCHAR)")}
         |     + r.range * ${sqlHash60b("'cms:' || CAST(o_custkey AS VARCHAR)")}) % 2048 AS p,
         |    count(*) AS cnt_a
         |  FROM orders, range(0, 4) r GROUP BY 1, 2),
         |cb AS (SELECT CAST(r.range AS BIGINT) AS r,
         |    (${sqlHash60("'cms:' || CAST(c_custkey AS VARCHAR)")}
         |     + r.range * ${sqlHash60b("'cms:' || CAST(c_custkey AS VARCHAR)")}) % 2048 AS p,
         |    count(*) AS cnt_b
         |  FROM customer, range(0, 4) r GROUP BY 1, 2),
         |e AS (SELECT r, sum(cnt_a * cnt_b) AS est
         |  FROM ca JOIN cb USING (r, p) GROUP BY r),
         |tr AS (SELECT count(*) AS true_n FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey)
         |SELECT CAST(tr.true_n AS BIGINT) AS true_n,
         |  CAST((SELECT min(est) FROM e) AS BIGINT) AS est_n
         |FROM tr""".stripMargin) { (s, d) =>
      val est = Sketches.cmsJoinSizeEstimate(
        Sketches.cmsBuildNative(t(s, d, "orders"), "o_custkey", 2048, 4),
        Sketches.cmsBuildNative(t(s, d, "customer"), "c_custkey", 2048, 4))
      val truth = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("true_n"))
      truth.crossJoin(est)
    },

    // SKETCH→EXACT: φ-heavy hitters by Misra–Gries candidates + one
    // exact recount — output provably EQUALS the plain
    // groupBy-HAVING (which is the oracle), but the shuffle only
    // ever carries candidate-matching rows, never one row per
    // distinct value. k=6 over document languages: en (43.6%)
    // passes the 1/6 bar, the four 12–15% languages are excluded —
    // both sides of the threshold are graded.
    Q("q_k_heavy",
      """WITH c AS (SELECT lang AS v, count(*) AS cnt
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL)
        |SELECT v, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000 // n AS BIGINT) AS share_milli
        |FROM c, t WHERE cnt * 6 > n ORDER BY v""".stripMargin) {
      (s, d) =>
      Sketches.heavyHittersExact(t(s, d, "documents"), "lang", 6)
        .orderBy("v")
    },

    // EXACT SELECTION: p10/median/p90 as exact order statistics by
    // radix bisection — 4 narrow scans serving all three ranks at
    // once, NO global sort anywhere (the exact complement of
    // q_k_quantile_hist's mergeable estimates; the distributed-
    // median pattern for series that outgrow a partition's sort).
    Q("q_k_exact_select",
      """WITH v AS (SELECT CAST(floor(value * 1000000) AS BIGINT)
        |    AS vm FROM events WHERE value IS NOT NULL),
        |t AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT vm, row_number() OVER (ORDER BY vm) AS rk
        |  FROM v),
        |ks AS (SELECT unnest([(n + 9) // 10, (n + 1) // 2,
        |    (9 * n + 9) // 10]) AS k FROM t)
        |SELECT ks.k AS k, r.vm AS value FROM ks
        |JOIN r ON r.rk = ks.k ORDER BY k""".stripMargin) { (s, d) =>
      val ev = events(s, d).filter(col("value").isNotNull)
        .select(floor(col("value") * 1000000L).cast("long").as("vm"))
      // one shared descent for all three ranks: 4 column scans total
      // (and n comes free from round 0) instead of three separate
      // 4-scan descents plus a count job
      Sketches.exactKths(ev, "vm", n => {
        def kq(num: Long, den: Long): Long = (num * n + den - 1) / den
        Seq(kq(1, 10), kq(1, 2), kq(9, 10))
      }).orderBy("k")
    },

    // SKETCH: mergeable fixed-bin histogram → quantile estimates.
    // The t-digest/KLL role (mergeable distributed quantiles) in an
    // oracle-checkable form: values quantized to exact integer cents,
    // 20 bins of 25.00, rank test by cross-multiplied integers
    // (cum*1000 >= q*tot — no division anywhere). Only the ≤20-row
    // sketch ever crosses an exchange; merging per-day sketches is a
    // counter sum (law spec'd in SketchesSpec).
    Q("q_k_quantile_hist",
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT LEAST(GREATEST((cents - 0) // 2500, 0), 19) AS bin,
        |  count(*) AS n FROM c GROUP BY 1),
        |cum AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM b),
        |t AS (SELECT sum(n) AS tot FROM b),
        |q AS (SELECT unnest([500, 900, 990]) AS q_milli)
        |SELECT q_milli, CAST(min(bin) AS BIGINT) AS bin,
        |  CAST((min(bin) + 1) * 2500 AS BIGINT) AS est_hi
        |FROM cum, t, q WHERE cum * 1000 >= q_milli * tot
        |GROUP BY q_milli ORDER BY q_milli""".stripMargin) { (s, d) =>
      val cents = events(s, d).filter(col("value").isNotNull)
        .select(round(col("value") * 100).cast("long").as("cents"))
      Sketches.histQuantiles(
        Sketches.histBins(cents, "cents", 0L, 2500L, 20),
        0L, 2500L, Seq(500, 900, 990))
    },

    // SKETCH (K12): equi-depth quantile discretizer — value cents
    // into 4 buckets by the p250/p500/p750 histogram cut bins (one
    // sketch pass for the cuts, broadcast array, narrow assignment).
    // Rows sharing a histogram bin always share a bucket, so the
    // layout is deterministic; per-bucket count + min/max pin it.
    Q("q_k_discretize",
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT LEAST(GREATEST((cents - 0) // 2500, 0), 19) AS bin,
        |  count(*) AS n FROM c GROUP BY 1),
        |cum AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM b),
        |t AS (SELECT sum(n) AS tot FROM b),
        |q AS (SELECT unnest([250, 500, 750]) AS q_milli),
        |cuts AS (SELECT q_milli, min(bin) AS qbin
        |  FROM cum, t, q WHERE cum * 1000 >= q_milli * tot
        |  GROUP BY q_milli),
        |a AS (SELECT cents,
        |    LEAST(GREATEST((cents - 0) // 2500, 0), 19) AS bin FROM c),
        |asg AS (SELECT cents, (SELECT count(*) FROM cuts
        |    WHERE a.bin > cuts.qbin) AS bucket FROM a)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(cents) AS BIGINT) AS lo_cents,
        |  CAST(max(cents) AS BIGINT) AS hi_cents
        |FROM asg GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val cents = events(s, d).filter(col("value").isNotNull)
        .select(round(col("value") * 100).cast("long").as("cents"))
      Sketches.discretizeByQuantiles(cents, "cents", 0L, 2500L, 20, 4)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("cents").as("lo_cents"),
          max("cents").as("hi_cents"))
        .orderBy("bucket")
    },

    // SKETCH: per-GROUP histogram quantiles — p50/p99 cents per event
    // type from grouped fixed-bin sketches; the cumulative window is
    // partitioned per group (≤20 rows each), so no single-partition
    // sort exists anywhere in the plan.
    Q("q_k_quantile_by_type",
      """WITH c AS (SELECT event_type AS grp,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT grp,
        |    LEAST(GREATEST((cents - 0) // 2500, 0), 19) AS bin,
        |  count(*) AS n FROM c GROUP BY 1, 2),
        |cum AS (SELECT grp, bin, n, sum(n) OVER (PARTITION BY grp
        |    ORDER BY bin) AS cum FROM b),
        |t AS (SELECT grp, sum(n) AS tot FROM b GROUP BY grp),
        |q AS (SELECT unnest([500, 990]) AS q_milli)
        |SELECT cum.grp, q_milli, CAST(min(bin) AS BIGINT) AS bin,
        |  CAST((min(bin) + 1) * 2500 AS BIGINT) AS est_hi
        |FROM cum JOIN t ON cum.grp = t.grp, q
        |WHERE cum * 1000 >= q_milli * tot
        |GROUP BY cum.grp, q_milli ORDER BY cum.grp, q_milli""".stripMargin) {
      (s, d) =>
      val cents = events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      Sketches.histQuantilesByGroup(
        Sketches.histBinsByGroup(cents, "event_type", "cents",
          0L, 2500L, 20),
        0L, 2500L, Seq(500, 990))
    },

    // SKETCH → TRANSFORM: winsorize events.value into the [p5, p95]
    // histogram-edge band — outlier clipping with no global sort; the
    // edge frame is one broadcast row and the clip is a narrow map.
    // Reported per event type with below/above clip counts so the
    // oracle also verifies WHERE the mass was clamped.
    Q("q_k_winsorize",
      """WITH c AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT LEAST(GREATEST((cents - 0) // 2500, 0), 19) AS bin,
        |  count(*) AS n FROM c GROUP BY 1),
        |cum AS (SELECT bin, sum(n) OVER (ORDER BY bin) AS cum FROM b),
        |t AS (SELECT sum(n) AS tot FROM b),
        |q AS (SELECT unnest([50, 950]) AS q_milli),
        |e AS (SELECT q_milli, (min(bin) + 1) * 2500 AS est
        |  FROM cum, t, q WHERE cum * 1000 >= q_milli * tot
        |  GROUP BY q_milli),
        |ed AS (SELECT
        |    min(CASE WHEN q_milli = 50 THEN est END) AS lo_edge,
        |    min(CASE WHEN q_milli = 950 THEN est END) AS hi_edge
        |  FROM e)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(LEAST(GREATEST(cents, lo_edge), hi_edge)) AS BIGINT)
        |    AS sum_clipped,
        |  CAST(sum(CASE WHEN cents < lo_edge THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN cents > hi_edge THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above
        |FROM c, ed GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val cents = events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      Sketches.clipToQuantiles(cents, "cents", 0L, 2500L, 20, 50, 950)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("cents_clipped")).as("sum_clipped"),
          sum(when(col("cents") < col("lo_edge"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("cents") > col("hi_edge"), 1L).otherwise(0L))
            .as("n_above"))
        .orderBy("event_type")
    },

    // GRAPH: 3-iteration PageRank over the props.k transition graph
    // (edge = consecutive events of one user). Integer fixed-point
    // ranks: sums are exact and order-free, so the result is
    // bit-identical at any parallelism — the property that makes an
    // iterative distributed PageRank oracle-checkable at all.
    Q("q_g_pagerank",
      """WITH ek AS (SELECT user_id, ts, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS (SELECT node AS src, lead(node) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ek),
        |e AS (SELECT DISTINCT src, dst FROM tr
        |  WHERE dst IS NOT NULL AND dst != src),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |od AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
        |p AS (SELECT count(*) AS n,
        |    (1000000000000 // 100 * 15) // count(*) AS tp FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM p) AS r
        |  FROM nodes),
        |c1 AS (SELECT e.dst AS node, SUM(r0.r // od.out_deg) AS m
        |  FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT nodes.node, (SELECT tp FROM p)
        |    + coalesce(c1.m, 0) * 85 // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON c1.node = nodes.node),
        |c2 AS (SELECT e.dst AS node, SUM(r1.r // od.out_deg) AS m
        |  FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT nodes.node, (SELECT tp FROM p)
        |    + coalesce(c2.m, 0) * 85 // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON c2.node = nodes.node),
        |c3 AS (SELECT e.dst AS node, SUM(r2.r // od.out_deg) AS m
        |  FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.src = e.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT nodes.node, (SELECT tp FROM p)
        |    + coalesce(c3.m, 0) * 85 // 100 AS r
        |  FROM nodes LEFT JOIN c3 ON c3.node = nodes.node)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
        |ORDER BY node""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = events(s, d)
        .withColumn("node",
          get_json_object(col("props"), "$.k").cast("long"))
        .select(col("node").as("src"),
          lead(col("node"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("node")
    },

    // GRAPH (G5): PERSONALIZED PageRank — teleport mass restricted to
    // the seed set (node % 7 = 0): the TrustRank-style
    // proximity-to-seeds score a crawl/data-selection loop ranks
    // domains with. Non-seeds start at 0; same integer fixed-point
    // discipline as q_g_pagerank, 3 unrolled iterations in the
    // oracle.
    Q("q_g_ppr", {
      def iter(prev: String, cN: String, rN: String): String =
        s"""$cN AS (SELECT e.dst AS node, SUM($prev.r // od.out_deg)
           |    AS m
           |  FROM e JOIN $prev ON $prev.node = e.src
           |         JOIN od ON od.src = e.src
           |  GROUP BY e.dst),
           |$rN AS (SELECT nodes.node,
           |    (CASE WHEN nodes.node % 7 = 0
           |       THEN (SELECT tp FROM ps) ELSE 0 END)
           |    + coalesce($cN.m, 0) * 85 // 100 AS r
           |  FROM nodes LEFT JOIN $cN ON $cN.node = nodes.node)"""
          .stripMargin
      s"""WITH ek AS (SELECT user_id, ts, event_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS node
         |  FROM events),
         |tr AS (SELECT node AS src, lead(node) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ek),
         |e AS (SELECT DISTINCT src, dst FROM tr
         |  WHERE dst IS NOT NULL AND dst != src),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |od AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
         |ps AS (SELECT count(*) AS ns,
         |    (1000000000000 // 100 * 15) // count(*) AS tp
         |  FROM nodes WHERE node % 7 = 0),
         |r0 AS (SELECT node, CASE WHEN node % 7 = 0
         |    THEN 1000000000000 // (SELECT ns FROM ps) ELSE 0 END AS r
         |  FROM nodes),
         |${iter("r0", "c1", "r1")},
         |${iter("r1", "c2", "r2")},
         |${iter("r2", "c3", "r3")}
         |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
         |ORDER BY node""".stripMargin
    }) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = events(s, d)
        .withColumn("node",
          get_json_object(col("props"), "$.k").cast("long"))
        .select(col("node").as("src"),
          lead(col("node"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      val nodes = edges.select(col("src").as("n"))
        .unionByName(edges.select(col("dst").as("n"))).distinct()
      val seeds = nodes.filter(col("n") % 7 === 0)
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "n",
          iters = 3)
        .orderBy("node")
    },

    // GRAPH (G6, Kleinberg 1999): HITS hubs & authorities over the
    // same transition graph — the quality-source vs quality-
    // aggregator split PageRank conflates. Integer fixed-point, L1
    // normalization through a HUGEINT/decimal cross-multiply (the
    // documented no-sqrt deviation: normalization rescales, never
    // redirects); classic update order (auth from old hubs, hubs
    // from new auths), 2 unrolled iterations in the oracle.
    Q("q_g_hits", {
      def authStep(i: Int, hubPrev: String): String =
        s"""a${i}r AS (SELECT e.dst AS node, SUM($hubPrev.s) AS m
           |  FROM e JOIN $hubPrev ON $hubPrev.node = e.src
           |  GROUP BY 1),
           |a$i AS (SELECT nodes.node,
           |    CAST(CAST(coalesce(a${i}r.m, 0) AS HUGEINT)
           |      * 1000000000000 // (SELECT SUM(m) FROM a${i}r)
           |      AS BIGINT) AS s
           |  FROM nodes LEFT JOIN a${i}r ON a${i}r.node = nodes.node)"""
          .stripMargin
      def hubStep(i: Int): String =
        s"""h${i}r AS (SELECT e.src AS node, SUM(a$i.s) AS m
           |  FROM e JOIN a$i ON a$i.node = e.dst
           |  GROUP BY 1),
           |h$i AS (SELECT nodes.node,
           |    CAST(CAST(coalesce(h${i}r.m, 0) AS HUGEINT)
           |      * 1000000000000 // (SELECT SUM(m) FROM h${i}r)
           |      AS BIGINT) AS s
           |  FROM nodes LEFT JOIN h${i}r ON h${i}r.node = nodes.node)"""
          .stripMargin
      s"""WITH ek AS (SELECT user_id, ts, event_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS node
         |  FROM events),
         |tr AS (SELECT node AS src, lead(node) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ek),
         |e AS (SELECT DISTINCT src, dst FROM tr
         |  WHERE dst IS NOT NULL AND dst != src),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT node, 1000000000000
         |    // (SELECT count(*) FROM nodes) AS s FROM nodes),
         |${authStep(1, "h0")},
         |${hubStep(1)},
         |${authStep(2, "h1")},
         |${hubStep(2)}
         |SELECT a2.node, a2.s AS auth_fp, h2.s AS hub_fp
         |FROM a2 JOIN h2 ON a2.node = h2.node
         |ORDER BY a2.node""".stripMargin
    }) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = events(s, d)
        .withColumn("node",
          get_json_object(col("props"), "$.k").cast("long"))
        .select(col("node").as("src"),
          lead(col("node"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      Graph.hits(edges, "src", "dst", iters = 2)
        .orderBy("node")
    },

    // TEXT: TF-IDF top-5 terms per document. Scores quantized to
    // integer millis BEFORE ranking so the order never hinges on the
    // last ulp of ln() (see TextAnalysis.tfIdfTopTerms).
    Q("q_t_tfidf",
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |    FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
         |  FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |    CAST(FLOOR(CAST(tf.tf AS DOUBLE)
         |      * ln((SELECT n FROM nn) / CAST(dfq.df AS DOUBLE))
         |      * 1000.0) AS BIGINT) AS score_milli
         |  FROM tf JOIN dfq USING (term)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_milli DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tf, df, score_milli FROM rk
         |WHERE rn <= 5 ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      TextAnalysis.tfIdfTopTerms(t(s, d, "documents"), "doc_id", "text", 5)
        .orderBy("doc_id", "term")
    },

    // TEXT: BM25 top-10 documents for a 3-term query — the lexical
    // retriever feeding Retrieval.rrfFuse. Per-term scores quantize
    // to integer millis before the per-doc sum and the ranking; the
    // arithmetic parenthesization below mirrors the Spark expression
    // token-for-token so the pre-floor doubles are bit-identical.
    Q("q_t_bm25",
      s"""WITH dld AS (SELECT doc_id, len(${sqlTokens("text")}) AS dl
         |  FROM documents),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM dld),
         |tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN ('vector', 'join', 'filter') GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |    CAST(FLOOR(ln((CAST((SELECT n FROM st) AS DOUBLE) - df + 0.5)
         |        / (df + 0.5) + 1.0)
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |        + 0.75 * dl / (SELECT avgdl FROM st)))
         |      * 1000.0) AS BIGINT) AS score_milli
         |  FROM tf JOIN dfq USING (term) JOIN dld USING (doc_id))
         |SELECT doc_id, CAST(sum(score_milli) AS BIGINT) AS bm25_milli,
         |  CAST(count(*) AS BIGINT) AS n_terms
         |FROM sc GROUP BY doc_id
         |ORDER BY bm25_milli DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      TextAnalysis.bm25TopDocs(t(s, d, "documents"), "doc_id", "text",
        Seq("vector", "join", "filter"), 10)
    },

    // DECONTAMINATION: 5-gram collision between the training corpus
    // and a benchmark-sized eval split (doc_id % 97 == 0) — the
    // standard pre-training hygiene pass. The eval side broadcasts;
    // the train side never shuffles.
    Q("q_t_decontam",
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t
         |    FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    (CASE WHEN len(t) >= 5 THEN list_transform(
         |      range(0, len(t) - 4),
         |      i -> array_to_string(t[i+1:i+5], ' ')) ELSE [] END)))
         |    AS s FROM tok),
         |h AS (SELECT DISTINCT doc_id, ${sqlHash31("s")} AS hv FROM sh),
         |tr AS (SELECT doc_id AS train_id, hv FROM h WHERE doc_id % 97 != 0),
         |ev AS (SELECT doc_id AS eval_id, hv FROM h WHERE doc_id % 97 = 0)
         |SELECT tr.train_id, ev.eval_id, count(*) AS n_shared
         |FROM tr JOIN ev USING (hv)
         |GROUP BY 1, 2 ORDER BY train_id, eval_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      TextAnalysis.ngramContamination(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", 5)
        .orderBy("train_id", "eval_id")
    },

    // QUALITY: unigram negative-log-likelihood (perplexity-style
    // filter) — per-token surprisal quantized to integer millis
    // before summing, so the per-doc totals are exact integer sums.
    Q("q_t_unigram_nll",
      s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tk
         |    FROM documents),
         |v AS (SELECT tk, count(*) AS tf FROM tok GROUP BY tk),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM v),
         |sc AS (SELECT tok.doc_id, CAST(FLOOR(
         |    ln(CAST((SELECT total FROM tot) AS DOUBLE)
         |      / CAST(v.tf AS DOUBLE)) * 1000.0) AS BIGINT) AS milli
         |  FROM tok JOIN v USING (tk))
         |SELECT doc_id, count(*) AS n_toks,
         |  CAST(sum(milli) AS BIGINT) AS nll_milli_sum,
         |  CAST(sum(milli) AS BIGINT) // count(*) AS avg_nll_milli
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.unigramNll(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // CHUNKING: sliding 64-token windows (stride 32) per document —
    // the embedding-generation fan-out. Chunk content travels as its
    // md5, not the token payload.
    Q("q_t_chunks",
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS t
         |    FROM documents),
         |nz AS (SELECT * FROM tok WHERE len(t) > 0),
         |st AS (SELECT doc_id, t, unnest(range(0, len(t), 32)) AS s
         |  FROM nz)
         |SELECT doc_id, s // 32 AS chunk_id,
         |  CAST(len(t[s+1:s+64]) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(t[s+1:s+64], ' ')) AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      graft.operators.Sharding
        .chunkByTokens(t(s, d, "documents"), "doc_id", "text", 64, 32)
        .orderBy("doc_id", "chunk_id")
    },

    // Z-ORDER LAYOUT: Morton interleave of (custkey, order-day) and
    // the per-zone stats a writer would persist — range predicates on
    // EITHER dimension then prune file zones. Pure integer bit
    // arithmetic, identical in both engines.
    Q("q_z_order", {
      val zDuck = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH d AS (SELECT o_orderkey, o_custkey % 65536 AS x,
         |    (epoch_us(o_orderdate) // 86400000000) % 65536 AS y
         |  FROM orders),
         |z AS (SELECT o_orderkey, ($zDuck) AS z FROM d)
         |SELECT z // 1048576 AS bucket, count(*) AS n,
         |  min(z) AS z_min, max(z) AS z_max
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    }) { (s, d) =>
      t(s, d, "orders")
        .select(
          (col("o_custkey") % 65536).as("x"),
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
            "div 86400000000") % 65536).as("y"))
        .withColumn("z",
          graft.operators.Layout.zOrderValue(col("x"), col("y"), 16))
        .groupBy(expr("z div 1048576").as("bucket"))
        .agg(count(lit(1)).as("n"), min("z").as("z_min"),
          max("z").as("z_max"))
        .orderBy("bucket")
    },

    // LAYOUT: Hilbert-curve clustering value (the Iceberg/liquid-
    // clustering upgrade over Morton) — native graft_hilbert level
    // walk per row; the oracle replays the same xy→d recurrence as
    // a 17-level recursive CTE, so every rotation/reflection level
    // is graded, not just the bucket totals.
    Q("q_z_hilbert",
      """WITH RECURSIVE d0 AS (SELECT o_orderkey,
        |    CAST(o_custkey % 65536 AS BIGINT) AS x,
        |    CAST((epoch_us(o_orderdate) // 86400000000) % 65536
        |      AS BIGINT) AS y
        |  FROM orders),
        |hw(o_orderkey, x, y, d, s) AS (
        |  SELECT o_orderkey, x, y, CAST(0 AS BIGINT),
        |    CAST(32768 AS BIGINT) FROM d0
        |  UNION ALL
        |  SELECT o_orderkey,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END
        |    ELSE x END,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END
        |    ELSE y END,
        |    d + s * s * xor(
        |      3 * (CASE WHEN (x & s) > 0 THEN CAST(1 AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END),
        |      CASE WHEN (y & s) > 0 THEN CAST(1 AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END),
        |    s // 2
        |  FROM hw WHERE s > 0),
        |h AS (SELECT o_orderkey, d AS h FROM hw WHERE s = 0)
        |SELECT CAST(h // 4194304 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(h) AS BIGINT) AS h_min,
        |  CAST(max(h) AS BIGINT) AS h_max
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .select(
          (col("o_custkey") % 65536).cast("long").as("x"),
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
            "div 86400000000") % 65536).cast("long").as("y"))
        .withColumn("h",
          graft.operators.Layout.hilbertValue(col("x"), col("y"), 16))
        .groupBy(expr("h div 4194304").as("bucket"))
        .agg(count(lit(1)).as("n"), min("h").as("h_min"),
          max("h").as("h_max"))
        .orderBy("bucket")
    },

    // LAYOUT: n-DIMENSIONAL Hilbert clustering key (L19b — Skilling
    // 2004's transpose walk; real tables cluster 3-4 columns, and
    // the 2-D recurrence doesn't compose). Graded by the pair of
    // invariants that CHARACTERIZE a space-filling unit walk, over
    // the ENTIRE 16³ grid: (a) the index is a bijection onto
    // [0, 4096) and (b) every consecutive step is Manhattan distance
    // exactly 1 (Morton fails (b) at every quadrant seam). The
    // oracle pins the uniquely-determined totals; the Spark side
    // computes them from the native graft_hilbert_nd expression, so
    // any wrong rotation/reflection level breaks bijectivity or
    // unit-stepping and the hash.
    Q("q_z_hilbert_nd",
      """SELECT CAST(4096 AS BIGINT) AS cells,
        |  CAST(4096 AS BIGINT) AS distinct_h,
        |  CAST(0 AS BIGINT) AS h_min,
        |  CAST(4095 AS BIGINT) AS h_max,
        |  CAST(4095 AS BIGINT) AS unit_steps,
        |  CAST(4095 AS BIGINT) AS steps_total
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("h")
      s.range(4096)
        .select(expr("id % 16").as("x"),
          expr("(id div 16) % 16").as("y"),
          expr("id div 256").as("z"))
        .withColumn("h", graft.operators.Layout.hilbertValueNd(
          Seq(col("x"), col("y"), col("z")), 4))
        .withColumn("__step",
          abs(col("x") - lag("x", 1).over(w)) +
            abs(col("y") - lag("y", 1).over(w)) +
            abs(col("z") - lag("z", 1).over(w)))
        .agg(count(lit(1)).as("cells"),
          countDistinct(col("h")).as("distinct_h"),
          min("h").as("h_min"), max("h").as("h_max"),
          sum(when(col("__step") === 1L, 1L).otherwise(0L))
            .as("unit_steps"),
          count(col("__step")).as("steps_total"))
    },

    // LAYOUT: 3-COLUMN zone pruning on an n-D-Hilbert-clustered
    // table (L19b × L11): orders bucketed on (orderkey, custkey,
    // order-day) mod 256, Hilbert-range-partitioned into 8 files,
    // committed with per-file zones on all three bucket columns.
    // EACH dimension's half-range predicate alone must skip files
    // (the clustering keeps every file a contiguous Hilbert range ≈
    // an octant, so the excluded half of ANY axis is provably absent
    // from some files) — the multi-column locality Morton/linear
    // layouts can't give all three axes at once. Values of the
    // 3-predicate read equal the oracle's row-level recompute.
    Q("q_z_prune_3d",
      """WITH b AS (SELECT o_orderkey,
        |    o_orderkey % 128 AS x, o_custkey % 128 AS y,
        |    (epoch_us(o_orderdate) // 86400000000) % 128 AS z
        |  FROM orders)
        |SELECT CAST(8 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS skip_x,
        |  CAST(1 AS BIGINT) AS skip_y,
        |  CAST(1 AS BIGINT) AS skip_z,
        |  CAST(1 AS BIGINT) AS skip_all,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM b
        |WHERE x <= 63 AND y <= 63 AND z <= 63""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-prune3d-q")
      val bucketed = t(s, d, "orders")
        .select(col("o_orderkey"),
          (col("o_orderkey") % 128).as("x"),
          (col("o_custkey") % 128).as("y"),
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
            "div 86400000000") % 128).as("z"))
      graft.sources.ManifestTable.commitWithStats(
        graft.operators.Layout.hilbertOrderByNd(bucketed,
          Seq(col("x"), col("y"), col("z")), 7, 8).drop("__h"),
        table, append = false, Seq("x", "y", "z"), None)
      def scanned(preds: (String, Long, Long)*): Int =
        graft.sources.ManifestTable
          .readPruned(s, table, preds.toSeq, None)._3
      val total = graft.sources.ManifestTable
        .readPruned(s, table, "x", 0L, 127L)._2
      val (sx, sy, sz) = (scanned(("x", 0L, 63L)),
        scanned(("y", 0L, 63L)), scanned(("z", 0L, 63L)))
      val (frame, _, sAll) = graft.sources.ManifestTable.readPruned(
        s, table, Seq(("x", 0L, 63L), ("y", 0L, 63L),
          ("z", 0L, 63L)), None)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(total.toLong).as("files_total"),
          lit(if (sx < total) 1L else 0L).as("skip_x"),
          lit(if (sy < total) 1L else 0L).as("skip_y"),
          lit(if (sz < total) 1L else 0L).as("skip_z"),
          // the conjunction prunes at least as hard as its best
          // single predicate (per-file skips intersect)
          lit(if (sAll <= math.min(sx, math.min(sy, sz))) 1L else 0L)
            .as("skip_all"),
          col("n_rows"), col("key_sum"))
    },

    // LAYOUT: zone-map statistics + the file-skipping decision. The
    // zone map is the per-bucket (n, min, max) table a writer
    // persists; zonesToRead evaluates a range predicate on x against
    // it and returns only the zones that MIGHT hold matches — the
    // planner-side pruning that makes z-ordered layouts pay off. The
    // decision runs entirely on the bucket-count-sized zone table.
    Q("q_z_zonemap", {
      val zDuck = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH d AS (SELECT o_custkey % 65536 AS x,
         |    (epoch_us(o_orderdate) // 86400000000) % 65536 AS y
         |  FROM orders),
         |z AS (SELECT x, y, ($zDuck) AS z FROM d),
         |zm AS (SELECT z // 1048576 AS bucket, count(*) AS n,
         |    min(x) AS min_x, max(x) AS max_x
         |  FROM z GROUP BY 1)
         |SELECT bucket, n, min_x, max_x FROM zm
         |WHERE NOT (max_x < 100 OR min_x > 700)
         |ORDER BY bucket""".stripMargin
    }) { (s, d) =>
      val base = t(s, d, "orders")
        .select(
          (col("o_custkey") % 65536).as("x"),
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
            "div 86400000000") % 65536).as("y"))
        .withColumn("z",
          graft.operators.Layout.zOrderValue(col("x"), col("y"), 16))
      graft.operators.Layout.zonesToRead(
          graft.operators.Layout.zoneMap(base, expr("z div 1048576"),
            Seq("x")),
          "x", lit(100), lit(700))
        .orderBy("bucket")
    },

    // LAYOUT (L9): data-skipping effectiveness for a WORKLOAD — per
    // range predicate, zones/rows scanned vs skipped on the z-ordered
    // layout as exact milli ratios: the number that justifies (or
    // vetoes) a 100 TB rewrite. Pred 2 scans everything (full range),
    // pred 4 scans nothing (above the domain); both ends graded.
    Q("q_z_skipping", {
      val zDuck = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH d AS (SELECT o_custkey % 65536 AS x,
         |    (epoch_us(o_orderdate) // 86400000000) % 65536 AS y
         |  FROM orders),
         |z AS (SELECT x, y, ($zDuck) AS z FROM d),
         |zm AS (SELECT z // 1048576 AS bucket,
         |    CAST(count(*) AS BIGINT) AS n,
         |    min(x) AS min_x, max(x) AS max_x
         |  FROM z GROUP BY 1),
         |p AS (SELECT * FROM (VALUES
         |    (CAST(1 AS BIGINT), CAST(100 AS BIGINT),
         |     CAST(700 AS BIGINT)),
         |    (2, 0, 65535), (3, 60000, 61000), (4, 70000, 80000))
         |  AS t(pred_id, lo, hi)),
         |j AS (SELECT p.pred_id, p.lo, p.hi,
         |    CAST(sum(CASE WHEN NOT (zm.max_x < p.lo OR
         |      zm.min_x > p.hi) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS zones_scanned,
         |    CAST(sum(CASE WHEN NOT (zm.max_x < p.lo OR
         |      zm.min_x > p.hi) THEN zm.n ELSE 0 END) AS BIGINT)
         |      AS rows_scanned
         |  FROM zm, p GROUP BY 1, 2, 3),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS zones_total,
         |    CAST(sum(n) AS BIGINT) AS rows_total FROM zm)
         |SELECT pred_id, lo, hi, zones_scanned, zones_total,
         |  rows_scanned, rows_total,
         |  ((zones_total - zones_scanned) * 1000) // zones_total
         |    AS zone_skip_milli,
         |  ((rows_total - rows_scanned) * 1000) // rows_total
         |    AS row_skip_milli
         |FROM j, tt ORDER BY pred_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val base = t(s, d, "orders")
        .select(
          (col("o_custkey") % 65536).as("x"),
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
            "div 86400000000") % 65536).as("y"))
        .withColumn("z",
          graft.operators.Layout.zOrderValue(col("x"), col("y"), 16))
      val preds = Seq((1L, 100L, 700L), (2L, 0L, 65535L),
        (3L, 60000L, 61000L), (4L, 70000L, 80000L))
        .toDF("pred_id", "lo", "hi")
      graft.operators.Layout.skippingReport(
          graft.operators.Layout.zoneMap(base, expr("z div 1048576"),
            Seq("x")),
          "x", preds)
        .orderBy("pred_id")
    },

    // LAYOUT: compaction planner (L3) — the small-files problem.
    // File stats derived deterministically from orders (partition =
    // o_orderpriority, file = o_orderkey, bytes = comment length);
    // prefix-sum packing into ~4 KB groups per partition, reported as
    // one row per planned coalesce task.
    Q("q_z_compaction",
      """WITH f AS (SELECT o_orderpriority AS part, o_orderkey AS file_id,
        |    CAST(floor(o_totalprice) AS BIGINT) AS bytes FROM orders),
        |p AS (SELECT part, file_id, bytes,
        |    sum(bytes) OVER (PARTITION BY part ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f)
        |SELECT part, CAST((cum - bytes) // 1000000 AS BIGINT) AS grp,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes
        |FROM p GROUP BY 1, 2
        |ORDER BY part, grp""".stripMargin) { (s, d) =>
      val files = t(s, d, "orders").select(
        col("o_orderpriority").as("part"),
        col("o_orderkey").as("file_id"),
        floor(col("o_totalprice")).cast("long").as("bytes"))
      graft.operators.Layout.compactionStats(
          graft.operators.Layout.compactionPlan(
            files, "part", "file_id", "bytes", 1000000L),
          "part", "bytes")
        .orderBy("part", "grp")
    },

    // LAYOUT: manifest-committed snapshot table (L5). Two commits
    // (overwrite evens, append odds); v1 is read by TIME TRAVEL after
    // v2 exists, v2 as the latest snapshot — each scan reads exactly
    // its manifest's file list, never a directory listing. Oracle
    // recomputes both snapshots from the source parquet: the commit
    // protocol must be invisible to values.
    Q("q_z_manifest_snapshot",
      """SELECT 'v1' AS snap, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'v2' AS snap, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |ORDER BY snap""".stripMargin) { (s, d) =>
      val table = workDir("graft-manifest-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      graft.sources.ManifestTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0), table, append = false)
      graft.sources.ManifestTable.commit(
        orders.filter(col("o_orderkey") % 2 === 1), table, append = true)
      val v1 = graft.sources.ManifestTable.read(s, table, Some(1L))
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
        .select(lit("v1").as("snap"), col("n"), col("key_sum"))
      val v2 = graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
        .select(lit("v2").as("snap"), col("n"), col("key_sum"))
      v1.unionAll(v2).orderBy("snap")
    },

    // LAYOUT: manifest retention sweep (L6, the VACUUM half next to
    // compaction's OPTIMIZE): three single-file overwrite commits,
    // vacuum to the newest version — the two superseded files
    // delete, old manifests retire, the surviving snapshot still
    // reads exactly. Oracle recomputes the survivors from source
    // parquet plus the deterministic file arithmetic.
    Q("q_z_manifest_vacuum",
      """SELECT CAST(1 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS files_kept,
        |  CAST(2 AS BIGINT) AS files_deleted,
        |  CAST(count(*) AS BIGINT) AS latest_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS latest_key_sum
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) { (s, d) =>
      val table = workDir("graft-vacuum-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 1 to 3) {
        graft.sources.ManifestTable.commit(
          orders.filter(col("o_orderkey") % m === 0).coalesce(1),
          table, append = false)
      }
      val (kept, deleted) =
        graft.sources.ManifestTable.vacuum(table, keepVersions = 1,
          graceMs = 0L) // single-process: no writer can be in flight
      val vs = graft.sources.ManifestTable.versions(table)
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("latest_rows"),
          sum("o_orderkey").as("latest_key_sum"))
        .select(lit(vs.size.toLong).as("n_versions"),
          lit(kept.toLong).as("files_kept"),
          lit(deleted.toLong).as("files_deleted"),
          col("latest_rows"), col("latest_key_sum"))
    },

    // LAYOUT: manifest file-skipping (L11 — Iceberg/Delta-style
    // zone stats IN the manifest): four range-disjoint commits carry
    // per-file min/max of o_orderkey as #stats= lines; a BETWEEN read
    // plans its scan from the manifest and opens exactly ONE of the
    // four files, with the row filter keeping the values exact. The
    // oracle recomputes the rows from source parquet and pins the
    // skip arithmetic.
    Q("q_e2e_manifest_prune",
      """SELECT CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS files_scanned,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey BETWEEN 5000 AND 7000""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-prune-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      val (frame, total, scanned) = graft.sources.ManifestTable
        .readPruned(s, table, "o_orderkey", 5000L, 7000L)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(total.toLong).as("files_total"),
          lit(scanned.toLong).as("files_scanned"),
          col("n_rows"), col("key_sum"))
    },

    // LAYOUT: manifest compaction (L10 — the OPTIMIZE half next to
    // L6's VACUUM): four single-file append commits (the shape a
    // streaming sink leaves behind) compact into ONE file in one
    // atomic version step; the data is bit-identical before and
    // after (the oracle recomputes it from source parquet), time
    // travel to the pre-compaction version still reads, and the
    // file arithmetic is exact.
    Q("q_e2e_compact",
      """SELECT CAST(4 AS BIGINT) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after,
        |  CAST(5 AS BIGINT) AS compacted_version,
        |  CAST(count(*) AS BIGINT) AS latest_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS latest_key_sum,
        |  CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v1_rows
        |FROM orders""".stripMargin) { (s, d) =>
      val table = workDir("graft-compact-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 0 to 3) {
        graft.sources.ManifestTable.commit(
          orders.filter(col("o_orderkey") % 4 === m).coalesce(1),
          table, append = true)
      }
      val (v, before, after) = graft.sources.ManifestTable
        .compact(s, table, targetBytes = Long.MaxValue / 2)
      val v1 = graft.sources.ManifestTable.read(s, table, Some(1L))
        .agg(count(lit(1)).as("v1_rows"))
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("latest_rows"),
          sum("o_orderkey").as("latest_key_sum"))
        .crossJoin(v1)
        .select(lit(before.toLong).as("files_before"),
          lit(after.toLong).as("files_after"),
          lit(v).as("compacted_version"),
          col("latest_rows"), col("latest_key_sum"), col("v1_rows"))
    },

    // LAYOUT: zone stats SURVIVE compaction (L10 × L11 — the
    // Iceberg/Delta OPTIMIZE contract that rewritten files keep
    // their skipping stats): four range-disjoint stat-bearing
    // commits compact into TWO files (targetBytes = half the data),
    // each output carrying its inputs' merged min/max — pure
    // manifest arithmetic, no extra scan — so the post-OPTIMIZE
    // pruned read still opens ONE of the two (biggest, hottest)
    // files. Without the carry-through, a nightly compaction would
    // silently degrade every subsequent pruned read to a full scan.
    Q("q_e2e_compact_prune",
      """SELECT CAST(2 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS files_scanned,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-compact-prune-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      // half the snapshot's bytes per output → prefix-sum packing
      // puts the two low-range files in group 0, the two high-range
      // files in group 1 (slices are within ~35% of equal size)
      val dataDir = java.nio.file.Paths.get(table, "data")
      val total = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.walk(dataDir)
        try st.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
        finally st.close()
      }
      graft.sources.ManifestTable.compact(s, table, total / 2 + 1)
      val (frame, totalF, scanned) = graft.sources.ManifestTable
        .readPruned(s, table, "o_orderkey", 1000L, 3000L)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(totalF.toLong).as("files_total"),
          lit(scanned.toLong).as("files_scanned"),
          col("n_rows"), col("key_sum"))
    },

    // LAYOUT: CLUSTERED OPTIMIZE (L23 — Delta OPTIMIZE ZORDER /
    // liquid clustering): two tables get the SAME eight arrival-
    // order commits, each file spanning BOTH bucket columns' full
    // ranges (the ingest layout zone maps cannot prune). Order-
    // preserving compaction merely merges — its four outputs still
    // all scan for a quarter-box predicate (pinned 4 of 4). The
    // CLUSTERED rewrite re-sorts the same rows by the 2-D Hilbert
    // value during the same one-job rewrite and re-derives per-file
    // stats, so the box opens strictly fewer files. Values of the
    // clustered read equal the oracle's row-level recompute.
    Q("q_e2e_compact_cluster",
      """WITH b AS (SELECT o_orderkey, o_orderkey % 128 AS x,
        |    o_custkey % 128 AS y
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS plain_full_scan,
        |  CAST(4 AS BIGINT) AS files_clustered,
        |  CAST(1 AS BIGINT) AS clustered_tighter,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM b WHERE x <= 63 AND y <= 63""".stripMargin) { (s, d) =>
      // the 16 commits all slice the SAME projected frame — checkpoint
      // it once so each commit's stage write reads cached blocks
      // instead of re-scanning the source parquet (freed at the end)
      val rows = t(s, d, "orders")
        .select(col("o_orderkey"),
          (col("o_orderkey") % 128).as("x"),
          (col("o_custkey") % 128).as("y"))
        .localCheckpoint(eager = true)
      def build(): String = {
        val table = workDir("graft-cc-q")
        for (m <- 0 until 8)
          graft.sources.ManifestTable.commitWithStats(
            rows.filter(col("o_orderkey") % 8 === m).coalesce(1),
            table, append = true, Seq("x", "y"), None)
        table
      }
      def bytesOf(table: String): Long = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.walk(
          java.nio.file.Paths.get(table, "data"))
        try st.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
        finally st.close()
      }
      // the plain and clustered legs touch disjoint tables: build and
      // compact them CONCURRENTLY (guide §2.6) — each leg's serial
      // 8-commit build leaves most cores idle, so the two legs
      // back-fill each other
      val (plain, (clustered, fc)) = concurrentLegs(s, "compact-cluster")({
        val plain = build()
        graft.sources.ManifestTable
          .compact(s, plain, bytesOf(plain) / 4 + 1)
        plain
      }, {
        val clustered = build()
        val (_, _, n) = graft.sources.ManifestTable.compactClustered(
          s, clustered, bytesOf(clustered) / 4 + 1, Seq("x", "y"),
          bits = 7)
        (clustered, n)
      })
      graft.operators.Lineage.freeLocalCheckpoint(rows)
      val (_, fp, sp) = graft.sources.ManifestTable.readPruned(
        s, plain, Seq(("x", 0L, 63L), ("y", 0L, 63L)), None)
      val (frame, _, sc) = graft.sources.ManifestTable.readPruned(
        s, clustered, Seq(("x", 0L, 63L), ("y", 0L, 63L)), None)
      // the plain merge count depends on byte-size packing (8
      // near-equal files at target total/4 sit on a grouping knife
      // edge), so the pins are grouping-independent: plain scans
      // EVERYTHING it has, clustered scans strictly fewer (a
      // quadrant is one contiguous curve quarter — one file plus at
      // most a sampled-boundary neighbor)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(
          lit(if (sp == fp) 1L else 0L).as("plain_full_scan"),
          lit(fc.toLong).as("files_clustered"),
          lit(if (sc < sp) 1L else 0L).as("clustered_tighter"),
          col("n_rows"), col("key_sum"))
    },

    // LAYOUT: MULTI-COLUMN manifest zone stats (L11b) — real
    // lakehouse tables prune on several columns at once (ingest
    // date + business key); one commit records a #stats= line per
    // (file, column) from a single distributed pass, and a
    // conjunctive pruned read intersects the per-column skips. A
    // 2×2 grid of commits (orderkey-half × custkey-half) shows the
    // arithmetic exactly: the two-predicate read opens 1 of 4
    // files, the custkey-only read opens the 2 files of that
    // custkey half.
    Q("q_e2e_manifest_prune_multi",
      """SELECT CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS scanned_both,
        |  CAST(2 AS BIGINT) AS scanned_ck,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 3000
        |  AND o_custkey BETWEEN 100 AND 300""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-prune-multi-q")
      val orders = t(s, d, "orders").select("o_orderkey", "o_custkey")
      for (okHigh <- Seq(false, true); ckHigh <- Seq(false, true)) {
        val slice = orders
          .filter(if (okHigh) col("o_orderkey") > 7000
            else col("o_orderkey") <= 7000)
          .filter(if (ckHigh) col("o_custkey") > 700
            else col("o_custkey") <= 700)
        graft.sources.ManifestTable.commitWithStats(
          slice.coalesce(1), table, append = true,
          Seq("o_orderkey", "o_custkey"), None)
      }
      val (frame, totalF, both) = graft.sources.ManifestTable
        .readPruned(s, table, Seq(("o_orderkey", 1000L, 3000L),
          ("o_custkey", 100L, 300L)), None)
      val (_, _, ckOnly) = graft.sources.ManifestTable
        .readPruned(s, table, "o_custkey", 100L, 300L)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(totalF.toLong).as("files_total"),
          lit(both.toLong).as("scanned_both"),
          lit(ckOnly.toLong).as("scanned_ck"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE DML: copy-on-write range DELETE (L14 — the
    // GDPR/retention purge): four range-disjoint stat-bearing
    // commits, then DELETE of a range that lives entirely in file 2
    // — the zone stats prove the other three files CANNOT hold
    // matches, so exactly ONE file is rewritten and three are
    // carried by reference; the new snapshot's values equal the
    // NOT-BETWEEN oracle, and the rewrite re-records stats + row
    // counts so the metadata count stays exact after the DML.
    Q("q_e2e_manifest_delete",
      """SELECT CAST(1 AS BIGINT) AS files_rewritten,
        |  CAST(4 AS BIGINT) AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(count(*) AS BIGINT) AS meta_rows
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 5000 AND 7000""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-delete-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      val (_, rewritten, after) = graft.sources.ManifestTable
        .deleteRange(s, table, "o_orderkey", 5000L, 7000L)
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(rewritten.toLong).as("files_rewritten"),
          lit(after.toLong).as("files_after"),
          col("n_rows"), col("key_sum"),
          lit(meta).as("meta_rows"))
    },

    // LAKEHOUSE DML: copy-on-write MERGE by key (L17 — Delta's
    // MERGE INTO, keyed): a batch that UPDATES keys living entirely
    // in file 2 and INSERTS far-away new keys rewrites exactly ONE
    // file plus one insert file — the per-file candidate test joins
    // the batch's keys against the manifest's zones, so the distant
    // insert keys do NOT drag files 3 and 4 into the rewrite the way
    // a batch-range intersection would. Values equal the
    // upsert oracle; matched base rows are replaced, new keys land.
    Q("q_e2e_manifest_merge",
      """WITH up1 AS (SELECT o_orderkey AS k, o_custkey + 500000 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 5000 AND 5499),
        |up2 AS (SELECT o_orderkey + 5000000 AS k, o_custkey AS p
        |  FROM orders WHERE o_orderkey < 10),
        |up AS (SELECT * FROM up1 UNION ALL SELECT * FROM up2),
        |base AS (SELECT o_orderkey AS k, o_custkey AS p FROM orders),
        |merged AS (SELECT k, p FROM base
        |    WHERE k NOT IN (SELECT k FROM up)
        |  UNION ALL SELECT k, p FROM up)
        |SELECT CAST(1 AS BIGINT) AS files_rewritten,
        |  CAST(5 AS BIGINT) AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(p) AS BIGINT) AS payload_sum,
        |  CAST(count(*) AS BIGINT) AS meta_rows
        |FROM merged""".stripMargin) { (s, d) =>
      val table = workDir("graft-merge-q")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("k") > lo && col("k") <= hi).coalesce(1),
          table, append = true, "k")
      }
      val updates = orders.filter(col("k").between(5000, 5499))
        .select(col("k"), (col("p") + 500000L).as("p"))
        .unionByName(orders.filter(col("k") < 10)
          .select((col("k") + 5000000L).as("k"), col("p")))
      val (_, rewritten, after) = graft.sources.ManifestTable
        .mergeByKey(s, table, updates, "k")
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"), sum("k").as("key_sum"),
          sum("p").as("payload_sum"))
        .select(lit(rewritten.toLong).as("files_rewritten"),
          lit(after.toLong).as("files_after"),
          col("n_rows"), col("key_sum"), col("payload_sum"),
          lit(meta).as("meta_rows"))
    },

    // LAKEHOUSE MERGE on a STRING business key (L26 × M-layer): the
    // most common CDC upsert shape — a batch keyed by a string id.
    // Candidate pruning now runs on the #sstats byte-wise zones
    // (lower(hex(key)) against the stored hex bounds), so a batch
    // whose keys fall inside ONE file's range rewrites exactly that
    // file: files_rewritten = 1 of 4, new keys ride the single
    // insert file, and values equal the oracle's upsert recompute.
    // Without string zones this merge touches every file.
    Q("q_e2e_merge_strkey",
      """WITH base AS (SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR),
        |    7, '0') AS k, o_custkey AS p, o_orderkey AS ok
        |  FROM orders),
        |up1 AS (SELECT k, p + 500000 AS p FROM base
        |  WHERE ok BETWEEN 5000 AND 5499),
        |up2 AS (SELECT 'n' || lpad(CAST(ok AS VARCHAR), 7, '0') AS k,
        |    p FROM base WHERE ok < 10),
        |up AS (SELECT * FROM up1 UNION ALL SELECT * FROM up2),
        |merged AS (SELECT k, p FROM base
        |    WHERE k NOT IN (SELECT k FROM up)
        |  UNION ALL SELECT k, p FROM up)
        |SELECT CAST(1 AS BIGINT) AS files_rewritten,
        |  CAST(5 AS BIGINT) AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(p) AS BIGINT) AS payload_sum,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM merged""".stripMargin) { (s, d) =>
      val table = workDir("graft-merge-str-q")
      val base = t(s, d, "orders")
        .select(concat(lit("k"),
            lpad(col("o_orderkey").cast("string"), 7, "0")).as("k"),
          col("o_custkey").as("p"), col("o_orderkey").as("ok"))
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          base.filter(col("ok") > lo && col("ok") <= hi)
            .select("k", "p").coalesce(1),
          table, append = true, "k")
      }
      val updates = base.filter(col("ok").between(5000, 5499))
        .select(col("k"), (col("p") + 500000L).as("p"))
        .unionByName(base.filter(col("ok") < 10)
          .select(concat(lit("n"),
              lpad(col("ok").cast("string"), 7, "0")).as("k"),
            col("p")))
      val (_, rewritten, after) = graft.sources.ManifestTable
        .mergeByKey(s, table, updates, "k")
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"), sum("p").as("payload_sum"),
          min("k").as("k_min"), max("k").as("k_max"))
        .select(lit(rewritten.toLong).as("files_rewritten"),
          lit(after.toLong).as("files_after"),
          col("n_rows"), col("payload_sum"), col("k_min"),
          col("k_max"))
    },

    // LAKEHOUSE MERGE-ON-READ: deletion-vector DELETE (L20 — Delta
    // DVs / Iceberg v2 position deletes): a 5-key purge against a
    // 4-file snapshot commits ZERO rewritten data files — the dead
    // positions ride a #dv= manifest line and readers skip them.
    // Values equal the NOT-BETWEEN oracle, the metadata row count
    // stays exact (live = physical − |dv|), and the pruned
    // read both skips on zones and masks the vector. This is the
    // write-amplification fix for CDC at 100 TB: copy-on-write
    // rewrites a whole zone-overlapping file per touched key.
    Q("q_e2e_dv_delete",
      """SELECT CAST(0 AS BIGINT) AS files_rewritten,
        |  CAST(1 AS BIGINT) AS files_dvd,
        |  CAST(4 AS BIGINT) AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(count(*) AS BIGINT) AS meta_rows,
        |  CAST(sum(CASE WHEN o_orderkey BETWEEN 900 AND 1100
        |    THEN 1 ELSE 0 END) AS BIGINT) AS pruned_rows
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 1000 AND 1004""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-dv-delete-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      val (_, rewritten, dvd, after) = graft.sources.ManifestTable
        .deleteRangeDv(s, table, "o_orderkey", 1000L, 1004L,
          dvMaxFraction = 0.05)
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      val (pruned, _, _) = graft.sources.ManifestTable
        .readPruned(s, table, "o_orderkey", 900L, 1100L)
      val prunedN = pruned.agg(count(lit(1)).as("pruned_rows"))
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .crossJoin(prunedN)
        .select(lit(rewritten.toLong).as("files_rewritten"),
          lit(dvd.toLong).as("files_dvd"),
          lit(after.toLong).as("files_after"),
          col("n_rows"), col("key_sum"),
          lit(meta).as("meta_rows"), col("pruned_rows"))
    },

    // LAKEHOUSE MERGE-ON-READ: deletion-vector MERGE (L21): a CDC
    // batch updating 3 keys of one file + inserting 3 far keys
    // commits ZERO rewritten files — the matched positions DV, the
    // new rows (matched keys' updates + inserts) land as ONE append
    // file. Values equal the upsert oracle; metadata count exact.
    Q("q_e2e_dv_merge",
      """WITH up1 AS (SELECT o_orderkey AS k, o_custkey + 500000 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 2000 AND 2002),
        |up2 AS (SELECT o_orderkey + 5000000 AS k, o_custkey AS p
        |  FROM orders WHERE o_orderkey < 3),
        |up AS (SELECT * FROM up1 UNION ALL SELECT * FROM up2),
        |base AS (SELECT o_orderkey AS k, o_custkey AS p FROM orders),
        |merged AS (SELECT k, p FROM base
        |    WHERE k NOT IN (SELECT k FROM up)
        |  UNION ALL SELECT k, p FROM up)
        |SELECT CAST(0 AS BIGINT) AS files_rewritten,
        |  CAST(1 AS BIGINT) AS files_dvd,
        |  CAST(5 AS BIGINT) AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(p) AS BIGINT) AS payload_sum,
        |  CAST(count(*) AS BIGINT) AS meta_rows
        |FROM merged""".stripMargin) { (s, d) =>
      val table = workDir("graft-dv-merge-q")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("k") > lo && col("k") <= hi).coalesce(1),
          table, append = true, "k")
      }
      val updates = orders.filter(col("k").between(2000, 2002))
        .select(col("k"), (col("p") + 500000L).as("p"))
        .unionByName(orders.filter(col("k") < 3)
          .select((col("k") + 5000000L).as("k"), col("p")))
      val (_, rewritten, dvd, after) = graft.sources.ManifestTable
        .mergeByKeyDv(s, table, updates, "k", dvMaxFraction = 0.05)
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"), sum("k").as("key_sum"),
          sum("p").as("payload_sum"))
        .select(lit(rewritten.toLong).as("files_rewritten"),
          lit(dvd.toLong).as("files_dvd"),
          lit(after.toLong).as("files_after"),
          col("n_rows"), col("key_sum"), col("payload_sum"),
          lit(meta).as("meta_rows"))
    },

    // LAKEHOUSE MERGE-ON-READ debt paydown (L22): OPTIMIZE purges
    // the deletion vectors — the rewrite applies the masks once,
    // the published manifest carries no #dv= lines, the metadata
    // count stays exact through both steps, and statsBounds (None
    // while DVs are live: a DV'd file's recorded extremes may be
    // dead rows) turns metadata-answerable again because the
    // DV-carrying group's stats are RE-DERIVED from the rewritten
    // files, not merged from stale input arithmetic.
    Q("q_e2e_dv_optimize",
      """SELECT CAST(1 AS BIGINT) AS files_after_compact,
        |  CAST(1 AS BIGINT) AS bounds_live,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_k,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_k,
        |  CAST(count(*) AS BIGINT) AS meta_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 1000 AND 1004""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-dv-opt-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      graft.sources.ManifestTable.deleteRangeDv(
        s, table, "o_orderkey", 1000L, 1004L, dvMaxFraction = 0.05)
      // while the DV is live, bounds must refuse (exact-or-None)
      val dvBounds = graft.sources.ManifestTable
        .statsBounds(table, "o_orderkey")
      val (_, _, after) = graft.sources.ManifestTable
        .compact(s, table, Long.MaxValue / 2)
      val optBounds = graft.sources.ManifestTable
        .statsBounds(table, "o_orderkey")
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      graft.sources.ManifestTable.read(s, table)
        .agg(sum("o_orderkey").as("key_sum"))
        .select(lit(after.toLong).as("files_after_compact"),
          lit(if (dvBounds.isEmpty && optBounds.isDefined) 1L else 0L)
            .as("bounds_live"),
          lit(optBounds.map(_._1).getOrElse(-1L)).as("min_k"),
          lit(optBounds.map(_._2).getOrElse(-1L)).as("max_k"),
          lit(meta).as("meta_rows"), col("key_sum"))
    },

    // LAKEHOUSE CDC-lite: incremental snapshot-diff read (L15 — what
    // an incremental consumer polls): three append commits; the diff
    // against v1 reads EXACTLY the two later commits' files (never
    // the snapshot), and for an append-only history that is exactly
    // the inserted rows.
    Q("q_e2e_manifest_changes",
      """SELECT CAST(2 AS BIGINT) AS files_added,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey % 3 IN (1, 2)""".stripMargin) { (s, d) =>
      val table = workDir("graft-changes-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 0 to 2) {
        graft.sources.ManifestTable.commit(
          orders.filter(col("o_orderkey") % 3 === m).coalesce(1),
          table, append = true)
      }
      val (frame, added) = graft.sources.ManifestTable
        .readChanges(s, table, sinceVersion = 1L)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(added.toLong).as("files_added"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE metadata-only count (L16 — the most common 100 TB
    // query answered from ONE small-file read): three stat-bearing
    // commits, an OPTIMIZE rewrite, and the manifest's summed
    // per-file row counts still equal the scanned truth — counts
    // survive compaction because the output holds exactly the sum of
    // its inputs' rows.
    Q("q_e2e_manifest_count",
      """SELECT CAST(count(*) AS BIGINT) AS meta_rows,
        |  CAST(count(*) AS BIGINT) AS scanned_rows
        |FROM orders""".stripMargin) { (s, d) =>
      val table = workDir("graft-count-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 0 to 2) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") % 3 === m).coalesce(1),
          table, append = true, "o_orderkey")
      }
      graft.sources.ManifestTable.compact(s, table, Long.MaxValue / 2)
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("scanned_rows"))
        .select(lit(meta).as("meta_rows"), col("scanned_rows"))
    },

    // LAKEHOUSE METADATA BOUNDS (L18): min/max answered from the
    // manifest's zone lines alone — three range-sliced commits, one
    // of them EMPTY (its 0-row file carries #nrows=0 and no stats),
    // then statsBounds folds the lines with zero data I/O. The
    // pruned read proves the empty file skips EXACTLY via its
    // recorded zero count (without it the stats-less file would
    // always scan and n_scanned would read 2): of 3 files only the
    // low slice opens. Oracle = the scanned aggregates + pinned
    // file arithmetic.
    Q("q_e2e_manifest_bounds",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_k,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_k,
        |  CAST(3 AS BIGINT) AS n_files,
        |  CAST(1 AS BIGINT) AS n_scanned,
        |  CAST((SELECT count(*) FROM orders
        |    WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders)
        |      // 4) AS BIGINT) AS pruned_rows
        |FROM orders""".stripMargin) { (s, d) =>
      val table = workDir("graft-bounds-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val mx = orders.agg(max("o_orderkey")).head.getLong(0)
      graft.sources.ManifestTable.commitWithStats(
        orders.filter(col("o_orderkey") <= mx / 2).coalesce(1),
        table, append = false, "o_orderkey")
      graft.sources.ManifestTable.commitWithStats(
        orders.filter(col("o_orderkey") > mx / 2).coalesce(1),
        table, append = true, "o_orderkey")
      graft.sources.ManifestTable.commitWithStats(
        orders.filter(col("o_orderkey") < 0).coalesce(1),
        table, append = true, "o_orderkey")
      val (lo, hi) = graft.sources.ManifestTable
        .statsBounds(table, "o_orderkey")
        .getOrElse((-1L, -1L))
      val n = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      val (pruned, nFiles, nScanned) = graft.sources.ManifestTable
        .readPruned(s, table, "o_orderkey", 0L, mx / 4)
      pruned.agg(count(lit(1)).as("pruned_rows"))
        .select(lit(n).as("n_rows"), lit(lo).as("min_k"),
          lit(hi).as("max_k"), lit(nFiles.toLong).as("n_files"),
          lit(nScanned.toLong).as("n_scanned"), col("pruned_rows"))
    },

    // LAKEHOUSE DSv2 (L24): the manifest table as a PLANNER citizen
    // — spark.read.format("graft-manifest") gives SQL reads snapshot
    // selection, zone pruning (a range predicate on the stats column
    // plans ONE file of four — pinned via the files the scan plans,
    // however they pack into partitions), metadata-only COUNT(*)
    // through the aggregate-pushdown seam (pinned via the executed plan's
    // "metadata count" scan), and deletion-vector masking — all
    // through the planner rather than the Scala API. Values equal
    // the oracle's row-level recompute.
    Q("q_z_manifest_dsv2",
      """SELECT CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS parts_pruned,
        |  CAST(1 AS BIGINT) AS meta_count_plan,
        |  CAST((SELECT count(*) FROM orders
        |    WHERE o_orderkey NOT BETWEEN 1000 AND 1004) AS BIGINT)
        |    AS meta_rows,
        |  CAST(count(*) AS BIGINT) AS slice_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS slice_sum
        |FROM orders
        |WHERE o_orderkey BETWEEN 5000 AND 7000""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-dsv2-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      graft.sources.ManifestTable.deleteRangeDv(
        s, table, "o_orderkey", 1000L, 1004L, dvMaxFraction = 0.05)
      val df = s.read.format("graft-manifest")
        .option("path", table).load()
      val filtered = df.filter(col("o_orderkey").between(5000, 7000))
      val parts = graft.sources.ManifestScanFiles(filtered).size
      val total = graft.sources.ManifestScanFiles(df).size
      val metaRows = df.count()
      val countPlan = df.groupBy().count()
        .queryExecution.executedPlan.toString
      filtered.agg(count(lit(1)).as("slice_rows"),
          sum("o_orderkey").as("slice_sum"))
        .select(lit(total.toLong).as("files_total"),
          lit(parts.toLong).as("parts_pruned"),
          lit(if (countPlan.contains("metadata agg")) 1L else 0L)
            .as("meta_count_plan"),
          lit(metaRows).as("meta_rows"),
          col("slice_rows"), col("slice_sum"))
    },

    // LAKEHOUSE DSv2 WRITE (L25): `df.write.format("graft-manifest")`
    // — four range-sliced append JOBS, each committing its tasks'
    // staged files as ONE atomic manifest version with zone lines
    // from per-task streamed min/max (no post-write stats scan); the
    // DSv2 READER then plans one file for the slice predicate
    // (pinned via the files the scan plans) and the metadata count
    // answers from the task-counted `#nrows` lines. Values equal the
    // oracle's row-level recompute — the full write→plan→read loop
    // of the lakehouse layer through the planner.
    Q("q_z_manifest_dsv2_write",
      """SELECT CAST(4 AS BIGINT) AS versions_n,
        |  CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS parts_pruned,
        |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS meta_rows,
        |  CAST(count(*) AS BIGINT) AS slice_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS slice_sum
        |FROM orders
        |WHERE o_orderkey BETWEEN 5000 AND 7000""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-dsv2w-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1)
          .write.format("graft-manifest").option("path", table)
          .option("statsColumns", "o_orderkey").mode("append").save()
      }
      val nVersions = graft.sources.ManifestTable.versions(table).size
      val meta = graft.sources.ManifestTable.countRows(table)
        .getOrElse(-1L)
      val df = s.read.format("graft-manifest")
        .option("path", table).load()
      val total = graft.sources.ManifestScanFiles(df).size
      val slice = df.filter(col("o_orderkey").between(5000, 7000))
      val parts = graft.sources.ManifestScanFiles(slice).size
      slice.agg(count(lit(1)).as("slice_rows"),
          sum("o_orderkey").as("slice_sum"))
        .select(lit(nVersions.toLong).as("versions_n"),
          lit(total.toLong).as("files_total"),
          lit(parts.toLong).as("parts_pruned"),
          lit(meta).as("meta_rows"),
          col("slice_rows"), col("slice_sum"))
    },

    // LAKEHOUSE TYPED ZONE STATS (L26): DATE and STRING predicates
    // prune files through the Scala read path — the single most
    // common pruning shape in a real lakehouse (ingest date + a
    // string business key), previously integer-only. Four quadrant
    // commits (date half x priority half) carry epoch-day `#stats=`
    // and hex byte-wise `#sstats=` zone lines; a date-range +
    // string-equality read opens exactly ONE of the four files, the
    // row filter keeps values exact, and the oracle recomputes the
    // rows from source parquet. NULL rows never match (BETWEEN is
    // UNKNOWN on NULL); truncated string bounds are conservative
    // (spec'd in PipelineSpec).
    Q("q_z_typed_prune",
      """SELECT CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS files_scanned,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |    BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        |  AND o_orderpriority = '1-URGENT'""".stripMargin) { (s, d) =>
      val table = workDir("graft-typed-prune-q")
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"))
      val dateCut = to_date(lit("1998-01-01"))
      val priCut = lit("2-HIGH")
      for {
        early <- Seq(true, false)
        lowPri <- Seq(true, false)
      } {
        val slice = orders
          .filter(if (early) col("o_date") < dateCut
            else col("o_date") >= dateCut)
          .filter(if (lowPri) col("o_orderpriority") <= priCut
            else col("o_orderpriority") > priCut)
        graft.sources.ManifestTable.commitWithStats(slice.coalesce(1),
          table, append = true, Seq("o_date", "o_orderpriority"), None)
      }
      val (frame, total, scanned) = graft.sources.ManifestTable
        .readPrunedTyped(s, table, Seq(
          ("o_date", java.time.LocalDate.parse("1995-01-01"),
            java.time.LocalDate.parse("1997-12-31")),
          ("o_orderpriority", "1-URGENT", "1-URGENT")), None)
      frame.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(total.toLong).as("files_total"),
          lit(scanned.toLong).as("files_scanned"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE TYPED ZONE STATS through the PLANNER (L26 × L24):
    // the same date+string quadrants written via the DSv2 writer
    // (per-task streamed epoch-day and byte-wise string bounds, no
    // post-write scan) and read via format("graft-manifest") with
    // PUSHED date-range + string-equality filters — the scan plans
    // ONE file of four (pinned via the files the scan plans), and
    // the date column round-trips the custom parquet
    // writer/reader. Values equal the oracle's row-level recompute.
    Q("q_z_dsv2_typed",
      """SELECT CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS parts_pruned,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |    BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        |  AND o_orderpriority = '1-URGENT'""".stripMargin) { (s, d) =>
      val table = workDir("graft-dsv2-typed-q")
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"))
      val dateCut = to_date(lit("1998-01-01"))
      val priCut = lit("2-HIGH")
      for {
        early <- Seq(true, false)
        lowPri <- Seq(true, false)
      } {
        orders
          .filter(if (early) col("o_date") < dateCut
            else col("o_date") >= dateCut)
          .filter(if (lowPri) col("o_orderpriority") <= priCut
            else col("o_orderpriority") > priCut)
          .coalesce(1)
          .write.format("graft-manifest").option("path", table)
          .option("statsColumns", "o_date,o_orderpriority")
          .mode("append").save()
      }
      val df = s.read.format("graft-manifest")
        .option("path", table).load()
      val total = graft.sources.ManifestScanFiles(df).size
      val slice = df.filter(
        col("o_date").between(to_date(lit("1995-01-01")),
          to_date(lit("1997-12-31"))) &&
        col("o_orderpriority") === "1-URGENT")
      val parts = graft.sources.ManifestScanFiles(slice).size
      slice.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(total.toLong).as("files_total"),
          lit(parts.toLong).as("parts_pruned"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE SQL CATALOG (L27): manifest tables as full SQL
    // citizens via the GraftCatalog TableCatalog plugin — CREATE
    // TABLE ... USING graft-manifest, two INSERT INTO ... SELECT
    // jobs (each ONE atomic manifest publish), a SELECT over the
    // result, and VERSION AS OF time travel, all through the SQL
    // planner with no path options. Oracle recomputes both snapshots
    // from source parquet: catalog plumbing must be invisible to
    // values.
    Q("q_sql_catalog",
      """SELECT snap, n, key_sum FROM (
        |  SELECT 'v1' AS snap, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'v2' AS snap, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM orders) u
        |ORDER BY snap""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.catalog.g_mf",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val view = "v_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      t(s, d, "orders").select("o_orderkey")
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE g_mf.$tbl (o_orderkey BIGINT) " +
        "USING `graft-manifest`")
      s.sql(s"INSERT INTO g_mf.$tbl " +
        s"SELECT o_orderkey FROM $view WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO g_mf.$tbl " +
        s"SELECT o_orderkey FROM $view WHERE o_orderkey % 2 = 1")
      s.sql(
        s"""SELECT 'v1' AS snap, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
           |FROM g_mf.$tbl VERSION AS OF 1
           |UNION ALL
           |SELECT 'v2' AS snap, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
           |FROM g_mf.$tbl
           |ORDER BY snap""".stripMargin)
    },

    // LAKEHOUSE SQL DELETE (L28): `DELETE FROM <catalog>.<table>
    // WHERE k BETWEEN a AND b` plans through the SupportsDelete seam
    // onto the merge-on-read deleteRangeDv — a small ranged purge
    // against four zone-disjoint files touches ONE candidate file
    // and commits a deletion-vector-only version: files_after equals
    // files_before (ZERO rewritten data files), dv_positions equals
    // the purged row count, and the post-DELETE SQL read masks the
    // positions. The GDPR shape, end-to-end through the SQL planner.
    Q("q_sql_delete_dv",
      """SELECT CAST(4 AS BIGINT) AS files_before,
        |  CAST(4 AS BIGINT) AS files_after,
        |  CAST((SELECT count(*) FROM orders
        |    WHERE o_orderkey BETWEEN 5000 AND 5099) AS BIGINT)
        |    AS dv_positions,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey NOT BETWEEN 5000 AND 5099""".stripMargin) {
      (s, d) =>
      s.conf.set("spark.sql.catalog.g_mf",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val dir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-catalog-root",
        tbl).toString
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          dir, append = true, "o_orderkey")
      }
      val before = graft.sources.ManifestTable
        .snapshotFor(dir, None).files.size
      s.sql(s"DELETE FROM g_mf.$tbl " +
        "WHERE o_orderkey BETWEEN 5000 AND 5099")
      val snap = graft.sources.ManifestTable.snapshotFor(dir, None)
      val dvN = snap.dvs.values.map(_.size.toLong).sum
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM g_mf.$tbl")
        .select(lit(before.toLong).as("files_before"),
          lit(snap.files.size.toLong).as("files_after"),
          lit(dvN).as("dv_positions"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE SQL MERGE INTO (L32): the full row-level-operation
    // protocol through the SQL planner — Spark rewrites MERGE INTO
    // into a group-based copy-on-write ReplaceData plan against the
    // operation's pinned scan; the RUNTIME GROUP FILTER finds the
    // files actually holding matched keys (an IN predicate on the
    // _graft_file metadata column) and the replacement write swaps
    // exactly those files in one atomic publish. Three of the four
    // zone-disjoint files are carried BY REFERENCE (pinned in the
    // result), matched rows take the source payload, unmatched
    // source rows insert, and values equal the oracle's upsert
    // recompute.
    Q("q_sql_merge_into",
      """WITH up1 AS (SELECT o_orderkey AS k, o_custkey + 500000 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 5000 AND 5499),
        |up2 AS (SELECT o_orderkey + 5000000 AS k, o_custkey AS p
        |  FROM orders WHERE o_orderkey < 10),
        |up AS (SELECT * FROM up1 UNION ALL SELECT * FROM up2),
        |base AS (SELECT o_orderkey AS k, o_custkey AS p FROM orders),
        |merged AS (SELECT k, p FROM base
        |    WHERE k NOT IN (SELECT k FROM up)
        |  UNION ALL SELECT k, p FROM up)
        |SELECT CAST(3 AS BIGINT) AS files_carried,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(p) AS BIGINT) AS payload_sum
        |FROM merged""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.catalog.g_mf",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val dir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-catalog-root",
        tbl).toString
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("k") > lo && col("k") <= hi).coalesce(1),
          dir, append = true, "k")
      }
      val before = graft.sources.ManifestTable
        .snapshotFor(dir, None).files.toSet
      val view = "v_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      orders.filter(col("k").between(5000, 5499))
        .select(col("k"), (col("p") + 500000L).as("p"))
        .unionByName(orders.filter(col("k") < 10)
          .select((col("k") + 5000000L).as("k"), col("p")))
        .createOrReplaceTempView(view)
      s.sql(
        s"""MERGE INTO g_mf.$tbl tgt USING $view src ON tgt.k = src.k
           |WHEN MATCHED THEN UPDATE SET tgt.p = src.p
           |WHEN NOT MATCHED THEN INSERT (k, p) VALUES (src.k, src.p)
           |""".stripMargin)
      val after = graft.sources.ManifestTable
        .snapshotFor(dir, None).files.toSet
      val carried = (after intersect before).size
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(sum(k) AS BIGINT) AS key_sum, " +
          s"CAST(sum(p) AS BIGINT) AS payload_sum FROM g_mf.$tbl")
        .select(lit(carried.toLong).as("files_carried"),
          col("n_rows"), col("key_sum"), col("payload_sum"))
    },

    // LAKEHOUSE MERGE-ON-READ SQL MERGE (L39 — SupportsDelta): a
    // small MERGE INTO a `merge.mode=merge-on-read` catalog table
    // commits deletion-vector lines keyed by the (_graft_file,
    // _graft_pos) row id plus ONE appended insert file — ZERO
    // rewritten data files (the L21 mergeByKeyDv discipline, now
    // through the planner; the Iceberg position-delta shape). The
    // oracle recomputes the merged table from source parquet and the
    // file/DV arithmetic pins the delta: every pre-merge file is
    // carried byte-identical, exactly one file appends, and the DV
    // cardinality equals the matched-key count.
    Q("q_sql_merge_dv",
      """WITH up AS (SELECT o_orderkey AS k, o_custkey + 500000 AS p
        |  FROM orders WHERE o_orderkey BETWEEN 5000 AND 5499),
        |ins AS (SELECT o_orderkey + 5000000 AS k, o_custkey AS p
        |  FROM orders WHERE o_orderkey < 10),
        |base AS (SELECT o_orderkey AS k, o_custkey AS p FROM orders),
        |merged AS (SELECT k, p FROM base
        |    WHERE k NOT IN (SELECT k FROM up)
        |  UNION ALL SELECT k, p FROM up
        |  UNION ALL SELECT k, p FROM ins)
        |SELECT CAST(0 AS BIGINT) AS files_rewritten,
        |  CAST(1 AS BIGINT) AS files_added,
        |  CAST((SELECT count(*) FROM up) AS BIGINT) AS dv_positions,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(p) AS BIGINT) AS payload_sum
        |FROM merged""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.catalog.g_dv",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val dir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-catalog-root",
        tbl).toString
      // merge.mode lands in the CREATE TABLE marker — the Iceberg
      // write.merge.mode vocabulary, per-table
      s.sql(s"CREATE TABLE g_dv.$tbl (k BIGINT, p BIGINT) " +
        "USING `graft-manifest` " +
        "TBLPROPERTIES ('merge.mode'='merge-on-read')")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("k") > lo && col("k") <= hi).coalesce(1),
          dir, append = true, "k")
      }
      val before = graft.sources.ManifestTable
        .snapshotFor(dir, None).files.toSet
      val view = "v_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      orders.filter(col("k").between(5000, 5499))
        .select(col("k"), (col("p") + 500000L).as("p"))
        .unionByName(orders.filter(col("k") < 10)
          .select((col("k") + 5000000L).as("k"), col("p")))
        .createOrReplaceTempView(view)
      s.sql(
        s"""MERGE INTO g_dv.$tbl tgt USING $view src ON tgt.k = src.k
           |WHEN MATCHED THEN UPDATE SET tgt.p = src.p
           |WHEN NOT MATCHED THEN INSERT (k, p) VALUES (src.k, src.p)
           |""".stripMargin)
      val snap = graft.sources.ManifestTable.snapshotFor(dir, None)
      val rewritten = (before -- snap.files.toSet).size
      val added = (snap.files.toSet -- before).size
      val dvPositions = snap.dvs.values.map(_.size.toLong).sum
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(sum(k) AS BIGINT) AS key_sum, " +
          s"CAST(sum(p) AS BIGINT) AS payload_sum FROM g_dv.$tbl")
        .select(lit(rewritten.toLong).as("files_rewritten"),
          lit(added.toLong).as("files_added"),
          lit(dvPositions).as("dv_positions"),
          col("n_rows"), col("key_sum"), col("payload_sum"))
    },

    // LAKEHOUSE RUNTIME FILE PRUNING (L40 — the Delta dynamic-file-
    // pruning / Iceberg runtime-filtering shape): a manifest FACT
    // joined to a selective dim gets the dim's join keys broadcast
    // back as a runtime IN predicate, and the scan re-prunes its
    // surviving files against the zone metadata at EXECUTION time —
    // the executed scan reads ONE of the four zone-disjoint files,
    // though no static predicate touches the fact at all. Values are
    // the oracle's join recompute; the partition count pins the
    // runtime skip.
    Q("q_z_runtime_prune",
      """SELECT CAST(4 AS BIGINT) AS files_total,
        |  CAST(1 AS BIGINT) AS parts_runtime,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderkey BETWEEN 5000 AND 5999""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-dfp-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val bounds = Seq((-1L, 4000L), (4000L, 8000L),
        (8000L, 12000L), (12000L, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          table, append = true, "o_orderkey")
      }
      val fact = s.read.format("graft-manifest")
        .option("path", table).load()
      // the dim's BETWEEN filter is the "likely selective" shape
      // Spark's dynamic pruning keys on
      def dim = t(s, d, "orders")
        .filter(col("o_orderkey").between(5000, 5999))
        .select(col("o_orderkey").as("k"))
      def joined = fact.join(broadcast(dim),
        fact("o_orderkey") === col("k"))
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
      val parts =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val plan = joined.queryExecution.executedPlan
          plan.executeCollect() // runs the pruning subquery + scan
          plan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.inputRDD.getNumPartitions.toLong
          }.getOrElse(-1L)
        } finally {
          s.conf.set("spark.sql.adaptive.enabled", prevAqe)
        }
      joined.agg(count(lit(1)).as("n_rows"),
          sum(fact("o_orderkey")).as("key_sum"))
        .select(lit(graft.sources.ManifestScanFiles(fact).size.toLong)
            .as("files_total"),
          lit(parts).as("parts_runtime"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE VECTORIZED + SPLIT SCAN (L41/L42): a DV-free
    // manifest scan plans COLUMNAR (Spark's vectorized parquet
    // reader feeding ColumnarBatches into whole-stage codegen — the
    // supportsColumnar flag pins it), and one multi-row-group file
    // splits into row-group-aligned InputPartitions (no straggler
    // task on a hot compacted file). Values are exact under the
    // split — the oracle recomputes them from source parquet.
    Q("q_z_vector_scan",
      """SELECT CAST(1 AS BIGINT) AS columnar_plan,
        |  CAST(1 AS BIGINT) AS split_multi,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_partkey) AS BIGINT) AS part_sum,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem""".stripMargin) { (s, d) =>
      val table = workDir("graft-vector-q")
      val hconf = s.sparkContext.hadoopConfiguration
      val prevBlock = hconf.get("parquet.block.size")
      try {
        hconf.set("parquet.block.size", "65536")
        graft.sources.ManifestTable.commit(
          t(s, d, "lineitem")
            .select("l_orderkey", "l_partkey", "l_quantity")
            .coalesce(1),
          table, append = false)
      } finally {
        if (prevBlock == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", prevBlock)
      }
      val df = s.read.format("graft-manifest")
        .option("path", table).option("splitBytes", "65536").load()
      val columnar = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => if (b.supportsColumnar) 1L else 0L
      }.getOrElse(0L)
      val splitMulti = if (df.rdd.getNumPartitions > 1) 1L else 0L
      df.agg(count(lit(1)).as("n_rows"),
          sum("l_partkey").as("part_sum"),
          sum(col("l_quantity").cast("long")).as("qty_sum"))
        .select(lit(columnar).as("columnar_plan"),
          lit(splitMulti).as("split_multi"),
          col("n_rows"), col("part_sum"), col("qty_sum"))
    },

    // LAKEHOUSE METADATA AGGREGATE PUSHDOWN (L46): ungrouped
    // MIN/MAX/COUNT(*)/COUNT(col) over a stats-committed manifest
    // table are answered from the manifest lines ALONE — the DSv2
    // scan plans ONE synthetic partition and reads ZERO data files
    // (`SELECT max(ts) FROM t` is the probe every incremental-ingest
    // ledger issues). The meta_only flag pins zero decoded rows +
    // one partition; the fallback leg DV-deletes a range (a DV'd
    // file's recorded extrema may BE deleted rows) and proves the
    // scan falls back to reading data — decoded rows > 0 — with the
    // post-delete MIN still exact.
    Q("q_sql_stats_agg",
      """SELECT CAST(1 AS BIGINT) AS meta_only,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(1 AS BIGINT) AS fallback_reads,
        |  CAST(min(CASE WHEN o_orderkey > 5 THEN o_orderkey END)
        |    AS BIGINT) AS min_after_delete
        |FROM orders""".stripMargin) { (s, d) =>
      val table = workDir("graft-statsagg-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 0 to 1)
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") % 2 === m).coalesce(1),
          table, append = true, "o_orderkey")
      def rd = s.read.format("graft-manifest")
        .option("path", table).load()
      def metaProbe = rd.agg(
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"),
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_keys"))
      graft.sources.ManifestColumnarReader.rowsDecoded.set(0L)
      // the scan's own description pins the complete pushdown; the
      // decoded-row diagnostic pins that no data file was read (a
      // declined pushdown scans COLUMNAR and counts its rows)
      val metaPlan = metaProbe.queryExecution.executedPlan.toString
      val r1 = metaProbe.collect().head
      val metaOnly =
        if (graft.sources.ManifestColumnarReader.rowsDecoded.get() == 0L
          && metaPlan.contains("[metadata agg")) 1L else 0L
      // DV fallback: extrema may be deleted rows — the pushdown must
      // decline and the scan recompute from data
      graft.sources.ManifestTable.deleteRangeDv(s, table,
        "o_orderkey", Long.MinValue, 5L, dvMaxFraction = 1.0)
      graft.sources.ManifestColumnarReader.rowsDecoded.set(0L)
      val r2 = rd.agg(min("o_orderkey")).collect().head
      val fallbackReads =
        if (graft.sources.ManifestColumnarReader.rowsDecoded.get() > 0L)
          1L else 0L
      import s.implicits._
      Seq((metaOnly, r1.getLong(0), r1.getLong(1), r1.getLong(2),
        r1.getLong(3), fallbackReads, r2.getLong(0)))
        .toDF("meta_only", "min_key", "max_key", "n_rows", "n_keys",
          "fallback_reads", "min_after_delete")
    },

    // LAKEHOUSE ROW-GROUP PREDICATE SKIPPING (L45): zone stats prune
    // per FILE, and OPTIMIZE deliberately makes files BIG — so the
    // pushed filters are also translated to a parquet FilterPredicate
    // against each surviving file's own footer and the vectorized
    // reader skips ROW GROUPS (stats/dictionary) and PAGES (column
    // index) inside the file. The flag pins the skip via the
    // decoded-row diagnostic (a selective range over a sorted
    // multi-row-group file decodes < half its rows); values equal the
    // oracle's recompute, proving the skip is invisible to results.
    Q("q_z_rowgroup_prune",
      """SELECT CAST(1 AS BIGINT) AS rowgroup_skip,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_partkey) AS BIGINT) AS part_sum,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 140""".stripMargin) { (s, d) =>
      val table = workDir("graft-rgprune-q")
      val hconf = s.sparkContext.hadoopConfiguration
      val prevBlock = hconf.get("parquet.block.size")
      try {
        hconf.set("parquet.block.size", "16384")
        hconf.set("parquet.page.size", "4096")
        graft.sources.ManifestTable.commit(
          t(s, d, "lineitem")
            .select("l_orderkey", "l_partkey", "l_quantity")
            .repartition(1).sortWithinPartitions("l_orderkey"),
          table, append = false)
      } finally {
        if (prevBlock == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", prevBlock)
        hconf.unset("parquet.page.size")
      }
      val df = s.read.format("graft-manifest")
        .option("path", table).load()
      val total = df.count()
      def probe = df.where(col("l_orderkey").between(100L, 140L))
        .agg(count(lit(1)).as("n_rows"),
          sum("l_partkey").as("part_sum"),
          sum(col("l_quantity").cast("long")).as("qty_sum"))
      graft.sources.ManifestColumnarReader.rowsDecoded.set(0L)
      val agg = probe.collect().toSeq
      val decoded = graft.sources.ManifestColumnarReader
        .rowsDecoded.get()
      val skip = if (decoded > 0 && decoded < total / 2) 1L else 0L
      import s.implicits._
      agg.map(r => (skip, r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("rowgroup_skip", "n_rows", "part_sum", "qty_sum")
    },

    // LAKEHOUSE STORAGE-PARTITIONED JOIN (L43 — the Iceberg SPJ
    // shape): two manifest tables hive-partitioned on the same key
    // report KeyGroupedPartitioning, every InputPartition exposes its
    // exact `#pval=` tuple as a partition key, and the planner joins
    // them with ZERO exchange — Spark groups same-key partitions per
    // side and zips them. The exchange_free flag pins the plan (with
    // bucketing on, broadcast off); values equal the oracle's plain
    // join recompute, proving the co-location is invisible to
    // results.
    Q("q_z_spj",
      """SELECT CAST(1 AS BIGINT) AS exchange_free, n.n_name,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(c.c_custkey) AS BIGINT) AS key_sum
        |FROM customer c JOIN nation n
        |  ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      val dirA = workDir("graft-spj-qa")
      val dirB = workDir("graft-spj-qb")
      t(s, d, "customer").select("c_custkey", "c_nationkey")
        .write.format("graft-manifest").option("path", dirA)
        .option("partitionColumns", "c_nationkey")
        .mode("append").save()
      t(s, d, "nation").select("n_nationkey", "n_name")
        .write.format("graft-manifest").option("path", dirB)
        .option("partitionColumns", "n_nationkey")
        .mode("append").save()
      val a = s.read.format("graft-manifest")
        .option("path", dirA).load()
      val b = s.read.format("graft-manifest")
        .option("path", dirB).load()
      def joined = a.join(b, a("c_nationkey") === b("n_nationkey"))
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.sources.v2.bucketing.enabled",
      graft.sources.ManifestScan.PreserveGroupingKey)
      val prev = keys.map(k => k -> s.conf.getOption(k))
      val (flag, agg) =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set(graft.sources.ManifestScan.PreserveGroupingKey,
            "true")
          val plan = joined.queryExecution.executedPlan.toString
          val f = if ((plan.contains("SortMergeJoin") ||
              plan.contains("ShuffledHashJoin")) &&
              !plan.contains("Exchange")) 1L
            else 0L
          // the aggregate runs under the SAME co-located plan
          (f, joined.groupBy("n_name")
            .agg(count(lit(1)).as("n_cust"),
              sum("c_custkey").as("key_sum"))
            .orderBy("n_name")
            .collect().toSeq)
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _))
        }
      import s.implicits._
      agg.map(r => (flag, r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("exchange_free", "n_name", "n_cust", "key_sum")
        .orderBy("n_name")
    },

    // LAKEHOUSE BUCKETED STORAGE-PARTITIONED JOIN (L47 — the Iceberg
    // bucket-transform SPJ shape): a HIGH-NDV key can't hive-
    // partition by value, but PARTITIONED BY (bucket(8, k)) routes
    // rows by the engine's canonical hash — one file per bucket id
    // even from a multi-task INSERT (the write clusters by the
    // catalog's `bucket` function), exact `B8:<id>` pval metadata,
    // and two same-bucketed tables join with ZERO exchange (Spark
    // resolves the bucket transform through the catalog's
    // FunctionCatalog and zips same-id partitions). exchange_free
    // pins the plan; one_file_per_bucket pins the write
    // distribution; values equal the oracle's plain join recompute.
    Q("q_z_spj_bucketed",
      """WITH a AS (SELECT o_orderkey AS k, o_custkey AS p
        |  FROM orders WHERE o_orderkey < 4000)
        |SELECT CAST(1 AS BIGINT) AS exchange_free,
        |  CAST(1 AS BIGINT) AS one_file_per_bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(x.k) AS BIGINT) AS key_sum,
        |  CAST(sum(x.p + y.p) AS BIGINT) AS payload_sum
        |FROM a x JOIN a y ON x.k = y.k""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.catalog.g_bkt",
        "graft.sources.GraftCatalog")
      val ta = "ta_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val tb = "tb_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      for (tbl <- Seq(ta, tb))
        s.sql(s"CREATE TABLE g_bkt.$tbl (k BIGINT, p BIGINT) " +
          "USING `graft-manifest` PARTITIONED BY (bucket(8, k))")
      val view = "vb_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      t(s, d, "orders").filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
        .repartition(8).createOrReplaceTempView(view)
      for (tbl <- Seq(ta, tb))
        s.sql(s"INSERT INTO g_bkt.$tbl SELECT k, p FROM $view")
      val dirA = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-catalog-root",
        ta).toString
      val snap = graft.sources.ManifestTable.snapshotFor(dirA, None)
      val oneFilePerBucket =
        if (snap.files.size == 8 && snap.pvals.values.flatten
            .forall(_._2.startsWith("B8:"))) 1L else 0L
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.sources.v2.bucketing.enabled",
        graft.sources.ManifestScan.PreserveGroupingKey)
      val prev = keys.map(k => k -> s.conf.getOption(k))
      val (flag, agg) =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set(graft.sources.ManifestScan.PreserveGroupingKey,
            "true")
          def joined = s.sql(
            s"SELECT x.k AS k, x.p AS xp, y.p AS yp " +
              s"FROM g_bkt.$ta x JOIN g_bkt.$tb y ON x.k = y.k")
          val plan = joined.queryExecution.executedPlan.toString
          val f = if ((plan.contains("SortMergeJoin") ||
              plan.contains("ShuffledHashJoin")) &&
              !plan.contains("Exchange")) 1L else 0L
          (f, joined.agg(count(lit(1)).as("n_rows"),
              sum(col("k")).as("key_sum"),
              sum(col("xp") + col("yp")).as("payload_sum"))
            .collect().head)
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _))
        }
      import s.implicits._
      Seq((flag, oneFilePerBucket, agg.getLong(0), agg.getLong(1),
        agg.getLong(2)))
        .toDF("exchange_free", "one_file_per_bucket", "n_rows",
          "key_sum", "payload_sum")
    },

    // LAKEHOUSE NDV COLUMN STATISTICS (L44): every stats-bearing
    // commit records a per-file `#ndv=` HyperLogLog register sketch
    // (256 bytes/column, nulls counted), registers merge by byte max
    // (the HLL union law) over exactly the surviving files, and the
    // DSv2 scan reports the merged distinctCount/nullCount to
    // Catalyst as column statistics — CBO join-cardinality
    // estimation then prices an equi-join at n₁·n₂/max(ndv) instead
    // of the size product, flipping broadcast decisions (the
    // decision flip itself is pinned in PlanSpec; here the flag pins
    // that the estimate is within ±20% of the true NDV and that the
    // CBO plan broadcasts the NDV-priced join). Values equal the
    // oracle's join recompute.
    Q("q_z_ndv_stats",
      """WITH a AS (SELECT o_orderkey AS k, o_custkey AS p
        |  FROM orders WHERE o_orderkey < 4000)
        |SELECT CAST(1 AS BIGINT) AS ndv_close,
        |  CAST(1 AS BIGINT) AS cbo_broadcast,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(x.k) AS BIGINT) AS key_sum
        |FROM a x JOIN a y ON x.k = y.k""".stripMargin) { (s, d) =>
      val dirA = workDir("graft-ndv-qa")
      val dirB = workDir("graft-ndv-qb")
      val slice = t(s, d, "orders")
        .filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
      for (dir <- Seq(dirA, dirB); m <- 0 to 1)
        graft.sources.ManifestTable.commitWithStats(
          slice.filter(col("k") % 2 === m).coalesce(1),
          dir, append = true, "k")
      val exact = slice.count()
      def rd(dir: String) = s.read.format("graft-manifest")
        .option("path", dir).load()
      val keys = Seq("spark.sql.cbo.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold")
      val prev = keys.map(k => k -> s.conf.getOption(k))
      val (ndvClose, cboBroadcast) =
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.adaptive.enabled", "false")
          // between the NDV-priced subtree estimate (≤4000 rows at
          // any SF ≈ ≤150 KB) and both the big side's real bytes
          // (~4 MB) and the no-NDV size-product fallback
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "262144")
          val est = rd(dirA).queryExecution.optimizedPlan
            .stats.attributeStats.toSeq.collectFirst {
              case (a, st) if a.name == "k" =>
                st.distinctCount.map(_.toLong)
            }.flatten.getOrElse(-1L)
          val close = if (math.abs(est - exact) <= exact / 5) 1L
            else 0L
          // big third side, incompressible, well over the threshold
          val big = s.range(300000).select(
            (col("id") % 4000).as("k"), xxhash64(col("id")).as("q"))
          val plan = rd(dirA)
            .join(rd(dirB).withColumnRenamed("p", "p2"), "k")
            .join(big, "k")
            .queryExecution.executedPlan.toString
          (close, if (!plan.contains("SortMergeJoin")) 1L else 0L)
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _))
        }
      rd(dirA).as("x")
        .join(rd(dirB).withColumnRenamed("p", "p2").as("y"), "k")
        .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"))
        .select(lit(ndvClose).as("ndv_close"),
          lit(cboBroadcast).as("cbo_broadcast"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE MULTI-WRITER RACE (L8, graded): four committers race
    // concurrent appends of disjoint orders slices — the
    // put-if-absent manifest publish gives EXACTLY one winner per
    // version (losers re-derive their carry list and retry onto the
    // next), so the version sequence is dense 1..4 and the final
    // snapshot holds every writer's rows. versions_dense pins the
    // optimistic-concurrency law; values equal the oracle's plain
    // recompute over all slices.
    Q("q_e2e_multiwriter",
      """SELECT CAST(4 AS BIGINT) AS versions_dense,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders""".stripMargin) { (s, d) =>
      val table = workDir("graft-mw-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent
        .ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { m =>
        val th = new Thread(() => {
          start.await()
          try graft.sources.ManifestTable.commit(
            orders.filter(col("o_orderkey") % 4 === m).coalesce(1),
            table, append = true)
          catch { case e: Throwable => errs.add(e); () }
        })
        th.start(); th
      }
      start.countDown()
      threads.foreach(_.join(180000))
      require(errs.isEmpty, s"racing commit failed: ${errs.peek()}")
      val vs = graft.sources.ManifestTable.versions(table)
      val dense = if (vs == Seq(1L, 2L, 3L, 4L)) 4L else -1L
      graft.sources.ManifestTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(dense).as("versions_dense"),
          col("n_rows"), col("key_sum"))
    },

    // STREAMING MERGE DV BUDGET (ST8b, graded): the SAME CDC updates
    // stream-merged into two tables — dvMaxFraction=1.0 takes the
    // merge-on-read path (matched rows die as `#dv=` positions, zero
    // rewritten files), 0.0 the copy-on-write path (files rewrite,
    // no DV) — and both converge to IDENTICAL values; each leg's
    // path is pinned by its manifest's #dv lines. The replayed
    // second run on a fresh checkpoint proves idempotence (same
    // source, same final state).
    Q("q_st_merge_budget",
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS p
        |    FROM orders),
        |up AS (SELECT o_orderkey AS k,
        |    o_custkey + 1000000 AS p FROM orders
        |  WHERE o_orderkey % 10 = 0),
        |ins AS (SELECT o_orderkey + 100000000 AS k,
        |    o_orderkey AS p FROM orders WHERE o_orderkey % 100 = 0),
        |merged AS (
        |  SELECT k, p FROM base WHERE k NOT IN (SELECT k FROM up)
        |  UNION ALL SELECT k, p FROM up
        |  UNION ALL SELECT k, p FROM ins)
        |SELECT CAST(1 AS BIGINT) AS mor_used,
        |  CAST(1 AS BIGINT) AS cow_used,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(p) AS BIGINT) AS payload_sum
        |FROM merged""".stripMargin) { (s, d) =>
      val work = workDir("graft-stbudget-q")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("p"))
        .withColumn("ver", lit(0L))
      val srcDir = s"$work/src"
      t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_custkey") + 1000000L).as("p"), lit(1L).as("ver"))
        .unionByName(
          t(s, d, "orders").filter(col("o_orderkey") % 100 === 0)
            .select((col("o_orderkey") + 100000000L).as("k"),
              col("o_orderkey").as("p"), lit(1L).as("ver")))
        .coalesce(1).write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      def leg(name: String, frac: Double): (String, Boolean) = {
        val tbl = s"$work/$name"
        graft.sources.ManifestTable.commitWithStats(
          orders.coalesce(1), tbl, append = false, "k")
        for (run <- 1 to 2)
          graft.sources.ManifestTable.streamMerge(
            s.readStream.schema(schema).parquet(srcDir),
            tbl, s"$work/ckpt-$name-$run", "k", "ver",
            dvMaxFraction = frac)
        val v = graft.sources.ManifestTable.versions(tbl).last
        val hasDv = scala.jdk.CollectionConverters
          .ListHasAsScala(java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(tbl, "_manifests", s"v$v")))
          .asScala.exists(_.startsWith("#dv="))
        (tbl, hasDv)
      }
      // the two legs touch disjoint tables and checkpoints, so they
      // run CONCURRENTLY (guide §2.6 overlapping independent jobs):
      // each leg's many small driver-side steps (stream bookkeeping,
      // manifest publishes) overlap the other leg's executor work
      val ((morTbl, morDv), (cowTbl, cowDv)) =
        concurrentLegs(s, "merge-budget")(leg("mor", 1.0), leg("cow", 0.0))
      val morRows = graft.sources.ManifestTable.read(s, morTbl)
        .select("k", "p")
      val cowRows = graft.sources.ManifestTable.read(s, cowTbl)
        .select("k", "p")
      // multiset equality in ONE action: both directed exceptAlls are
      // empty iff their union is empty
      val converged = morRows.exceptAll(cowRows)
        .unionAll(cowRows.exceptAll(morRows)).isEmpty
      val morUsed = if (morDv && converged) 1L else 0L
      val cowUsed = if (!cowDv && converged) 1L else 0L
      morRows.agg(count(lit(1)).as("n_rows"),
          sum("k").as("key_sum"), sum("p").as("payload_sum"))
        .select(lit(morUsed).as("mor_used"),
          lit(cowUsed).as("cow_used"),
          col("n_rows"), col("key_sum"), col("payload_sum"))
    },

    // LAKEHOUSE CBO HISTOGRAMS (L48): the `#ndv=` line's fixed-frame
    // log-scale histogram field merges by vector addition over the
    // surviving files and reaches Catalyst as an equi-height CBO
    // histogram — filter/join estimation stops assuming uniformity.
    // A 95%-at-ten-keys skewed table and a uniform table with the
    // SAME row count, bounds, and near-identical NDV estimate a
    // `k <= 10` filter at most-rows vs almost-none (est_flip pins
    // both sides); hist_reported pins the catalyst plumbing; values
    // are the filter's exact recompute against the oracle.
    Q("q_z_cbo_hist",
      """WITH s AS (SELECT CASE WHEN o_orderkey % 20 <> 0
        |    THEN (o_orderkey % 10) + 1 ELSE o_orderkey END AS k
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS hist_reported,
        |  CAST(1 AS BIGINT) AS est_flip,
        |  CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(k) AS BIGINT) AS k_sum
        |FROM s WHERE k <= 10""".stripMargin) { (s, d) =>
      val skewDir = workDir("graft-cbohist-skew")
      val unifDir = workDir("graft-cbohist-unif")
      val orders = t(s, d, "orders")
      val total = orders.count()
      val skew = orders.select(
        when(col("o_orderkey") % 20 =!= 0L,
          (col("o_orderkey") % 10) + 1L)
          .otherwise(col("o_orderkey")).as("k"))
      val unif = orders.select(col("o_orderkey").as("k"))
      graft.sources.ManifestTable.commitWithStats(
        skew.coalesce(2), skewDir, append = false, "k")
      graft.sources.ManifestTable.commitWithStats(
        unif.coalesce(2), unifDir, append = false, "k")
      def rd(dir: String) = s.read.format("graft-manifest")
        .option("path", dir).load()
      val keys = Seq("spark.sql.cbo.enabled",
        "spark.sql.adaptive.enabled")
      val prev = keys.map(k => k -> s.conf.getOption(k))
      val (histReported, estFlip) =
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val hasHist = rd(skewDir).queryExecution.optimizedPlan
            .stats.attributeStats.toSeq.collectFirst {
              case (a, st) if a.name == "k" => st.histogram.isDefined
            }.getOrElse(false)
          def est(dir: String): BigInt =
            rd(dir).where(col("k") <= 10L)
              .queryExecution.optimizedPlan.stats.rowCount
              .getOrElse(BigInt(-1))
          val flip = est(skewDir) > BigInt(total / 2) &&
            est(unifDir) >= BigInt(0) &&
            est(unifDir) < BigInt(math.max(total / 20, 2L))
          (if (hasHist) 1L else 0L, if (flip) 1L else 0L)
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _))
        }
      rd(skewDir).where(col("k") <= 10L)
        .agg(count(lit(1)).as("n_small"), sum(col("k")).as("k_sum"))
        .select(lit(histReported).as("hist_reported"),
          lit(estFlip).as("est_flip"), col("n_small"), col("k_sum"))
    },

    // LAKEHOUSE CDC STREAM SOURCE (L29): readStream
    // .format("graft-manifest").option("startingVersion", 2) — the
    // Delta-CDF / Iceberg-incremental-read shape: offsets are
    // manifest versions (advancing ONE version per micro-batch, so
    // pending versions never coalesce), each micro-batch is one
    // version's ADDED files, and because manifests are immutable a
    // replay plans the identical batches. Three commits; the stream
    // from INCLUSIVE startingVersion=2 delivers exactly v2+v3's rows
    // (the oracle recomputes them from source parquet), and a second
    // run on the SAME checkpoint delivers ZERO rows — the
    // exactly-once proof.
    Q("q_st_cdc_source",
      """SELECT CAST(count(*) AS BIGINT) AS cdc_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS cdc_sum,
        |  CAST(0 AS BIGINT) AS replay_rows
        |FROM orders WHERE o_orderkey % 3 <> 0""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-cdc-q")
      val ckpt = workDir("graft-cdc-q-ckpt")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 0 to 2) {
        graft.sources.ManifestTable.commit(
          orders.filter(col("o_orderkey") % 3 === m).coalesce(1),
          table, append = true)
      }
      def drain(): (Long, Long) = {
        val n = new java.util.concurrent.atomic.AtomicLong()
        val sumK = new java.util.concurrent.atomic.AtomicLong()
        val q = s.readStream.format("graft-manifest")
          .option("path", table).option("startingVersion", "2")
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.DataFrame, _: Long) =>
              val r = b.agg(count(lit(1)), sum("o_orderkey")).head()
              n.addAndGet(r.getLong(0))
              if (!r.isNullAt(1)) sumK.addAndGet(r.getLong(1))
              ()
          }
          .trigger(
            org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (n.get(), sumK.get())
      }
      val (rows1, sum1) = drain()
      val (rows2, _) = drain() // same checkpoint: nothing re-delivers
      s.range(1).select(lit(rows1).as("cdc_rows"),
        lit(sum1).as("cdc_sum"), lit(rows2).as("replay_rows"))
    },

    // LAKEHOUSE PLANNER STATISTICS (L33): the manifest DSv2 scan
    // reports SupportsReportStatistics from the manifest's free
    // metadata (file sizes + #nrows − |dv|), so Catalyst can decide
    // broadcast-vs-shuffle for manifest joins at PLAN time — the
    // Delta/Iceberg posture. Proof shape: with AQE off and the
    // threshold between the two tables' reported sizes, the 25-row
    // nation dim broadcasts BECAUSE of its reported bytes (the
    // planned_broadcast flag pins the BroadcastHashJoin); values
    // equal the oracle's join recompute.
    Q("q_z_stats_join",
      """SELECT CAST(1 AS BIGINT) AS planned_broadcast, n_name,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM (SELECT c_custkey, c_nationkey FROM customer
        |  UNION ALL SELECT c_custkey, c_nationkey FROM customer
        |  UNION ALL SELECT c_custkey, c_nationkey FROM customer
        |  UNION ALL SELECT c_custkey, c_nationkey FROM customer) c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      val dimDir = workDir("graft-stats-dim-q")
      val factDir = workDir("graft-stats-fact-q")
      graft.sources.ManifestTable.commitWithStats(
        t(s, d, "nation").select("n_nationkey", "n_name").coalesce(1),
        dimDir, append = true, "n_nationkey")
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_nationkey")
      graft.sources.ManifestTable.commitWithStats(
        cust.union(cust).union(cust).union(cust).coalesce(2),
        factDir, append = true, "c_custkey")
      val dim = s.read.format("graft-manifest")
        .option("path", dimDir).load()
      val fact = s.read.format("graft-manifest")
        .option("path", factDir).load()
      def joined = fact.join(dim,
          fact("c_nationkey") === dim("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum("c_custkey").as("key_sum"))
      // pin the PLAN-time decision: AQE off, threshold between the
      // dim's (~2 KB) and the fact's (>64 KB) reported sizes — only
      // the reported statistics can produce the broadcast here
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
      val prevTh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val flag =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
          if (joined.queryExecution.executedPlan.toString
              .contains("BroadcastHashJoin")) 1L
          else 0L
        } finally {
          s.conf.set("spark.sql.adaptive.enabled", prevAqe)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevTh)
        }
      joined.select(lit(flag).as("planned_broadcast"), col("n_name"),
          col("n_cust"), col("key_sum"))
        .orderBy("n_name")
    },

    // LAKEHOUSE SQL DDL EVOLUTION (L34): ALTER TABLE ... ADD COLUMN
    // through the GraftCatalog — the ADDITIVE half of
    // catalog-declared schema evolution. CREATE → INSERT → ALTER ADD
    // → INSERT → SELECT returns the union schema: pre-evolution rows
    // NULL-fill the new column (the merged-footer read contract),
    // post-evolution rows populate it, and the aggregate equals the
    // oracle's recompute from source parquet.
    Q("q_sql_alter_add",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(p) AS BIGINT) AS with_p,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(coalesce(sum(p), 0) AS BIGINT) AS p_sum
        |FROM (
        |  SELECT o_orderkey AS k, NULL AS p FROM orders
        |  WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey AS k, o_custkey AS p FROM orders
        |  WHERE o_orderkey % 2 = 1) u""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.catalog.g_mf",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val view = "v_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      t(s, d, "orders").select("o_orderkey", "o_custkey")
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE g_mf.$tbl (k BIGINT) " +
        "USING `graft-manifest`")
      s.sql(s"INSERT INTO g_mf.$tbl " +
        s"SELECT o_orderkey FROM $view WHERE o_orderkey % 2 = 0")
      s.sql(s"ALTER TABLE g_mf.$tbl ADD COLUMN p BIGINT")
      s.sql(s"INSERT INTO g_mf.$tbl " +
        s"SELECT o_orderkey, o_custkey FROM $view " +
        "WHERE o_orderkey % 2 = 1")
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(p) AS BIGINT) AS with_p, " +
        "CAST(sum(k) AS BIGINT) AS key_sum, " +
        s"CAST(coalesce(sum(p), 0) AS BIGINT) AS p_sum FROM g_mf.$tbl")
    },

    // LAKEHOUSE SQL MAINTENANCE (L35): OPTIMIZE / VACUUM / DESCRIBE
    // HISTORY as SQL stored procedures (the DSv2 ProcedureCatalog
    // seam): CALL g_mf.optimize compacts 4 zone-disjoint files into
    // 1 through the SAME compact() seam as the Scala API (identical
    // post-state), CALL g_mf.history counts the audit rows, CALL
    // g_mf.vacuum(grace_ms => 0) reclaims exactly the 4 rewritten
    // files, and the post-maintenance SQL read equals the oracle's
    // recompute.
    Q("q_sql_optimize",
      """SELECT CAST(4 AS BIGINT) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after,
        |  CAST(5 AS BIGINT) AS versions_in_history,
        |  CAST(4 AS BIGINT) AS vacuumed_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.catalog.g_mf",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val dir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-catalog-root",
        tbl).toString
      val orders = t(s, d, "orders").select("o_orderkey")
      val keys = orders.agg(min("o_orderkey"), max("o_orderkey"))
        .head()
      val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
      val q = math.max((kHi - kLo + 1) / 4, 1L)
      val bounds = Seq((Long.MinValue, kLo + q),
        (kLo + q, kLo + 2 * q), (kLo + 2 * q, kLo + 3 * q),
        (kLo + 3 * q, Long.MaxValue))
      for ((lo, hi) <- bounds) {
        graft.sources.ManifestTable.commitWithStats(
          orders.filter(col("o_orderkey") > lo &&
            col("o_orderkey") <= hi).coalesce(1),
          dir, append = true, "o_orderkey")
      }
      val opt = s.sql(s"CALL g_mf.optimize(table => '$tbl', " +
        s"target_bytes => ${Long.MaxValue / 2})").head()
      val hist = s.sql(s"CALL g_mf.history(table => '$tbl')").count()
      val vac = s.sql(s"CALL g_mf.vacuum(table => '$tbl', " +
        "keep_versions => 1, grace_ms => 0)").head()
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(sum(o_orderkey) AS BIGINT) AS key_sum " +
          s"FROM g_mf.$tbl")
        .select(lit(opt.getInt(1).toLong).as("files_before"),
          lit(opt.getInt(2).toLong).as("files_after"),
          lit(hist).as("versions_in_history"),
          lit(vac.getInt(1).toLong).as("vacuumed_files"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE PARTITIONED TABLES (L36): hive-style value
    // partitioning on the manifest DSv2 write — each task splits its
    // rows per partition tuple (one file per value under
    // `col=value/` dirs) and records exact `#pval=` lines; the scan
    // prunes partition predicates BEFORE zone stats, and zone stats
    // still prune WITHIN partitions. Proof shape (pinned via the
    // files the scan plans, like q_z_dsv2_typed): 2 key-ranged
    // commits × 5 priorities = 10 files; priority equality keeps 2; adding the
    // key range keeps 1. Values equal the oracle's recompute.
    Q("q_z_partitioned",
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |    max(o_orderkey) AS hi FROM orders)
        |SELECT CAST(10 AS BIGINT) AS files_total,
        |  CAST(2 AS BIGINT) AS parts_eq,
        |  CAST(1 AS BIGINT) AS parts_eq_range,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders, b
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderkey <= b.lo + (b.hi - b.lo) // 4""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-part-q")
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority")
      val b = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
      val (kLo, kHi) = (b.getLong(0), b.getLong(1))
      val mid = kLo + (kHi - kLo) / 2
      val cut = kLo + (kHi - kLo) / 4
      for (lower <- Seq(true, false)) {
        orders.filter(if (lower) col("o_orderkey") <= mid
            else col("o_orderkey") > mid)
          .coalesce(1)
          .write.format("graft-manifest").option("path", table)
          .option("partitionColumns", "o_orderpriority")
          .option("statsColumns", "o_orderkey")
          .mode("append").save()
      }
      val df = s.read.format("graft-manifest")
        .option("path", table).load()
      val total = graft.sources.ManifestScanFiles(df).size
      val eq = df.filter(col("o_orderpriority") === "1-URGENT")
      val partsEq = graft.sources.ManifestScanFiles(eq).size
      val slice = eq.filter(col("o_orderkey") <= cut)
      val partsBoth = graft.sources.ManifestScanFiles(slice).size
      slice.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(total.toLong).as("files_total"),
          lit(partsEq.toLong).as("parts_eq"),
          lit(partsBoth.toLong).as("parts_eq_range"),
          col("n_rows"), col("key_sum"))
    },

    // LAKEHOUSE STREAMING SINK (ST9): writeStream
    // .format("graft-manifest") — the DSv2 StreamingWrite: each
    // epoch commits ONE tagged manifest version
    // (`stream:<queryId>:<epochId>`), so a checkpoint replay of an
    // already-committed epoch short-circuits instead of
    // double-appending — the ST7 exactly-once discipline at the SQL
    // surface, composed end-to-end with the CDC source
    // (manifest → stream → manifest). The oracle recomputes the
    // delivered rows; replay_versions pins the no-double-commit.
    Q("q_st_dsv2_sink",
      """SELECT CAST(count(*) AS BIGINT) AS sink_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sink_sum,
        |  CAST(0 AS BIGINT) AS replay_versions
        |FROM orders""".stripMargin) { (s, d) =>
      val srcDir = workDir("graft-ss-src-q")
      val sinkDir = workDir("graft-ss-sink-q")
      val ckpt = workDir("graft-ss-ck-q")
      val orders = t(s, d, "orders").select("o_orderkey")
      for (m <- 0 to 1) {
        graft.sources.ManifestTable.commit(
          orders.filter(col("o_orderkey") % 2 === m).coalesce(1),
          srcDir, append = true)
      }
      def drain(): Unit = {
        val q = s.readStream.format("graft-manifest")
          .option("path", srcDir).load()
          .writeStream.format("graft-manifest")
          .option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(
            org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      val v1 = graft.sources.ManifestTable.versions(sinkDir).size
      drain() // same checkpoint: no new versions, no new rows
      val v2 = graft.sources.ManifestTable.versions(sinkDir).size
      s.read.format("graft-manifest").option("path", sinkDir).load()
        .agg(count(lit(1)).as("sink_rows"),
          sum("o_orderkey").as("sink_sum"))
        .select(col("sink_rows"), col("sink_sum"),
          lit((v2 - v1).toLong).as("replay_versions"))
    },

    // LAKEHOUSE PARTITION MAINTENANCE (L37): the partitioned-table
    // lifecycle end-to-end — two partitioned commits (4 buckets × 2
    // files), `CALL optimize(partition_col => ...)` compacts ONE
    // bucket's files (partition-scoped OPTIMIZE: cost scales with
    // the partition, never the table; the rewritten file keeps its
    // #pval line so pruning still confines a bucket read to one
    // file), and `TIMESTAMP AS OF` (every publish stamps #at=)
    // reads the pre-OPTIMIZE snapshot — same rows, 8 files. Values
    // equal the oracle's recompute; file/partition counts pin the
    // maintenance behavior.
    Q("q_e2e_partition_maintain",
      """SELECT CAST(8 AS BIGINT) AS files_before,
        |  CAST(7 AS BIGINT) AS files_after,
        |  CAST(1 AS BIGINT) AS parts_b1,
        |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS ts_rows,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin) {
      (s, d) =>
      s.conf.set("spark.sql.catalog.g_mf",
        "graft.sources.GraftCatalog")
      val tbl = "t_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val dir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-catalog-root",
        tbl).toString
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"),
          (col("o_orderkey") % 4).as("bucket"))
      val bounds0 = orders.agg(min("o_orderkey"),
        max("o_orderkey")).head()
      val mid = bounds0.getLong(0) +
        (bounds0.getLong(1) - bounds0.getLong(0)) / 2
      for (lower <- Seq(true, false)) {
        orders.filter(if (lower) col("o_orderkey") <= mid
            else col("o_orderkey") > mid)
          .coalesce(1)
          .write.format("graft-manifest").option("path", dir)
          .option("partitionColumns", "bucket")
          .mode("append").save()
      }
      val before = graft.sources.ManifestTable
        .snapshotFor(dir, None).files.size
      Thread.sleep(5)
      val tsMid = System.currentTimeMillis()
      Thread.sleep(5)
      val opt = s.sql(s"CALL g_mf.optimize(table => '$tbl', " +
        s"target_bytes => ${Long.MaxValue / 2}, " +
        "partition_col => 'bucket', partition_value => '1')").head()
      val b1 = s.read.format("graft-manifest").option("path", dir)
        .load().filter(col("bucket") === 1L)
      val partsB1 = graft.sources.ManifestScanFiles(b1).size
      val iso = java.time.Instant.ofEpochMilli(tsMid)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      val tsRows = s.sql(
        s"SELECT count(*) FROM g_mf.$tbl TIMESTAMP AS OF '$iso'")
        .head().getLong(0)
      b1.agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(before.toLong).as("files_before"),
          lit(opt.getInt(2).toLong).as("files_after"),
          lit(partsB1.toLong).as("parts_b1"),
          lit(tsRows).as("ts_rows"),
          col("n_rows"), col("key_sum"))
    },

    // LAYOUT: schema evolution ACROSS manifest commits (S16 × L5) —
    // commit v1 before the status column existed, append v2 with it;
    // the merged-schema snapshot read unions the LIVE files' footers
    // (cost bounded by the snapshot, not directory history) and v1's
    // rows surface the new column as NULL.
    Q("q_z_manifest_evolve",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(o_orderstatus) AS BIGINT) AS with_status
        |FROM (
        |  SELECT CAST(NULL AS VARCHAR) AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderstatus FROM orders WHERE o_orderkey % 2 = 1) u
        |GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""".stripMargin) {
      (s, d) =>
      val table = workDir("graft-manifest-ev")
      val orders = t(s, d, "orders")
      graft.sources.ManifestTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey"), table, append = false)
      graft.sources.ManifestTable.commit(
        orders.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_orderstatus"), table, append = true)
      graft.sources.ManifestTable.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("o_orderstatus")).as("with_status"))
        .orderBy(col("o_orderstatus").asc_nulls_first)
    },

    // LAYOUT: bucketed co-located join (L4). Both tables are written
    // hash-bucketed and bucket-sorted on their join key; the
    // subsequent sort-merge join runs with ZERO exchange (PlanSpec
    // pins it) — the write-once shuffle amortized over every join,
    // the defining layout optimization for a daily-joined 100 TB
    // fact table. The oracle joins the same source parquet directly:
    // bucketing must never change the result, only the plan.
    Q("q_z_bucketed_join",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val work = workDir("graft-bucketed")
      graft.operators.Layout.writeBucketed(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        "g_bkt_orders", s"$work/orders", "o_orderkey", 8)
      graft.operators.Layout.writeBucketed(
        t(s, d, "lineitem").select("l_orderkey", "l_quantity"),
        "g_bkt_lineitem", s"$work/lineitem", "l_orderkey", 8)
      graft.operators.Layout.bucketedJoin(s, "g_bkt_orders",
          "g_bkt_lineitem", "o_orderkey", "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .orderBy("o_orderstatus")
    },

    // INCREMENTAL DEDUP: an arriving batch (doc_id % 3 == 0) deduped
    // against the historical corpus + itself, without self-joining
    // history — the ongoing-ingestion shape (history is a persisted
    // banded index at cluster scale). Bucket cap enforced on the
    // combined population.
    Q("q_d_incremental_lsh",
      Text.sigCte +
        """, banded AS (SELECT doc_id AS id, sig,
          |    unnest([0,1,2,3]) AS band FROM sig),
          |bkt0 AS (SELECT id, sig, band,
          |  md5(concat_ws(',', band,
          |    array_to_string(sig[band*2+1:band*2+2], ','))) AS bucket
          |  FROM banded),
          |small AS (SELECT band, bucket FROM bkt0
          |          GROUP BY 1, 2 HAVING count(*) <= 1000),
          |bkt AS (SELECT bkt0.* FROM bkt0
          |        JOIN small ON bkt0.band = small.band
          |                  AND bkt0.bucket = small.bucket),
          |nw AS (SELECT * FROM bkt WHERE id % 3 = 0)
          |SELECT DISTINCT a.id AS new_id, b.id AS other_id,
          |  (b.id % 3 = 0) AS other_is_new,
          |  CAST(len(list_filter(range(1,9), i -> a.sig[i] = b.sig[i]))
          |    AS DOUBLE) / 8.0 AS est_jaccard
          |FROM nw a JOIN bkt b
          |  ON a.band = b.band AND a.bucket = b.bucket
          |WHERE (b.id % 3 = 0 AND a.id < b.id) OR b.id % 3 != 0
          |ORDER BY new_id, other_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Dedup.incrementalLshPairs(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", 3, 8, 4, 1000)
        .orderBy("new_id", "other_id")
    },

    // ANOMALY: hours whose per-type event rate exceeds mean + 2 sigma
    // — the sigma-free integer form (c*n - S)^2 > 4*(n*Q - S^2), so
    // the flag set never hinges on a sqrt ulp. The ops-monitoring
    // pass a pipeline runs over its own throughput series.
    Q("q_ts_anomaly",
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n, sum(c) AS s,
        |    sum(c * c) AS q FROM h GROUP BY 1)
        |SELECT h.event_type, epoch_us(h.hr) AS hour_us,
        |  CAST(h.c AS BIGINT) AS c
        |FROM h JOIN st ON st.event_type = h.event_type
        |WHERE (h.c * st.n - st.s) > 0
        |  AND (h.c * st.n - st.s) * (h.c * st.n - st.s)
        |      > 4 * (st.n * st.q - st.s * st.s)
        |ORDER BY h.event_type, hour_us""".stripMargin) { (s, d) =>
      graft.operators.Temporal
        .rateAnomalies(events(s, d), "event_type", "ts")
        .select(col("series").as("event_type"),
          epochUs(col("hr")).as("hour_us"), col("c"))
        .orderBy("event_type", "hour_us")
    },

    // ROBUST OUTLIERS: MAD rule per event type — |x − med| > 3·MAD
    // with lower medians picked as order statistics, everything
    // int64-exact after one micro quantization. The 50%-breakdown
    // robust cousin of q_ts_anomaly's z-score: a burst of garbage
    // can't drag the threshold toward itself.
    Q("q_ts_mad",
      """WITH q AS (SELECT event_type AS series, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_micro
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY series
        |      ORDER BY v_micro, event_id) AS rn,
        |    count(*) OVER (PARTITION BY series) AS n FROM q),
        |med AS (SELECT series, v_micro AS med_micro FROM r
        |  WHERE rn = (n + 1) // 2),
        |d AS (SELECT q.series, q.event_id, q.v_micro, m.med_micro,
        |    abs(q.v_micro - m.med_micro) AS dev_micro
        |  FROM q JOIN med m ON m.series = q.series),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY series
        |      ORDER BY dev_micro, event_id) AS rn,
        |    count(*) OVER (PARTITION BY series) AS n FROM d),
        |mad AS (SELECT series, dev_micro AS mad_micro FROM r2
        |  WHERE rn = (n + 1) // 2)
        |SELECT d.series AS event_type, d.event_id, d.v_micro,
        |  d.med_micro, m2.mad_micro, d.dev_micro
        |FROM d JOIN mad m2 ON m2.series = d.series
        |WHERE d.dev_micro > 3 * m2.mad_micro
        |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      graft.operators.Temporal
        .madOutliers(events(s, d), "event_type", "event_id", "value")
        .select(col("series").as("event_type"), col("id").as("event_id"),
          col("v_micro"), col("med_micro"), col("mad_micro"),
          col("dev_micro"))
        .orderBy("event_type", "event_id")
    },

    // DRIFT: one-sided CUSUM alarms per event type (Page 1954) —
    // the sequential shift detector point rules can't replace; the
    // recursive fold graded through its closed reflection form
    // S_i = c_i − min(0, min_{j≤i} c_j), two cumulative windows,
    // int64-exact. Reference 57.0 sits above the value median, so
    // only sustained high-value runs alarm (24–399 alarms per type
    // at sf0.01 — both quiet and noisy series are graded).
    Q("q_ts_cusum",
      """WITH q AS (SELECT event_type AS series, event_id AS id, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_micro
        |  FROM events),
        |c AS (SELECT *, sum(v_micro - 57000000) OVER (
        |    PARTITION BY series ORDER BY ts, id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM q),
        |m AS (SELECT *, least(0, min(cum) OVER (
        |    PARTITION BY series ORDER BY ts, id
        |    ROWS UNBOUNDED PRECEDING)) AS mn FROM c)
        |SELECT series, id, v_micro,
        |  CAST(cum - mn AS BIGINT) AS cusum_micro
        |FROM m WHERE cum - mn > 400000000
        |ORDER BY series, id""".stripMargin) { (s, d) =>
      graft.operators.Temporal
        .cusumDrift(events(s, d), "event_type", "event_id", "ts",
          "value", 57000000L, 400000000L)
        .orderBy("series", "id")
    },

    // E2E: robust resampling — MAD-screen the spikes out of the
    // event stream, THEN bar it up (the production OHLC shape: raw
    // ticks carry fat-finger garbage a mean-based screen would let
    // through precisely when it matters). Composition of the two
    // graded stages: q_ts_mad's flags anti-join the stream feeding
    // q_ts_resample's one-pass min_by/max_by bars.
    Q("q_e2e_outlier_screen",
      """WITH q AS (SELECT event_type AS series, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_micro
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY series
        |      ORDER BY v_micro, event_id) AS rn,
        |    count(*) OVER (PARTITION BY series) AS n FROM q),
        |med AS (SELECT series, v_micro AS med_micro FROM r
        |  WHERE rn = (n + 1) // 2),
        |d AS (SELECT q.series, q.event_id,
        |    abs(q.v_micro - m.med_micro) AS dev_micro
        |  FROM q JOIN med m ON m.series = q.series),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY series
        |      ORDER BY dev_micro, event_id) AS rn,
        |    count(*) OVER (PARTITION BY series) AS n FROM d),
        |mad AS (SELECT series, dev_micro AS mad_micro FROM r2
        |  WHERE rn = (n + 1) // 2),
        |flag AS (SELECT d.event_id FROM d
        |  JOIN mad m2 ON m2.series = d.series
        |  WHERE d.dev_micro > 3 * m2.mad_micro),
        |clean AS (SELECT * FROM events
        |  WHERE event_id NOT IN (SELECT event_id FROM flag)),
        |rr AS (SELECT event_type, date_trunc('day', ts) AS b, value,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('day', ts) ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('day', ts) ORDER BY ts DESC, event_id DESC)
        |      AS rd
        |  FROM clean)
        |SELECT event_type, epoch_us(b) AS bucket_us,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM rr GROUP BY 1, 2
        |ORDER BY event_type, bucket_us""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val flagged = graft.operators.Temporal
        .madOutliers(ev, "event_type", "event_id", "value")
        .select(col("id").as("event_id"))
      val clean = ev.join(flagged, Seq("event_id"), "left_anti")
      graft.operators.Temporal
        .resampleOhlc(clean, "event_type", "ts", "value", "event_id",
          "day")
        .select(col("series").as("event_type"),
          epochUs(col("bucket")).as("bucket_us"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "bucket_us")
    },

    // GAP FILL: dense per-type hourly series over the corpus span —
    // missing hours become explicit zeros. The spine is
    // |keys| x |hours| metadata built from a 1-row bounds frame, never
    // from the data.
    Q("q_ts_gapfill",
      """WITH h AS (SELECT event_type AS et, date_trunc('hour', ts)
        |    AS hr, count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM h),
        |hrs AS (SELECT unnest(generate_series(h0, h1,
        |    INTERVAL 1 HOUR)) AS hr FROM b),
        |spine AS (SELECT t.et, hrs.hr FROM
        |  (SELECT DISTINCT event_type AS et FROM events) t, hrs)
        |SELECT spine.et AS event_type, epoch_us(spine.hr) AS hr_us,
        |  coalesce(h.n, 0) AS n
        |FROM spine LEFT JOIN h ON h.et = spine.et AND h.hr = spine.hr
        |ORDER BY event_type, hr_us""".stripMargin) { (s, d) =>
      graft.operators.Temporal
        .gapFillHourly(events(s, d), "event_type", "ts")
        .select(col("event_type"), epochUs(col("hr")).as("hr_us"),
          col("n"))
        .orderBy("event_type", "hr_us")
    },

    // OHLC RESAMPLE: daily bars per event type — open/close are
    // exact row PICKS under the (ts, event_id) tie-break (min_by/
    // max_by on the struct), high/low exact extrema, so raw doubles
    // hash bit-identically on every engine (nothing is summed). One
    // map-side-combined aggregation, no window over the data.
    Q("q_ts_resample",
      """WITH r AS (SELECT event_type, date_trunc('day', ts) AS b,
        |    value,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('day', ts) ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('day', ts) ORDER BY ts DESC, event_id DESC)
        |      AS rd
        |  FROM events)
        |SELECT event_type, epoch_us(b) AS bucket_us,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM r GROUP BY 1, 2
        |ORDER BY event_type, bucket_us""".stripMargin) { (s, d) =>
      graft.operators.Temporal
        .resampleOhlc(events(s, d), "event_type", "ts", "value",
          "event_id", "day")
        .select(col("series").as("event_type"),
          epochUs(col("bucket")).as("bucket_us"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "bucket_us")
    },

    // DOMAIN MIXTURE: per-source token shares and the keep-ratio that
    // rebalances the corpus toward a uniform source mixture — integer
    // milli arithmetic end to end (the pre-training domain-reweighting
    // step). One shuffle on source + a broadcast of the 1-row total.
    Q("q_t_mixture",
      s"""WITH st AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         |    count(*) AS n_src FROM st),
         |sh AS (SELECT st.*, n_tokens * 1000 // total AS share_milli,
         |    n_src FROM st, tt)
         |SELECT source, n_docs, n_tokens, share_milli,
         |  CASE WHEN share_milli = 0 THEN 1000
         |    ELSE least(1000, (1000 // n_src) * 1000 // share_milli)
         |  END AS keep_milli
         |FROM sh ORDER BY source""".stripMargin) { (s, d) =>
      val st = t(s, d, "documents")
        .select(col("source"),
          size(graft.functions.tokens(col("text"))).cast("long").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      val tt = st.agg(sum("n_tokens").as("total"),
        count(lit(1)).as("n_src"))
      st.crossJoin(broadcast(tt))
        .withColumn("share_milli", expr("n_tokens * 1000 div total"))
        .withColumn("keep_milli",
          when(col("share_milli") === 0, lit(1000L))
            .otherwise(least(lit(1000L),
              expr("(1000 div n_src) * 1000 div share_milli"))))
        .select("source", "n_docs", "n_tokens", "share_milli",
          "keep_milli")
        .orderBy("source")
    },

    // AUDIT: order-free table fingerprint — commutative sums of two
    // 20-bit hash slices plus the row count. Migration/replication
    // validation compares ONE 3-column row per table, no sort and no
    // row diff; identical at any partitioning or row order.
    Q("q_audit_fingerprint",
      s"""WITH h AS (SELECT ${sqlHash60(
            "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
            "CAST(FLOOR(o_totalprice * 100) AS BIGINT))")} AS hv
         |  FROM orders)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(hv % 1048576) AS BIGINT) AS fp_lo,
         |  CAST(sum((hv // 1048576) % 1048576) AS BIGINT) AS fp_hi
         |FROM h""".stripMargin) { (s, d) =>
      Constraints.tableFingerprint(t(s, d, "orders"),
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long")))
    },

    // AUDIT: snapshot diff — added/removed/changed/unchanged counts
    // between two table versions (simulated by key-modulus carve-outs
    // and a status rewrite), via ONE full-outer join on the key with
    // null-safe value comparison. The "what did this load do" report.
    Q("q_audit_snapshot_diff",
      """WITH b AS (SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 7 != 0),
        |a AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS st FROM orders WHERE o_orderkey % 5 != 0),
        |j AS (SELECT b.o_orderkey AS bk, a.o_orderkey AS ak,
        |    b.o_orderstatus AS bs, a.st FROM b
        |  FULL OUTER JOIN a ON a.o_orderkey = b.o_orderkey)
        |SELECT CASE WHEN bk IS NULL THEN 'added'
        |    WHEN ak IS NULL THEN 'removed'
        |    WHEN bs IS DISTINCT FROM st THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  count(*) AS n
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin) { (s, d) =>
      val orders = t(s, d, "orders")
      val before = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val after = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"))
      Constraints.snapshotDiff(before, after, Seq("o_orderkey"),
          Seq("o_orderstatus"))
        .orderBy("status")
    },

    // TABLE STATISTICS: the ANALYZE pass a catalog/CBO feeds on —
    // per-column row count, null count, exact NDV, numeric min/max —
    // computed in ONE scan (a single wide aggregate unpivoted to
    // per-column rows), not one scan per column.
    Q("q_audit_stats",
      """WITH a AS (SELECT count(*) AS n,
        |    count(o_orderkey) AS nn1, count(DISTINCT o_orderkey) AS nd1,
        |    CAST(min(o_orderkey) AS DOUBLE) AS mn1,
        |    CAST(max(o_orderkey) AS DOUBLE) AS mx1,
        |    count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS nd2,
        |    CAST(min(o_custkey) AS DOUBLE) AS mn2,
        |    CAST(max(o_custkey) AS DOUBLE) AS mx2,
        |    count(o_totalprice) AS nn3,
        |    count(DISTINCT o_totalprice) AS nd3,
        |    min(o_totalprice) AS mn3, max(o_totalprice) AS mx3,
        |    count(o_orderstatus) AS nn4,
        |    count(DISTINCT o_orderstatus) AS nd4
        |  FROM orders)
        |SELECT 'o_orderkey' AS col_name, n, n - nn1 AS n_null,
        |  nd1 AS ndv, mn1 AS min_v, mx1 AS max_v FROM a
        |UNION ALL SELECT 'o_custkey', n, n - nn2, nd2, mn2, mx2 FROM a
        |UNION ALL SELECT 'o_totalprice', n, n - nn3, nd3, mn3, mx3 FROM a
        |UNION ALL SELECT 'o_orderstatus', n, n - nn4, nd4, NULL, NULL
        |  FROM a
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val a = t(s, d, "orders").agg(
        count(lit(1)).as("n"),
        count(col("o_orderkey")).as("nn1"),
        count_distinct(col("o_orderkey")).as("nd1"),
        min(col("o_orderkey")).cast("double").as("mn1"),
        max(col("o_orderkey")).cast("double").as("mx1"),
        count(col("o_custkey")).as("nn2"),
        count_distinct(col("o_custkey")).as("nd2"),
        min(col("o_custkey")).cast("double").as("mn2"),
        max(col("o_custkey")).cast("double").as("mx2"),
        count(col("o_totalprice")).as("nn3"),
        count_distinct(col("o_totalprice")).as("nd3"),
        min(col("o_totalprice")).as("mn3"),
        max(col("o_totalprice")).as("mx3"),
        count(col("o_orderstatus")).as("nn4"),
        count_distinct(col("o_orderstatus")).as("nd4"))
        // 1-row stats frame, materialized once so the 4-way unpivot
        // union below provably scans orders a single time
        .localCheckpoint(eager = false)
      val rows = Seq(
        ("o_orderkey", "nn1", Some(("nd1", "mn1", "mx1"))),
        ("o_custkey", "nn2", Some(("nd2", "mn2", "mx2"))),
        ("o_totalprice", "nn3", Some(("nd3", "mn3", "mx3"))),
        ("o_orderstatus", "nn4", None))
      rows.map { case (name, nn, rest) =>
        val (nd, mn, mx) = rest match {
          case Some((d0, m0, x0)) => (col(d0), col(m0), col(x0))
          case None => (col("nd4"), lit(null).cast("double"),
            lit(null).cast("double"))
        }
        a.select(lit(name).as("col_name"), col("n"),
          (col("n") - col(nn)).as("n_null"), nd.as("ndv"),
          mn.as("min_v"), mx.as("max_v"))
      }.reduce(_ unionByName _)
        .orderBy("col_name")
    },

    // AUDIT (A21): per-column Shannon entropy + modal share — the
    // degenerate-column detector (a column can pass min/max/ndv while
    // 99.9% of its mass sits on one leaked default). Exact micro-nat
    // integers via one floored ln per DISTINCT value.
    Q("q_audit_entropy", {
      def block(cn: String): String =
        s"""SELECT '$cn' AS col_name, n AS n_rows, nn AS n_null,
           |  nd AS n_distinct,
           |  CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
           |    - sc // n AS entropy_micro,
           |  (cm * 1000) // n AS top_share_milli
           |FROM (SELECT CAST(sum(c) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS nd,
           |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE))
           |      * 1000000) AS BIGINT)) AS BIGINT) AS sc,
           |    CAST(max(c) AS BIGINT) AS cm
           |  FROM (SELECT $cn AS v, CAST(count(*) AS BIGINT) AS c
           |        FROM orders WHERE $cn IS NOT NULL GROUP BY 1)),
           |  (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders
           |   WHERE $cn IS NULL)""".stripMargin
      Seq("o_custkey", "o_orderpriority", "o_orderstatus")
        .map(block).mkString("", "\nUNION ALL ", "\nORDER BY col_name")
    }) { (s, d) =>
      graft.operators.Constraints
        .columnEntropy(t(s, d, "orders"),
          Seq("o_custkey", "o_orderpriority", "o_orderstatus"))
        .orderBy("col_name")
    },

    // AUDIT (A22, Sweeney 2002 / Machanavajjhala 2007): k-anonymity /
    // l-diversity release gate — equivalence classes by the
    // quasi-identifiers (nation, segment), worst-case class size and
    // sensitive-value diversity (acctbal), exact-milli shares of rows
    // in violating classes. The number a dataset release reads before
    // publishing.
    Q("q_audit_k_anonymity",
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS ld
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(sz) AS BIGINT) AS k_anonymity,
        |  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_below_k,
        |  CAST(min(ld) AS BIGINT) AS l_diversity,
        |  CAST(sum(CASE WHEN ld < 8 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_below_l,
        |  CAST((sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) * 1000)
        |    // sum(sz) AS BIGINT) AS below_k_milli,
        |  CAST((sum(CASE WHEN ld < 8 THEN sz ELSE 0 END) * 1000)
        |    // sum(sz) AS BIGINT) AS below_l_milli
        |FROM cls""".stripMargin) { (s, d) =>
      graft.operators.Constraints.kAnonymityReport(
        t(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"),
        "c_acctbal", 10L, 8L)
    },

    // AUDIT (A22b): the suppression list — WHICH equivalence classes
    // violate the k/l targets, with their sizes and diversities; the
    // rows a release suppresses or generalizes.
    Q("q_audit_k_violations",
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS class_size,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_diversity
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, class_size, l_diversity
        |FROM cls WHERE class_size < 10 OR l_diversity < 8
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, d) =>
      graft.operators.Constraints.kAnonymityViolations(
          t(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"),
          "c_acctbal", 10L, 8L)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // LINKAGE (D22): Fellegi-Sunter probabilistic record linkage —
    // nation-blocked pairs over original ∪ perturbed customers,
    // milli log-odds field weights, two-threshold verdicts. The 1500
    // true pairs split 1000 auto-match / 500 clerical band; zero
    // cross-entity pairs clear the lower threshold.
    Q("q_d_linkage",
      """WITH u AS (
        |  SELECT c_custkey AS id, c_nationkey || ':' ||
        |      right(c_name, 1) AS blk, c_name AS name,
        |    c_acctbal AS bal, c_mktsegment AS seg FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_nationkey || ':' ||
        |      right(c_name, 1), c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1.0
        |      ELSE c_acctbal END,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'ALTERED'
        |      ELSE c_mktsegment END
        |  FROM customer),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |    (CASE WHEN a.name IS NULL OR b.name IS NULL THEN 0
        |      WHEN a.name = b.name THEN 4000 ELSE -1000 END
        |    + CASE WHEN a.bal IS NULL OR b.bal IS NULL THEN 0
        |      WHEN a.bal = b.bal THEN 1500 ELSE -400 END
        |    + CASE WHEN a.seg IS NULL OR b.seg IS NULL THEN 0
        |      WHEN a.seg = b.seg THEN 300 ELSE -300 END) AS score_milli
        |  FROM u a JOIN u b ON a.blk = b.blk AND a.id < b.id)
        |SELECT id_a, id_b, CAST(score_milli AS BIGINT) AS score_milli,
        |  CASE WHEN score_milli >= 4000 THEN 'match'
        |    WHEN score_milli <= 0 THEN 'non_match'
        |    ELSE 'possible' END AS verdict
        |FROM p WHERE score_milli > 0
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      // block on (nation, a stable character of the match field) —
      // the fine-blocking discipline the operator's scaladoc requires
      val blk = concat(col("c_nationkey").cast("string"), lit(":"),
        expr("right(c_name, 1)"))
      val dirty = c.select(
        (col("c_custkey") + 1000000L).as("id"),
        blk.as("blk"), col("c_name").as("name"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1.0d)
          .otherwise(col("c_acctbal")).as("bal"),
        when(col("c_custkey") % 5 === 0, lit("ALTERED"))
          .otherwise(col("c_mktsegment")).as("seg"))
      val u = c.select(col("c_custkey").as("id"),
          blk.as("blk"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
        .unionByName(dirty)
      graft.operators.Linkage.linkPairs(u, "id", "blk",
          Seq(("name", 4000L, -1000L), ("bal", 1500L, -400L),
            ("seg", 300L, -300L)),
          upperMilli = 4000L, lowerMilli = 0L, maxBlock = 5000)
        .filter(col("score_milli") > 0)
        .orderBy("id_a", "id_b")
    },

    // LINKAGE (D23): the fuzzy comparator — every %7th duplicate
    // carries a one-char name typo that exact matching would score
    // as disagreement (-1000, dropping it to the clerical band or
    // below); the lev1 comparator absorbs it and all 1500 true pairs
    // still surface. Names are md5-derived so lev1 can't fire across
    // entities (the TPC-H sequential names sit at distance 1 of each
    // other — the classic low-entropy-key trap, spec'd in ScaleSpec).
    Q("q_d_linkage_fuzzy",
      """WITH u AS (
        |  SELECT c_custkey AS id, c_nationkey || ':' ||
        |      substr(md5(c_name), 1, 1) AS blk,
        |    substr(md5(c_name), 1, 12) AS name,
        |    c_acctbal AS bal, c_mktsegment AS seg FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_nationkey || ':' ||
        |      substr(md5(c_name), 1, 1),
        |    CASE WHEN c_custkey % 7 = 0
        |      THEN substr(md5(c_name), 1, 12) || 'x'
        |      ELSE substr(md5(c_name), 1, 12) END,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1.0
        |      ELSE c_acctbal END,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'ALTERED'
        |      ELSE c_mktsegment END
        |  FROM customer),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |    (CASE WHEN a.name IS NULL OR b.name IS NULL THEN 0
        |      WHEN levenshtein(a.name, b.name) <= 1 THEN 4000
        |      ELSE -1000 END
        |    + CASE WHEN a.bal IS NULL OR b.bal IS NULL THEN 0
        |      WHEN a.bal = b.bal THEN 1500 ELSE -400 END
        |    + CASE WHEN a.seg IS NULL OR b.seg IS NULL THEN 0
        |      WHEN a.seg = b.seg THEN 300 ELSE -300 END) AS score_milli
        |  FROM u a JOIN u b ON a.blk = b.blk AND a.id < b.id)
        |SELECT id_a, id_b, CAST(score_milli AS BIGINT) AS score_milli,
        |  CASE WHEN score_milli >= 4000 THEN 'match'
        |    WHEN score_milli <= 0 THEN 'non_match'
        |    ELSE 'possible' END AS verdict
        |FROM p WHERE score_milli > 0
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val cleanName = substring(md5(col("c_name")), 1, 12)
      // the typo is APPENDED, so the name's first char is a stable
      // blocking proxy of the fuzzy field — fine blocks, no recall loss
      val blk = concat(col("c_nationkey").cast("string"), lit(":"),
        substring(md5(col("c_name")), 1, 1))
      val u = c.select(col("c_custkey").as("id"),
          blk.as("blk"), cleanName.as("name"),
          col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
        .unionByName(c.select(
          (col("c_custkey") + 1000000L).as("id"),
          blk.as("blk"),
          when(col("c_custkey") % 7 === 0, concat(cleanName, lit("x")))
            .otherwise(cleanName).as("name"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1.0d)
            .otherwise(col("c_acctbal")).as("bal"),
          when(col("c_custkey") % 5 === 0, lit("ALTERED"))
            .otherwise(col("c_mktsegment")).as("seg")))
      graft.operators.Linkage.linkPairsBy(u, "id", "blk",
          Seq(("name", "lev1", 4000L, -1000L),
            ("bal", "exact", 1500L, -400L),
            ("seg", "exact", 300L, -300L)),
          upperMilli = 4000L, lowerMilli = 0L, maxBlock = 5000)
        .filter(col("score_milli") > 0)
        .orderBy("id_a", "id_b")
    },

    // PRODUCT QUANTIZATION: encode 64-dim float vectors as 4 codes
    // (one per 16-dim subspace, L2-nearest codeword from the seed
    // codebook). Codes + per-subspace residual distances emitted as
    // scalar rows; the ordered squared-diff folds make the doubles
    // bit-identical across engines.
    Q("q_v_pq_codes",
      """WITH seeds AS (SELECT vec_id AS cid, embedding AS v
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |cb AS (SELECT CAST(s.range AS BIGINT) AS sub, cid,
        |    v[CAST(s.range*16+1 AS INTEGER):CAST(s.range*16+16 AS INTEGER)]
        |      AS cv
        |  FROM seeds, range(0, 4) s),
        |sl AS (SELECT vec_id, CAST(s.range AS BIGINT) AS sub,
        |    embedding[CAST(s.range*16+1 AS INTEGER):
        |      CAST(s.range*16+16 AS INTEGER)] AS sv
        |  FROM embeddings, range(0, 4) s),
        |d AS (SELECT vec_id, sl.sub, cid,
        |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
        |      list_transform(range(1, 17), i ->
        |        (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |        * (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))),
        |      (a, b) -> a + b) AS dist
        |  FROM sl JOIN cb ON cb.sub = sl.sub),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, cid) AS rn FROM d)
        |SELECT vec_id, sub, cid AS code, dist FROM r WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin) { (s, d) =>
      // the session-shared PQ code table (Vectors.pqEnc8) — the same
      // encoded corpus the ADC and IVF+PQ queries consume
      Vectors.pqEnc8(s, d)
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("code"), col("dist"))
        .orderBy("vec_id", "sub")
    },

    // PQ ADC SEARCH: top-10 by asymmetric distance for query vec 0 —
    // the scan side touches only (id, sub, code) rows; distances come
    // from the broadcast m x k lookup table, folded in subspace order
    // for bit parity.
    Q("q_v_pq_adc",
      """WITH seeds AS (SELECT vec_id AS cid, embedding AS v
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |cb AS (SELECT CAST(s.range AS BIGINT) AS sub, cid,
        |    v[CAST(s.range*16+1 AS INTEGER):CAST(s.range*16+16 AS INTEGER)]
        |      AS cv
        |  FROM seeds, range(0, 4) s),
        |sl AS (SELECT vec_id, CAST(s.range AS BIGINT) AS sub,
        |    embedding[CAST(s.range*16+1 AS INTEGER):
        |      CAST(s.range*16+16 AS INTEGER)] AS sv
        |  FROM embeddings, range(0, 4) s),
        |d AS (SELECT vec_id, sl.sub, cid,
        |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
        |      list_transform(range(1, 17), i ->
        |        (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |        * (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))),
        |      (a, b) -> a + b) AS dist
        |  FROM sl JOIN cb ON cb.sub = sl.sub),
        |enc AS (SELECT vec_id, sub, cid AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
        |lut AS (SELECT d.sub, d.cid AS code, d.dist AS ld FROM d
        |  WHERE d.vec_id = 0),
        |sc AS (SELECT enc.vec_id,
        |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
        |      list(lut.ld ORDER BY enc.sub)), (a, b) -> a + b)
        |      AS adc_dist
        |  FROM enc JOIN lut ON lut.sub = enc.sub
        |    AND lut.code = enc.code
        |  GROUP BY enc.vec_id)
        |SELECT vec_id, adc_dist FROM sc
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.pqAdcTopK(
          Vectors.pqEnc8(s, d),
          Vectors.pqCb8(s, d),
          emb.filter(col("vec_id") === 0)
            .select(col("embedding").as("qvec")),
          "vec_id", 4, 16, 10)
    },

    // SCD TYPE 2: change stream -> validity intervals. Consecutive
    // equal values compress away (null-safe); the open current row
    // keeps valid_to null. One shuffle; the second window reuses the
    // first's exchange.
    Q("q_m9_scd2",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us FROM events),
        |m AS (SELECT *, lag(event_type) OVER w AS prev FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |c AS (SELECT * FROM m WHERE prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_id, event_type, ts_us AS valid_from_us,
        |  lead(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS valid_to_us
        |FROM c ORDER BY user_id, valid_from_us, event_id""".stripMargin) {
      (s, d) =>
      Merge.scd2Intervals(
          events(s, d).select(col("user_id"), col("event_id"),
            col("event_type"), unix_micros(col("ts")).as("ts_us")),
          Seq("user_id"), "ts_us", "event_id", "event_type")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"))
        .orderBy("user_id", "valid_from_us", "event_id")
    },

    // SKEW: salted join semantics — sharding the big side on a
    // deterministic salt and exploding the small side x salts must be
    // row-equal to the plain join (the oracle IS the plain join).
    Q("q_skew_salted_join",
      """SELECT o_orderkey, o_custkey, c_name FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Skew.saltedJoin(
          t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")
            .as("c_custkey")),
          t(s, d, "customer").select(col("c_custkey"), col("c_name")),
          "c_custkey", salts = 8,
          fingerprintCols = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("c_custkey").as("o_custkey"),
          col("c_name"))
        .orderBy("o_orderkey")
    },

    // SKEW: the hot-key report that decides whether a join needs the
    // salting above — top keys by row count with their table share
    // in integer millis (share x reducers tells you if one partition
    // would straggle). Grand total rides along as a broadcast 1-row
    // frame, never a global window.
    Q("q_skew_report",
      """WITH c AS (SELECT l_suppkey, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c)
        |SELECT l_suppkey, CAST(c.n AS BIGINT) AS n,
        |  CAST(c.n * 1000 // t.tot AS BIGINT) AS share_milli
        |FROM c, t ORDER BY n DESC, l_suppkey LIMIT 20""".stripMargin) {
      (s, d) =>
      Skew.skewReport(t(s, d, "lineitem"), "l_suppkey", 20)
    },

    // STREAMING (batch-equivalent): first-occurrence dedup per
    // (user, event_type). The same rows through MemoryStream +
    // watermark + dropDuplicates give the same output — asserted in
    // StreamingSpec; this is the bounded-state streaming dedup that
    // replaces a full-history distinct at scale.
    Q("q_st_dedup_first",
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id,
        |    event_type ORDER BY ts, event_id) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      StreamOps.batchFirstPerKey(events(s, d),
          Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"),
          epochUs(col("ts")).as("ts_us"))
        .orderBy("user_id", "event_type")
    },

    // STREAMING (batch-equivalent): stream-stream interval join —
    // purchases within 1 hour of a view by the same user. Over
    // streams both sides are watermarked so join state stays bounded;
    // the batch plan is the identical range-predicate equi-join.
    Q("q_st_interval_join",
      """SELECT a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_ts_us, epoch_us(b.ts) AS purchase_ts_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"))
      StreamOps.intervalJoin(views, purchases, "user_id", "ts", "ts",
          "1 HOUR")
        .select(col("view_id"), col("purchase_id"),
          epochUs(col("l_ts")).as("view_ts_us"),
          epochUs(col("r_ts")).as("purchase_ts_us"))
        .orderBy("view_id", "purchase_id")
    },

    // STREAMING (batch-equivalent): LEFT-OUTER interval join — every
    // view, with its purchases within the hour OR null-padded if none
    // ever came. Over streams the null padding is what watermarks
    // buy: the unmatched row emits once no partner can still arrive.
    Q("q_st_interval_left",
      """SELECT a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_ts_us
        |FROM events a LEFT JOIN events b ON a.user_id = b.user_id
        |  AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |WHERE a.event_type = 'view'
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"))
      StreamOps.intervalJoinLeft(views, purchases, "user_id", "ts",
          "ts", "1 HOUR")
        .select(col("view_id"), col("purchase_id"),
          epochUs(col("l_ts")).as("view_ts_us"))
        .orderBy("view_id", "purchase_id")
    },

    // GRAPH: per-node triangle counts over the part co-occurrence
    // graph (parts sharing an order). Canonical ordered wedges count
    // each triangle once; the degree cap (128) drops hub parts BEFORE
    // wedge generation — wedge volume is sum(deg²), so at corpus
    // scale an uncapped hub is the whole job (see Graph.triangleCounts).
    Q("q_g_triangles",
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
        |  GROUP BY node),
        |keep AS (SELECT node FROM deg WHERE deg <= 128),
        |e AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM keep)
        |    AND v IN (SELECT node FROM keep)),
        |tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |  FROM e ab JOIN e bc ON ab.v = bc.u
        |  WHERE EXISTS (SELECT 1 FROM e ac
        |    WHERE ac.u = ab.u AND ac.v = bc.v))
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
      coTriangles(s, d).orderBy("node")
    },

    // GRAPH: truncated k-CORE (Seidman 1983) over the same capped
    // co-occurrence graph — iteratively peel nodes of degree < 48
    // until the fixpoint (the peel cascades 6 rounds deep at this
    // scale; the oracle replays 8 synchronous rounds, the extra two
    // provably no-ops). The surviving kernel is the
    // densely-interlinked hub set a link-graph audit extracts.
    Q("q_g_kcore", kCoreOracle(48, 8)) { (s, d) =>
      Graph.kCoreOfCanonical(coEdges(s, d), 48, 8).orderBy("node")
    },

    // GRAPH: neighborhood-Jaccard link scoring (Liben-Nowell 2003)
    // over the same capped co-occurrence graph — wedge-generated
    // candidates (never |V|²), exact integer milli scores, ≥100
    // milli survivors; is_edge splits link-prediction reads from
    // near-twin-node dedup reads of the same frame.
    Q("q_g_link_jaccard",
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg0 AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY node),
        |keep AS (SELECT node FROM deg0 WHERE deg <= 128),
        |e AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM keep)
        |    AND v IN (SELECT node FROM keep)),
        |adj AS (SELECT u AS n, v AS w FROM e
        |  UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT n, count(*) AS deg FROM adj GROUP BY n),
        |cand AS (SELECT x.n AS a, y.n AS b, count(*) AS common
        |  FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
        |  GROUP BY 1, 2),
        |j AS (SELECT a, b, CAST(common AS BIGINT) AS common,
        |    CAST(da.deg AS BIGINT) AS deg_a,
        |    CAST(db.deg AS BIGINT) AS deg_b,
        |    CAST(1000 * common // (da.deg + db.deg - common) AS BIGINT)
        |      AS jaccard_milli
        |  FROM cand JOIN deg da ON da.n = cand.a
        |    JOIN deg db ON db.n = cand.b)
        |SELECT j.*, CAST(CASE WHEN e.u IS NULL THEN 0 ELSE 1 END
        |  AS BIGINT) AS is_edge
        |FROM j LEFT JOIN e ON e.u = j.a AND e.v = j.b
        |WHERE jaccard_milli >= 100
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      Graph.neighborJaccard(coEdges(s, d), minMilli = 100L)
        .withColumn("common", col("common").cast("long"))
        .withColumn("deg_a", col("deg_a").cast("long"))
        .withColumn("deg_b", col("deg_b").cast("long"))
        .withColumn("is_edge", col("is_edge").cast("long"))
        .orderBy("a", "b")
    },

    // GRAPH: label-propagation communities (Raghavan 2007) over the
    // same capped co-occurrence graph — 4 synchronous most-frequent-
    // neighbor-label rounds with min-label tie-breaks, so every
    // update is a pure function of the previous labeling; the oracle
    // UNROLLS the rounds as chained CTEs (kCore's replay discipline)
    // and grades each node's final community id exactly.
    Q("q_g_lpa",
      lpaChain(4) +
        """
          |SELECT node, CAST(lbl AS BIGINT) AS community
          |FROM l_4 ORDER BY node""".stripMargin) { (s, d) =>
      lpaLabels(s, d).orderBy("node")
    },

    // GRAPH: Newman–Girvan modularity of that LPA labeling — exact
    // integer rationals (num = Σ_c 4·m·e_c − d_c², den = 4m²,
    // DECIMAL(38,0) sums so d_c² can't wrap), reported as a signed
    // truncated milli. The one-row score that says whether the
    // communities beat a degree-preserving random rewiring.
    Q("q_g_modularity",
      lpaChain(4) +
        """,
          |mm AS (SELECT count(*) AS m FROM e),
          |deg AS (SELECT n, count(*) AS d FROM adj GROUP BY 1),
          |dc AS (SELECT l.lbl, sum(d.d) AS dc FROM l_4 l
          |  JOIN deg d ON d.n = l.node GROUP BY 1),
          |ec AS (SELECT lu.lbl, count(*) AS ec FROM e
          |  JOIN l_4 lu ON lu.node = e.u
          |  JOIN l_4 lv ON lv.node = e.v
          |  WHERE lu.lbl = lv.lbl GROUP BY 1),
          |per AS (SELECT dc.lbl, dc.dc, coalesce(ec.ec, 0) AS ec
          |  FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl),
          |agg AS (SELECT count(*) AS n_communities,
          |    sum(4 * (SELECT m FROM mm) * ec - dc * dc) AS num
          |  FROM per)
          |SELECT CAST((SELECT m FROM mm) AS BIGINT) AS m,
          |  CAST(n_communities AS BIGINT) AS n_communities,
          |  CAST(CASE WHEN num >= 0
          |    THEN (num * 1000) // (4 * (SELECT m FROM mm)
          |      * (SELECT m FROM mm))
          |    ELSE -(((0 - num) * 1000) // (4 * (SELECT m FROM mm)
          |      * (SELECT m FROM mm))) END AS BIGINT) AS q_milli
          |FROM agg""".stripMargin) { (s, d) =>
      Graph.modularityOf(coEdges(s, d), lpaLabels(s, d))
    },

    // GRAPH: local clustering coefficient (integer millis) over the
    // same capped co-occurrence graph — degree and triangles measured
    // on the SAME graph, ratio in exact integer arithmetic.
    Q("q_g_clustering",
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |dg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
        |  GROUP BY node),
        |keep AS (SELECT node FROM dg WHERE deg <= 128),
        |e AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM keep)
        |    AND v IN (SELECT node FROM keep)),
        |d2 AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY node),
        |tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |  FROM e ab JOIN e bc ON ab.v = bc.u
        |  WHERE EXISTS (SELECT 1 FROM e ac
        |    WHERE ac.u = ab.u AND ac.v = bc.v)),
        |nt AS (SELECT node, count(*) AS n_tri FROM (
        |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT nt.node, CAST(d2.deg AS BIGINT) AS deg,
        |  CAST(nt.n_tri AS BIGINT) AS n_tri,
        |  CAST(nt.n_tri * 2000 // (d2.deg * (d2.deg - 1)) AS BIGINT)
        |    AS cc_milli
        |FROM nt JOIN d2 ON d2.node = nt.node
        |ORDER BY nt.node""".stripMargin) { (s, d) =>
      val e = coEdges(s, d)
      val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      coTriangles(s, d).join(deg, Seq("node"))
        .select(col("node"), col("deg"), col("n_tri"),
          expr("n_tri * 2000 div (deg * (deg - 1))").as("cc_milli"))
        .orderBy("node")
    },

    // STATS: market-basket association — top-20 part pairs by lift
    // (co-occurrence over independence), support >= 3, in exact
    // integer millis. The pair join is bounded by basket size; item
    // totals join back onto the surviving pairs only.
    Q("q_g_pmi",
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT o) AS n_orders FROM b),
        |cnt AS (SELECT p, count(*) AS c FROM b GROUP BY 1),
        |pair AS (SELECT a.p AS pa, b2.p AS pb, count(*) AS cab
        |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |lift AS (SELECT pa, pb, cab,
        |    (cab * (SELECT n_orders FROM n) * 1000)
        |      // (ca.c * cb.c) AS lift_milli
        |  FROM pair JOIN cnt ca ON ca.p = pa JOIN cnt cb ON cb.p = pb)
        |SELECT pa, pb, CAST(cab AS BIGINT) AS cab,
        |  CAST(lift_milli AS BIGINT) AS lift_milli
        |FROM lift ORDER BY lift_milli DESC, pa, pb LIMIT 20""".stripMargin) {
      (s, d) =>
      Graph.cooccurrenceLift(t(s, d, "lineitem"), "l_orderkey",
          "l_partkey", minSupport = 3)
        .orderBy(col("lift_milli").desc, col("pa"), col("pb"))
        .limit(20)
    },

    // JOIN (scale path): bloom pre-filtered equi-join. The filter on
    // the selective dim side is collected (a few KB) and the fact
    // side is pre-filtered by a narrow expression before the join
    // shuffle — no false negatives, so the oracle is the PLAIN join:
    // row-identical results, a fraction of the exchange volume.
    Q("q_j13_bloom_join",
      """SELECT o.o_orderkey, c.c_custkey, c.c_acctbal
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_acctbal > 9000
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      val rich = t(s, d, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_acctbal"))
      Sketches.bloomPreJoin(t(s, d, "orders"), rich,
          "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy("o_orderkey")
    },

    // STREAMING: drain the events firehose into a DAY-PARTITIONED
    // parquet table via the native streaming sink (exactly-once by
    // the sink's _spark_metadata commit log), then aggregate the
    // table that was actually written. The oracle aggregates the
    // source directly — equal iff the partitioned layout lost or
    // duplicated nothing and the partition column round-trips.
    Q("q_st_partitioned_sink",
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        |  count(DISTINCT user_id) AS nu
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val src = s"$d/events.parquet"
      val schema = s.read.parquet(src).schema
      val work = workDir("graft-psink")
      // the file stream source only accepts directories — stage the
      // input file into one
      val srcDir = java.nio.file.Paths.get(work, "source")
      java.nio.file.Files.createDirectories(srcDir)
      java.nio.file.Files.copy(java.nio.file.Paths.get(src),
        srcDir.resolve("part-0.parquet"))
      val toDay: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        df => (df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => df.withColumn("ts", col("ts").cast("timestamp"))
        }).withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val table = StreamOps.streamToPartitionedParquet(
        s, srcDir.toString, schema, toDay, "day", work)
      s.read.parquet(table)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("nu"))
        .orderBy("day")
    },

    // STREAMING (batch-equivalent): stream-static enrichment — the
    // events firehose joins the broadcast customer→nation dimension;
    // no stream state, the fact side never shuffles before the join.
    // Value folded as exact integer cents. Stream/batch parity of the
    // same plan is asserted in ScaleSpec over MemoryStream.
    Q("q_st_static_join",
      """SELECT n.n_name, count(*) AS n_events,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val dim = t(s, d, "customer")
        .join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("user_id"), col("n_name"))
      StreamOps.streamStaticEnrich(events(s, d), dim, Seq("user_id"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy("n_name")
    })
}
