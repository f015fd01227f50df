package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter, JASA 1969) — the
  * entity-resolution discipline for records WITHOUT a shared key:
  * candidate pairs from a blocking key, a per-field agreement score in
  * log-odds (ln(m/u): m = P(agree | same entity), u = P(agree |
  * different entities)), and the two-threshold decision rule — above
  * the upper threshold auto-link, below the lower auto-reject, the
  * band between goes to clerical review. This is the classic
  * complement of the content-dedup ladder: MinHash/SimHash match
  * near-identical TEXT; linkage matches structured records (customer
  * rows, product entries) whose fields individually disagree.
  *
  * Reference context: the reference's import pipeline dedupes on
  * exact natural keys only (/root/reference/utils/importer/ETL.py
  * upsert keys, e.g. master_code at ETL.py:167-203 and SKU at
  * ETL.py:559-595); fuzzy entity resolution exists
  * for the multi-source regime per SURVEY.md §2.12.
  *
  * Weights are CONFIG (milli log-odds per field, agreement and
  * disagreement) — in production they come from an EM fit (Winkler
  * 1988) or are hand-set from known m/u rates; taking them as inputs
  * keeps the operator deterministic and oracle-checkable. Missing
  * values contribute ZERO (no evidence either way — the standard
  * convention), so the score is a sum of int64 millis: exact on any
  * engine.
  *
  * Scale shape: one shuffle on the blocking key; block sizes are
  * capped (a block of B rows yields B² pairs — an over-coarse block
  * is a config error, not a reason to melt the cluster), and the
  * pair fan-out happens AFTER the cap (a [[HotKeys]] anti join).
  * Nothing all-pairs.
  * Multi-pass blocking (union of several blocking keys — standard
  * recall insurance) composes by unioning calls and re-aggregating
  * max score per pair.
  */
object Linkage {

  /** One field comparison: (column, agreeMilli, disagreeMilli).
    * agreeMilli ≈ 1000·ln(m/u) > 0; disagreeMilli ≈
    * 1000·ln((1−m)/(1−u)) < 0. */
  type FieldWeight = (String, Long, Long)

  /** One comparator-typed field: (column, mode, agreeMilli,
    * disagreeMilli). mode ∈ exact | lev1 (agreement = Levenshtein
    * distance ≤ 1 — the single-typo tolerance that is the usual
    * reason probabilistic linkage exists at all; codegen'd built-in
    * on both engines). */
  type TypedFieldWeight = (String, String, Long, Long)

  /** Score every within-block unordered pair and classify against the
    * Fellegi-Sunter thresholds. Output: (id_a, id_b, score_milli,
    * verdict ∈ match | possible | non_match), id_a < id_b. */
  def linkPairs(df: DataFrame, idCol: String, blockCol: String,
      fields: Seq[FieldWeight], upperMilli: Long, lowerMilli: Long,
      maxBlock: Int = 1000): DataFrame =
    linkPairsBy(df, idCol, blockCol,
      fields.map { case (c, a, d) => (c, "exact", a, d) },
      upperMilli, lowerMilli, maxBlock)

  /** [[linkPairs]] with per-field comparator modes. Fuzzy modes only
    * change the AGREEMENT PREDICATE — the weight algebra, the null
    * convention, and the decision rule are identical, so the exact
    * and fuzzy paths share every law. Levenshtein runs pair-level
    * inside the block join (never corpus²); fields expected to need
    * it should be short (names, codes — the linkage norm). */
  def linkPairsBy(df: DataFrame, idCol: String, blockCol: String,
      fields: Seq[TypedFieldWeight], upperMilli: Long,
      lowerMilli: Long, maxBlock: Int = 1000): DataFrame = {
    require(fields.nonEmpty, "linkPairs needs at least one field")
    val badMode = fields.map(_._2).filterNot(Set("exact", "lev1"))
    require(badMode.isEmpty, s"unknown comparator mode: $badMode")
    require(upperMilli >= lowerMilli,
      s"upper ($upperMilli) must be >= lower ($lowerMilli)")
    val cols = Seq(idCol) ++ fields.map(_._1)
    val base = df.select(col(blockCol).as("__blk") +:
      cols.map(c => col(c)): _*)
    val kept = HotKeys.drop(base,
      HotKeys.over(base, Seq("__blk"), maxBlock), Seq("__blk"))
    def side(tag: String) = kept.select(col("__blk") +:
      cols.map(c => col(c).as(s"${c}_$tag")): _*)
    val score = fields.map { case (c, mode, agree, disagree) =>
      val agrees = mode match {
        case "exact" => col(s"${c}_a") === col(s"${c}_b")
        case "lev1" =>
          // EXACT prefilter before the DP: a single edit leaves
          // either the first k = ⌊(n−1)/2⌋ chars or the last
          // n−1−k chars intact (n = min length; edit at position
          // p ≥ k keeps the prefix, p < k keeps a suffix of length
          // ≥ n−k > n−1−k). Random pairs die on two cheap substring
          // compares; the O(len²) levenshtein runs only on
          // survivors. codegen And short-circuits, so this is a
          // per-row guard, not a separate pass.
          val a = col(s"${c}_a").cast("string")
          val b = col(s"${c}_b").cast("string")
          val la = length(a)
          val lb = length(b)
          val n = least(la, lb)
          val k = ((n - lit(1)) / lit(2)).cast("int")
          val m = n - lit(1) - k
          val cheap = n <= 1 ||
            a.substr(lit(1), k) === b.substr(lit(1), k) ||
            a.substr(la - m + 1, m) === b.substr(lb - m + 1, m)
          // thresholded levenshtein: banded DP O(len·1) with -1 past
          // the threshold, so the guard's survivors pay a linear
          // confirm instead of the full O(len²) matrix
          abs(la - lb) <= 1 && cheap && levenshtein(a, b, 1) >= 0
      }
      when(col(s"${c}_a").isNull || col(s"${c}_b").isNull, lit(0L))
        .when(agrees, lit(agree))
        .otherwise(lit(disagree))
    }.reduce(_ + _)
    side("a").join(side("b"), Seq("__blk"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .select(col(s"${idCol}_a").as("id_a"),
        col(s"${idCol}_b").as("id_b"), score.as("score_milli"))
      .withColumn("verdict",
        when(col("score_milli") >= upperMilli, lit("match"))
          .when(col("score_milli") <= lowerMilli, lit("non_match"))
          .otherwise(lit("possible")))
  }
}
