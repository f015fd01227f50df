package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-sample generator: `runMain graft.ScaleGen <srcSfDir> <outDir>
  * [copies]` — materialize a copies× (default 10×) corpus from an
  * existing testdata directory, for the SCALE.md empirical-scaling
  * sample (sf0.1 × 10 ≈ sf1). Derivation, not synthesis: every copy
  * is the driver's own corpus with
  *
  *  - keys shifted by copy·(max+1) so they stay dense and disjoint,
  *  - text re-vocabularied per copy (every word prefixed `w<i>`), so
  *    copies are dedup-independent shards — each copy reproduces the
  *    original's intra-corpus duplicate structure without creating
  *    cross-copy near-duplicates (10 verbatim copies would grade the
  *    pathological all-duplicates corpus, whose pair counts grow
  *    quadratically instead of linearly),
  *  - names suffixed per copy for the same reason,
  *  - dimension tables (region, nation) and timestamps unchanged —
  *    10× the facts over the same dims and time windows is the shape
  *    a 10× corpus actually has.
  *
  * Copy 0 is the identity, so the source corpus is a subset. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <srcSfDir> <outDir> [copies]")
    val (src, out) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession(32, logLevel = "WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    def t(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def shiftBy(df: DataFrame, keyCols: Seq[String]): Map[String, Long] =
      keyCols.map { c =>
        c -> (df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L)
      }.toMap

    /** copies× union with per-copy column transforms. */
    def fan(df: DataFrame)(per: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until copies).map(i => per(df, i)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] $name done")
    }

    // dims: unchanged
    write(t("region"), "region")
    write(t("nation"), "nation")

    val cust = t("customer")
    val custShift = shiftBy(cust, Seq("c_custkey"))
    write(fan(cust) { (d, i) =>
      d.withColumn("c_custkey",
          col("c_custkey") + lit(i * custShift("c_custkey")))
        .withColumn("c_name",
          if (i == 0) col("c_name")
          else concat(col("c_name"), lit(s"-x$i")))
    }, "customer")

    val supp = t("supplier")
    val suppShift = shiftBy(supp, Seq("s_suppkey"))
    write(fan(supp) { (d, i) =>
      d.withColumn("s_suppkey",
          col("s_suppkey") + lit(i * suppShift("s_suppkey")))
        .withColumn("s_name",
          if (i == 0) col("s_name")
          else concat(col("s_name"), lit(s"-x$i")))
    }, "supplier")

    val part = t("part")
    val partShift = shiftBy(part, Seq("p_partkey"))
    write(fan(part) { (d, i) =>
      d.withColumn("p_partkey",
          col("p_partkey") + lit(i * partShift("p_partkey")))
        .withColumn("p_name",
          if (i == 0) col("p_name")
          else concat(col("p_name"), lit(s"-x$i")))
    }, "part")

    val orders = t("orders")
    val orderShift = shiftBy(orders, Seq("o_orderkey"))
    write(fan(orders) { (d, i) =>
      d.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * orderShift("o_orderkey")))
        .withColumn("o_custkey",
          col("o_custkey") + lit(i * custShift("c_custkey")))
    }, "orders")

    val li = t("lineitem")
    write(fan(li) { (d, i) =>
      d.withColumn("l_orderkey",
          col("l_orderkey") + lit(i * orderShift("o_orderkey")))
        .withColumn("l_partkey",
          col("l_partkey") + lit(i * partShift("p_partkey")))
        .withColumn("l_suppkey",
          col("l_suppkey") + lit(i * suppShift("s_suppkey")))
    }, "lineitem")

    val ev = t("events")
    val evShift = shiftBy(ev, Seq("event_id", "user_id"))
    write(fan(ev) { (d, i) =>
      d.withColumn("event_id",
          col("event_id") + lit(i * evShift("event_id")))
        .withColumn("user_id",
          col("user_id") + lit(i * evShift("user_id")))
    }, "events")

    val docs = t("documents")
    val docShift = shiftBy(docs, Seq("doc_id"))
    write(fan(docs) { (d, i) =>
      val txt =
        if (i == 0) col("text")
        // disjoint per-copy vocabulary: copies shard, never near-dup
        else regexp_replace(col("text"), "(\\S+)", s"w$i$$1")
      d.withColumn("text", txt)
        .withColumn("doc_id",
          col("doc_id") + lit(i * docShift("doc_id")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    val emb = t("embeddings")
    val embShift = shiftBy(emb, Seq("vec_id"))
    write(fan(emb) { (d, i) =>
      d.withColumn("vec_id",
        col("vec_id") + lit(i * embShift("vec_id")))
    }, "embeddings")

    spark.stop()
    println(s"""{"scalegen":"done","src":"$src","out":"$out","copies":$copies}""")
  }
}
