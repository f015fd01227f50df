package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The hot-key cap of every candidate join (dedup buckets and
  * shingles, boilerplate units, graph hubs, linkage blocks, posting
  * lists). A key carried by more than `cap` rows is a template or a
  * stop key, not a signal, and it squares the volume of the join it
  * feeds, so its rows are dropped before that join.
  *
  * The census keeps only the HOT minority, the keys past the cap. At
  * most rows/cap keys qualify, so the set broadcasts, and a hash anti
  * join drops their rows map-side: the stream keeps its single
  * exchange for the join that follows. Testing membership in the rare
  * MAJORITY instead (a semi or inner join against every key at or
  * under the cap) shuffles the stream a second time and exchanges a
  * key-universe-sized build side (`OPTIMIZATION_r18.md` §16).
  *
  * Exact: a broadcast hash anti join has no false drops, so the
  * survivors of `drop(s, over(s, keys, cap), keys)` are precisely the
  * rows with non-null keys whose census is at most `cap`. Null keys
  * always go: every caller either pairs rows on the key next (an
  * equi-join, where a null key matches nothing, or a per-key group
  * that must not gather null keys into one bucket) or has keys that
  * cannot be null. */
object HotKeys {

  /** The key tuples of `df` whose `census` (by default their row
    * count) is greater than `cap`. */
  def over(df: DataFrame, keys: Seq[String], cap: Long,
      census: Column = count(lit(1))): DataFrame =
    df.groupBy(keys.map(col): _*).agg(census.as("__n"))
      .filter(col("__n") > cap)
      .select(keys.map(col): _*)

  /** `stream` without its null keys and without the key tuples in
    * `hot`, which carries exactly the columns `keys`. */
  def drop(stream: DataFrame, hot: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .join(broadcast(hot), keys, "left_anti")
}
