package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Undirected-pair deduplication — the reference's most idiosyncratic
  * operator (SURVEY.md §2.5): (a,b) and (b,a) with the same
  * type/system/score are duplicates; keep the best-scored one.
  *
  * Reference implementation is `~df[cols].apply(frozenset, axis=1)
  * .duplicated()` (ppi_adapter.py:346-363, :561-578, :768-784;
  * drug_adapter.py:1052-1056; disease_adapter.py:1494-1498). We
  * implement the INTENDED semantics — canonical pair ordering +
  * windowed top-1 — not the frozenset accident where {a,b,type}
  * collapses when type == a (documented divergence, SURVEY.md §7.3
  * hard-part 2).
  *
  * Scale: one shuffle on the canonical pair key; the window is a
  * row_number (no full sort of the partition beyond the group).
  */
object PairDedup {

  /** Add canonical pair columns k1 <= k2. */
  def canonicalPair(df: DataFrame, a: String, b: String): DataFrame =
    df.withColumn("k1", least(col(a), col(b)))
      .withColumn("k2", greatest(col(a), col(b)))

  /** Drop reciprocal duplicates keyed by {a,b} + extraKeys, keeping the
    * first row by `order` (e.g. score desc with deterministic
    * tiebreakers — the A1 sort-then-first pattern). */
  def dedupReciprocal(df: DataFrame, a: String, b: String,
                      extraKeys: Seq[String], order: Seq[Column]): DataFrame = {
    val withPair = canonicalPair(df, a, b)
    val w = Window
      .partitionBy((Seq("k1", "k2") ++ extraKeys).map(col): _*)
      .orderBy(order: _*)
    withPair
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Undirected co-occurrence pairs: (k1, k2, n_common) for every pair
    * of numeric keys sharing >= 1 item, k1 < k2, n_common = the number
    * of shared items (>= `minCommon`). The [[pairCounts]] kernel over
    * the distinct (item, key) rows; `preDistinct` says the caller
    * already made them unique (e.g. it distinct-ed and persisted the
    * projection to also derive dfs/totals from the SAME universe), which
    * skips a second full dedup shuffle. `minCommon` filters before the
    * kernel's materialization: co_purchased / bundle_with keep a few
    * thousand rows of a nearly-unique pair-count table (8M rows at
    * sf0.1) that would otherwise be copied whole. */
  def coOccurrencePairs(df: DataFrame, itemCol: String, keyCol: String,
                        maxDf: Long, preDistinct: Boolean = false,
                        minCommon: Long = 1L): DataFrame = {
    val proj = df.select(col(itemCol).as("item"), col(keyCol).cast("long").as("k"))
    pairCounts(if (preDistinct) proj else proj.distinct(), maxDf,
        "coOccurrencePairs") { (counts, _) =>
      if (minCommon > 1L) counts.filter(col("n_common") >= minCommon) else counts
    }
  }

  /** The one pair-counting kernel (AᵀA over a bounded inverted index):
    * every caller that counts the keys two items share goes through it.
    * Input: unique `(item, k: long)` rows. Output: `finish` applied to
    * the (k1, k2, n_common) counts, k1 < k2, materialized once
    * (`localCheckpoint`). Its guards, each decided from the data:
    *  - hot items: a posting is built by the capped aggregator
    *    ([[postings]]), so an item in more than `maxDf` keys holds
    *    O(maxDf) reducer state and is excluded from the pair universe —
    *    counted and logged, never silent. A df-d posting emits
    *    d·(d−1)/2 pairs; one hot item would otherwise go quadratic.
    *  - packed key: the pair count groups on one 62-bit long when both
    *    keys fit 31 bits, on (k1, k2) otherwise ([[countPairs]]).
    * Both come from ONE pass over the persisted postings. `finish`
    * receives the counts and, on request, the hot-item set (`item`
    * column), materialized only when it is non-empty. The postings are
    * released whether the kernel returns or throws. */
  private[graft] def pairCounts(itemKeys: DataFrame, maxDf: Long, caller: String)(
      finish: (DataFrame, () => Option[DataFrame]) => DataFrame): DataFrame = {
    val post = postings(itemKeys, maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val g = post.agg(
        sum(when(col("pl.total") > maxDf, 1L).otherwise(0L)).as("nHot"),
        max(array_max(col("pl.items"))).as("maxK"),
        min(array_min(col("pl.items"))).as("minK")).head()
      val nHot = if (g.isNullAt(0)) 0L else g.getLong(0)
      if (nHot > 0)
        println(s"[$caller] excluded $nHot hot items with df > $maxDf")
      lazy val hot =
        if (nHot == 0) None
        else Some(post.filter(col("pl.total") > maxDf).select(col("item"))
          .localCheckpoint(true))
      val packed = !g.isNullAt(1) && !g.isNullAt(2) &&
        g.getLong(2) >= 0L && g.getLong(1) < (1L << 31)
      finish(countPairs(pairStream(post, maxDf), packed), () => hot)
        .localCheckpoint(true)
    } finally post.unpersist(false)
  }

  /** Kernel step 1: per item, the capped sorted key list `pl` =
    * struct(items, total) (BoundedAggs.cappedLongList, exact df in
    * `total`); items with one key are dropped (they pair with nothing). */
  private[graft] def postings(itemKeys: DataFrame, maxDf: Long): DataFrame = {
    require(maxDf > 0 && maxDf <= Int.MaxValue - 1, s"maxDf out of range: $maxDf")
    itemKeys.groupBy("item")
      .agg(graft.functions.BoundedAggs.cappedLongList(maxDf.toInt)(col("k")).as("pl"))
      .filter(col("pl.total") >= 2)
  }

  /** Kernel step 2: the (k1, k2) stream of every complete posting
    * (df <= maxDf), streamed by PairExprs.UnorderedPairs — no
    * d·(d−1)/2 pair array is materialized per posting (that, not the
    * aggregation, dominated the dense families' CPU: shares_part has
    * postings of ~10^3 suppliers per canonical part). */
  private[graft] def pairStream(post: DataFrame, maxDf: Long): DataFrame =
    post.filter(col("pl.total") <= maxDf)
      .select(graft.functions.PairExprs.unorderedPairs(col("pl.items"))
        .as(Seq("k1", "k2")))

  /** Kernel step 3: (k1, k2, n_common). The pair-count shuffle carries
    * NEARLY-UNIQUE keys (partial aggregation cannot collapse them), so
    * its bytes dominate every caller's shuffle. `packed` (both keys in
    * [0, 2^31), checked against the data by the kernel, never assumed)
    * groups on ONE long instead of two: a third less key bytes and
    * one-word hashing. Bit-identical output either way. */
  private[graft] def countPairs(pairs: DataFrame, packed: Boolean): DataFrame =
    if (packed)
      pairs.select((shiftleft(col("k1"), 32) + col("k2")).as("pk"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n_common"))
        .select(shiftright(col("pk"), 32).as("k1"),
          col("pk").bitwiseAND(lit(0x7fffffffL)).as("k2"),
          col("n_common"))
    else
      pairs.groupBy(col("k1"), col("k2"))
        .agg(count(lit(1)).as("n_common"))
}
