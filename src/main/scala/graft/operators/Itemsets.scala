package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-itemset / association-rule mining — the market-basket
  * family (Agrawal–Srikant a-priori, VLDB '94) specialized to the pair
  * census every co-occurrence analysis actually consumes: which items
  * appear together in a basket more often than independence predicts.
  *
  * Spark-first shape: the a-priori downward-closure prune is ONE
  * item census (vocabulary-sized, broadcast back), so the within-basket
  * self-join only ever sees frequent items — candidate volume is
  * Σ f_b·(f_b−1)/2 over baskets with f_b frequent items each, never
  * |basket|². Everything downstream of the pair census is
  * model-sized. No driver loop, no FP-tree: for pair rules the census
  * IS the algorithm; higher-order itemsets would iterate the same
  * prune-join-census step.
  */
object Itemsets {

  /** Pairwise association rules over `(basketCol, itemCol)` rows.
    *
    * Support threshold is RELATIVE (`minSupportFrac` of distinct
    * baskets, applied as `ceil(frac · nBaskets)`) so one call site
    * scales across corpus sizes; both the item prune and the pair
    * filter use it (downward closure: a pair can only be frequent if
    * both items are).
    *
    * Output, one row per unordered frequent pair (item_a < item_b):
    * `n_a`/`n_b` (basket counts of each item), `pair_n`, and the three
    * classic rule measures on the 1e-6 grid — `support6`
    * (pair_n/nBaskets), `conf_a_b6` (pair_n/n_a — confidence of
    * a ⇒ b; the b ⇒ a direction is the same row with n_b), and
    * `lift6` (pair_n·nBaskets/(n_a·n_b) — >1e6 means positive
    * association). The numerator products stay exact 64-bit integers
    * (counts ≤ 2³¹ keep pair_n·nBaskets well inside long range); the
    * single division lands on the grid.
    *
    * Scale: one distinct pass over (basket, item), one vocabulary-sized
    * item census broadcast back as the a-priori prune, one
    * basket-keyed self-join over pruned rows, one pair-keyed census.
    * The item census and the final rule arithmetic are
    * vocabulary-bounded; the only data-sized shuffles key on basket
    * and pair. */
  def pairAssociations(df: DataFrame, basketCol: String, itemCol: String,
                       minSupportFrac: Double): DataFrame = {
    require(minSupportFrac > 0 && minSupportFrac <= 1,
      "minSupportFrac must be in (0, 1]")
    val d = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()
    val nB = d.agg(countDistinct(col("__b")).as("__nb"))
      .withColumn("__min",
        ceil(lit(minSupportFrac) * col("__nb")).cast("long"))
    // a-priori prune: items below threshold cannot be in a frequent pair
    val freq = d.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(nB))
      .where(col("__n") >= col("__min"))
      .select(col("__i"), col("__n"))
    val pruned = d.join(broadcast(freq), "__i")
      .select(col("__b"), col("__i"), col("__n"))
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
      .agg(count(lit(1)).as("pair_n"))
    rules(freq, pairs, nB)
  }

  /** The rule-arithmetic tail of [[pairAssociations]]: attach item
    * counts to each pair (an inner join, so pairs with an infrequent
    * member drop — downward closure again), apply the pair threshold,
    * and compute the grid measures. `freqItems` is vocabulary-sized →
    * broadcast; `nB` is one row. */
  private[graft] def rules(freqItems: DataFrame, pairCounts: DataFrame,
                           nB: DataFrame): DataFrame =
    pairCounts
      .join(broadcast(freqItems.select(col("__i").as("item_a"),
        col("__n").as("n_a"))), "item_a")
      .join(broadcast(freqItems.select(col("__i").as("item_b"),
        col("__n").as("n_b"))), "item_b")
      .crossJoin(broadcast(nB))
      .where(col("pair_n") >= col("__min"))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("pair_n"),
        round(lit(1e6) * col("pair_n") / col("__nb")).cast("long")
          .as("support6"),
        round(lit(1e6) * col("pair_n") / col("n_a")).cast("long")
          .as("conf_a_b6"),
        round(lit(1e6) * (col("pair_n") * col("__nb")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).cast("long")
          .as("lift6"))

  /** Item–item cosine neighborhoods over binary basket incidence —
    * the item-based collaborative-filtering primitive (Sarwar et al.
    * WWW '01): sim(a, b) = co(a, b) / √(n_a·n_b) on distinct
    * (basket, item) rows, then each item's top-k neighbors. Where
    * [[pairAssociations]] asks "is this pair surprising" (lift),
    * this asks "which items are MOST alike" — the recommender
    * neighborhood, length-normalized so a ubiquitous staple doesn't
    * dominate every list.
    *
    * `minCo` floors the co-count before scoring (a 1-basket
    * coincidence is noise, and at web scale the co ≥ 2 cut kills the
    * long tail of the pair census); ties rank by neighbor id. Emits
    * BOTH directions of each unordered pair so every item gets its
    * full list. √ is IEEE-exact, so the grid cosine replays in any
    * engine.
    *
    * Scale: one distinct pass, one vocabulary-sized item census
    * (broadcast), one basket-keyed self-join (candidate volume
    * Σ f_b(f_b−1)/2 — bounded by basket sizes, not item counts), one
    * pair census, and a per-item window over pair-census-sized rows.
    * Returns (item, nbr, n_item, n_nbr, co, cosine6, rk). */
  def itemCosine(df: DataFrame, basketCol: String, itemCol: String,
                 minCo: Long, k: Int): DataFrame = {
    require(minCo >= 1 && k >= 1, "minCo and k must be >= 1")
    val d = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()
    val cnt = d.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val co = d.as("a")
      .join(d.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("ia"), col("b.__i").as("ib"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val both = co.select(col("ia").as("item"), col("ib").as("nbr"), col("co"))
      .unionAll(co.select(col("ib").as("item"), col("ia").as("nbr"),
        col("co")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item"))
      .orderBy(col("cosine6").desc, col("nbr"))
    both
      .join(broadcast(cnt.select(col("__i").as("item"),
        col("__n").as("n_item"))), "item")
      .join(broadcast(cnt.select(col("__i").as("nbr"),
        col("__n").as("n_nbr"))), "nbr")
      .withColumn("cosine6", round(lit(1e6) * col("co")
        / sqrt(col("n_item").cast("double") * col("n_nbr"))).cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("item"), col("nbr"), col("n_item"), col("n_nbr"),
        col("co"), col("cosine6"), col("rk"))
  }
}
