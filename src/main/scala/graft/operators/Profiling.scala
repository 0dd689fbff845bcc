package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality profiling and constraint checks — the Deequ-shaped
  * face of the engine: a generic per-column profile and a family of
  * declarative violation counters (uniqueness, referential integrity,
  * value ranges) that a 100 TB ingest runs BEFORE analytics to decide
  * whether a snapshot is fit to process.
  *
  * Scale shape: [[profile]] is ONE scan with per-column aggregates
  * (multi-column exact distinct rides Spark's expand — k× map-side
  * rows for k profiled columns, still one shuffle; swap in the HLL
  * sketch family ([[Sketches]]) when approximate distincts are
  * acceptable at 10¹¹ rows). Each check is one aggregate or one
  * keyed anti-join; nothing ever collects data rows to the driver.
  */
object Profiling {

  /** Per-column profile over `numericCols` ++ `stringCols`: one row
    * per column — row/null/distinct counts, numeric min/max on the
    * 1e-4 integer grid (`min4`/`max4`), string min/max verbatim
    * (`min_s`/`max_s`); the column families not applicable carry null.
    * One pass: every aggregate is computed in a single `agg`, melted
    * to rows with a literal `stack`-shaped explode (no per-column
    * scan, no driver loop over data). */
  def profile(df: DataFrame, numericCols: Seq[String],
              stringCols: Seq[String]): DataFrame = {
    // exact distincts per column via a MELT + one two-level aggregate —
    // NOT k countDistinct() in one agg: that plans as an Expand with
    // one input replica per distinct aggregate (k+1 × the scan on the
    // fact table) and was measured 10× slower than everything else in
    // the bench. The melt emits (column, value-as-string) pairs once,
    // then distinct-counts each column's values in an ordinary
    // two-stage hash aggregate with map-side partials.
    val melted = df.select(explode(array(
      (numericCols ++ stringCols).map { c =>
        struct(lit(c).as("c"),
          col(c).cast("string").as("v"))
      }: _*)).as("p")).select("p.*")
    val distincts = melted.where(col("v").isNotNull)
      .groupBy("c", "v").agg(count(lit(1)).as("__one"))
      .groupBy("c").agg(count(lit(1)).as("n_distinct"))
    profileCore(df, numericCols, stringCols)
      .join(distincts.withColumnRenamed("c", "column"), Seq("column"), "left")
      .select(col("column"), col("n_rows"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min4"), col("max4"), col("min_s"), col("max_s"))
  }

  /** The non-distinct per-column profile rows of [[profile]]. */
  private def profileCore(df: DataFrame, numericCols: Seq[String],
                          stringCols: Seq[String]): DataFrame = {
    require(numericCols.nonEmpty || stringCols.nonEmpty, "no columns")
    val nRows = count(lit(1))
    def nullsOf(c: String) = sum(col(c).isNull.cast("long"))
    val numAggs = numericCols.flatMap { c =>
      Seq(nullsOf(c).as(s"__nn_$c"),
        min(round(col(c).cast("double") * 1e4).cast("long")).as(s"__mn_$c"),
        max(round(col(c).cast("double") * 1e4).cast("long")).as(s"__mx_$c"))
    }
    val strAggs = stringCols.flatMap { c =>
      Seq(nullsOf(c).as(s"__nn_$c"),
        min(col(c)).as(s"__ms_$c"), max(col(c)).as(s"__xs_$c"))
    }
    val aggs = (nRows.as("__n") +: (numAggs ++ strAggs))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows =
      numericCols.map { c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          col(s"__nn_$c").as("n_null"),
          col(s"__mn_$c").as("min4"), col(s"__mx_$c").as("max4"),
          lit(null).cast("string").as("min_s"),
          lit(null).cast("string").as("max_s"))
      } ++ stringCols.map { c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          col(s"__nn_$c").as("n_null"),
          lit(null).cast("long").as("min4"), lit(null).cast("long").as("max4"),
          col(s"__ms_$c").as("min_s"), col(s"__xs_$c").as("max_s"))
      }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Key-uniqueness violations: number of key tuples appearing more
    * than once and the total surplus rows they carry. One keyed
    * aggregate; the violating-keys frame itself is available from the
    * same census when a repair needs it. */
  def uniqueViolations(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_dup_keys"),
        coalesce(sum(col("n") - 1), lit(0L)).as("n_surplus_rows"))

  /** Referential-integrity orphans: child rows whose foreign key has
    * no match in the parent's key column (null FKs are not orphans —
    * they fail a null check, not an FK check). One left-anti join,
    * AQE-broadcast when the parent key set is small. */
  def orphanCount(child: DataFrame, fkCol: String,
                  parent: DataFrame, pkCol: String): DataFrame =
    child.where(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))

  /** Range-violation count: rows with `c` outside [lo, hi] (nulls do
    * not count — they fail a null check instead). */
  def rangeViolations(df: DataFrame, c: String,
                      lo: Double, hi: Double): DataFrame =
    df.agg(sum((col(c).isNotNull &&
        (col(c) < lo || col(c) > hi)).cast("long")).as("n_violations"))

  /** Per-group simple linear regression, closed form — in-engine
    * analytics without MLlib: for INTEGER-valued `xCol`/`yCol`
    * (callers grid-snap first), ONE aggregate per group collects the
    * five exact sufficient statistics (Σx, Σy, Σx², Σxy, Σy² — plain
    * long sums, map-side partials), and slope/intercept/R² assemble
    * as single double ratios of those exact integers (the PMI/BM25
    * idiom: no compounding float error, engines replay bit-equal).
    * slope is emitted ×10⁶ (per-unit-x slopes are small), intercept
    * in y units, R² ×10⁴. Groups with zero x-variance are dropped
    * (slope undefined). The 100 TB shape: nothing beyond the keyed
    * aggregate ever shuffles; the regression itself is arithmetic on
    * |groups| rows. */
  def groupLinFit(df: DataFrame, groupCol: String,
                  xCol: String, yCol: String): DataFrame = {
    val rows = df.select(col(groupCol).as("grp"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val s = rows.groupBy("grp").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / den
    s.where(col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .select(col("grp"), col("n"),
        round(lit(1e6) * slope).cast("long").as("slope6"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double")).cast("long").as("intercept"),
        when(col("n") * col("syy") - col("sy") * col("sy") > 0,
          round(lit(1e4) * num * num / (den * deny)).cast("long"))
          .otherwise(lit(10000L)).as("r2_4"))
  }

  /** Join-key skew census — the salting advisor for [[SkewJoin]]:
    * the top-k heaviest keys with their exact row share (1e-4 grid)
    * and the integer salt factor that would cap a straggler partition
    * at `targetPerTask` rows (⌈n / target⌉ via exact integer
    * arithmetic — both engines agree with no float division). One
    * word-count-shaped census + a 1-row total broadcast + TakeOrdered
    * k; rank is deterministic (n DESC, key ASC). A key with
    * salt_factor 1 needs no salting; this is the report a planner
    * consults BEFORE shuffling 100 TB on an unprofiled key. */
  def skewCensus(df: DataFrame, keyCol: String, k: Int = 10,
                 targetPerTask: Long = 1000000L): DataFrame = {
    require(k >= 1 && targetPerTask >= 1, "bad skew census parameters")
    val freq = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).as("t"))
    freq.crossJoin(broadcast(total))
      .select(col("key").cast("string").as("key"), col("n"),
        round(lit(1e4) * col("n") / col("t")).cast("long").as("share4"),
        floor((col("n") + (targetPerTask - 1L)) / targetPerTask)
          .cast("long").as("salt_factor"))
      .orderBy(col("n").desc, col("key"))
      .limit(k)
  }

  /** Mutual information + chi-square association between two
    * categorical columns — the feature-association screen a curation
    * pipeline runs before trusting a signal ("is source independent of
    * quality bucket?"). One contingency-cell census (the only corpus
    * pass), marginals re-aggregated FROM the cells and broadcast back;
    * per-cell MI/χ² contributions are rounded to fixed-point grids as
    * integers BEFORE the order-free sum (the BM25/NB idiom — ln-ulp
    * and float-summation-order differences between engines are
    * absorbed by part rounding). Returns one row:
    * (n, r, c, mi8, chi2_4, cramers_v4) — mi8 on the 1e-8 nat grid
    * (cell contributions are O(1/cells), so the fine grid keeps small
    * associations visible), Cramér's V from the summed integers.
    *
    * Scale: cost is the census aggregate; everything after lives on
    * r·c cells. Degenerate single-level columns report zero
    * association (min(r−1,c−1) guard). */
  def categoricalAssociation(df: DataFrame, xCol: String,
                             yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val xm = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val ym = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val tot = cells.agg(sum(col("n_xy")).as("n"),
      countDistinct(col("x")).as("r"), countDistinct(col("y")).as("c"))
    val e = col("n_x").cast("double") * col("n_y") / col("n")
    cells.join(broadcast(xm), "x").join(broadcast(ym), "y")
      .crossJoin(broadcast(tot))
      .withColumn("mi_part8",
        round(lit(1e8) * (col("n_xy").cast("double") / col("n"))
          * log(col("n_xy").cast("double") * col("n")
            / (col("n_x").cast("double") * col("n_y")))).cast("long"))
      .withColumn("chi_part4",
        round(lit(1e4) * pow(col("n_xy").cast("double") - e, 2) / e)
          .cast("long"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("mi_part8")).as("mi8"),
        sum(col("chi_part4")).as("chi2_4"))
      .select(col("n"), col("r"), col("c"), col("mi8"), col("chi2_4"),
        when(least(col("r"), col("c")) <= 1, lit(0L))
          .otherwise(round(lit(1e4) * sqrt(
            (col("chi2_4").cast("double") / 1e4)
              / (col("n").cast("double")
                 * (least(col("r"), col("c")) - lit(1L)))))
            .cast("long")).as("cramers_v4"))
  }

  /** Population stability index between two snapshots of a value
    * distribution — THE deployed-model drift metric
    * (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ); rule of thumb: <0.1 stable,
    * >0.25 investigate). Values bin by fixed integer width; the bin
    * spine is the union of both sides, and add-half smoothing keeps
    * one-sided bins finite (the standard PSI practice for empty
    * cells). Per-bin contributions are rounded to the 1e-8 grid as
    * integers before the order-free sum (the NB/BM25 part idiom —
    * identical expression shape in any IEEE engine). Returns one row
    * (n1, n2, n_bins, psi8).
    *
    * Scale: each side collapses to bin cells in one aggregate; the
    * spine join and the part sum live on cells. */
  def psi(df1: DataFrame, df2: DataFrame, valueCol: String,
          binWidth: Long): DataFrame = {
    require(binWidth >= 1, "binWidth must be positive")
    def cells(df: DataFrame, out: String) =
      df.where(col(valueCol).isNotNull)
        .select(floor(col(valueCol) / lit(binWidth)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(out))
    val joined = cells(df1, "n1").join(cells(df2, "n2"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val tot = joined.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
      count(lit(1)).as("nb"))
    val p = (col("n1") + lit(0.5)) / (col("t1") + lit(0.5) * col("nb"))
    val q = (col("n2") + lit(0.5)) / (col("t2") + lit(0.5) * col("nb"))
    joined.crossJoin(broadcast(tot))
      .withColumn("part8",
        round(lit(1e8) * ((p - q) * log(p / q))).cast("long"))
      .groupBy(col("t1"), col("t2"), col("nb"))
      .agg(sum(col("part8")).as("psi8"))
      .select(col("t1").as("n1"), col("t2").as("n2"),
        col("nb").as("n_bins"), col("psi8"))
  }

  /** Exact Pareto point per group — the smallest number of rows (taken
    * largest-first) whose mass reaches `num/den` of the group total:
    * the "what fraction of documents hold 80% of the characters"
    * companion of [[giniByGroup]], reported as both a count and a
    * 1e-4-grid fraction. INTEGER-EXACT throughout: rows collapse to
    * (group, value) cells, a descending cumulative window finds the
    * threshold cell, and the within-cell count is an exact integer
    * ceiling computed as (a − a mod d)/d — no float division anywhere
    * before the final fraction. Returns
    * (grp, n_rows, total, pareto_k, pareto_f4). */
  def paretoPoint(df: DataFrame, groupCol: String, valueCol: String,
                  num: Int = 4, den: Int = 5): DataFrame = {
    require(num >= 1 && den > num, "need 0 < num/den < 1")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v").desc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cells = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("m"))
    val cum = cells
      .withColumn("cmass", sum(col("v") * col("m")).over(wd))
      .withColumn("ccnt", sum(col("m")).over(wd))
    val tot = cells.groupBy("grp")
      .agg(sum(col("v") * col("m")).as("tt"), sum(col("m")).as("n"))
      .where(col("tt") > 0L)
    val cb = col("cmass") - col("v") * col("m")
    val a = lit(num.toLong) * col("tt") - lit(den.toLong) * cb +
      lit(den.toLong) * col("v") - lit(1L)
    val dv = lit(den.toLong) * col("v")
    cum.join(tot, "grp")
      .where(lit(den.toLong) * col("cmass") >= lit(num.toLong) * col("tt")
        && lit(den.toLong) * cb < lit(num.toLong) * col("tt"))
      .select(col("grp"), col("n").as("n_rows"), col("tt").as("total"),
        (col("ccnt") - col("m")
          + ((a - pmod(a, dv)) / dv).cast("long")).as("pareto_k"))
      .withColumn("pareto_f4",
        round(lit(1e4) * col("pareto_k") / col("n_rows")).cast("long"))
  }

  /** Variance explained (η², the one-way ANOVA ratio) by a grouping
    * factor: SS_between / SS_total of a 1e-4-grid value — "how much of
    * quality's spread is just WHICH source it came from". All sums are
    * exact integers; the per-group S²/n terms snap to the 1e-4 grid as
    * integers BEFORE the order-free sum (the part idiom — group
    * summation order can't move the result), and η² is one double
    * ratio at the end. A constant value column reports null. Returns
    * one row (n, eta4). */
  def varianceExplained(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    val rows = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 1e4).cast("long").as("v4"))
    val per = rows.groupBy("g")
      .agg(count(lit(1)).as("n_g"), sum(col("v4")).as("s_g"))
      .select(round(lit(1e4) * (col("s_g").cast("double") * col("s_g")
        / col("n_g"))).cast("long").as("b4"))
      .agg(sum(col("b4")).as("b4sum"))
    val tot = rows.agg(count(lit(1)).as("n"), sum(col("v4")).as("s"),
      sum(col("v4") * col("v4")).as("q"))
    val g4 = round(lit(1e4) * (col("s").cast("double") * col("s")
      / col("n"))).cast("long")
    val sst = lit(10000L) * col("q") - g4
    per.crossJoin(broadcast(tot))
      .select(col("n"),
        when(sst === 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e4) * (col("b4sum") - g4).cast("double")
            / sst.cast("double")).cast("long")).as("eta4"))
  }

  /** Functional-dependency audit for candidate column pairs A → B:
    * the exact violation count (rows outside their determinant
    * value's MODAL dependent class — the minimum repairs to make the
    * FD hold) — the schema-discovery check a profiler runs before
    * trusting a join key or planning normalization. One (A, B) census
    * per pair, then per-A max-class arithmetic; no row leaves the
    * census. Returns one row per pair:
    * (determinant, dependent, n_rows, n_violations, holds). */
  def fdViolations(df: DataFrame,
                   pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one candidate pair")
    pairs.map { case (a, b) =>
      df.groupBy(col(a).as("av"), col(b).as("bv"))
        .agg(count(lit(1)).as("n"))
        .groupBy("av").agg(sum(col("n")).as("ta"), max(col("n")).as("mx"))
        .agg(sum(col("ta")).as("n_rows"),
          sum(col("ta") - col("mx")).as("n_violations"))
        .select(lit(a).as("determinant"), lit(b).as("dependent"),
          col("n_rows"), col("n_violations"),
          (col("n_violations") === 0L).as("holds"))
    }.reduce(_ unionAll _)
  }

  /** k-anonymity census over a quasi-identifier tuple — the
    * re-identification audit beside the PII pattern scan: rows
    * sharing the full QI tuple form an equivalence class; any class
    * smaller than k is a linkage risk. One class census (the only
    * corpus pass), then class-size cells. Returns one row:
    * (n_rows, n_classes, min_class, n_small_classes, n_risk_rows,
    * risk_frac4) — `small` = class size < k. */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty && k >= 1, "need QI columns and k >= 1")
    df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz")).as("n_rows"), count(lit(1)).as("n_classes"),
        min(col("sz")).as("min_class"),
        sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_small_classes"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_risk_rows"))
      .withColumn("risk_frac4",
        round(lit(1e4) * col("n_risk_rows") / col("n_rows")).cast("long"))
  }

  /** Empirical-Bayes rate shrinkage (the Beta-prior method-of-moments
    * recipe every CTR/conversion dashboard runs): per-group binary
    * rates x/n are noisy for small n; fit a pseudo-count prior from
    * the BETWEEN-group spread of naive rates —
    * `k = m(1−m)/var − 1` (clamped ≥ 0) with m the pooled rate and
    * var the population variance of the 1e-6-grid naive rates — and
    * report `shrunk = (x + k·m)/(n + k)`: small groups pull toward
    * the pool, big groups keep their own signal. Degenerate spread
    * (all rates equal, V = 0) short-circuits to the naive rate.
    *
    * Everything before the two scalar divisions is exact integers
    * (rate grid sums in 128-bit decimal — G·Σr6² overflows int64 at
    * ~10⁷ groups), so engines replay bit-equal. One group census +
    * one broadcast-back prior row. Output per group:
    * (grp, n, x, raw6, shrunk6). */
  def ebShrinkRates(df: DataFrame, groupCol: String,
                    successCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("x"))
      .withColumn("raw6",
        floor(lit(1e6) * col("x") / col("n") + lit(0.5)).cast("long"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("x")).as("xx"),
        count(lit(1)).as("gg"),
        sum(col("raw6").cast(dec)).as("s1"),
        sum((col("raw6") * col("raw6")).cast(dec)).as("s2"))
      .withColumn("vv", col("gg").cast(dec) * col("s2")
        - col("s1") * col("s1"))
      .withColumn("m", col("xx").cast("double") / col("nn"))
      .withColumn("vr", col("vv").cast("double")
        / (col("gg").cast("double") * col("gg").cast("double") * lit(1e12)))
      .withColumn("k", when(col("vv") > 0,
          greatest(col("m") * (lit(1.0) - col("m")) / col("vr") - lit(1.0),
            lit(0.0)))
        .otherwise(lit(0.0)))
      .select(col("vv"), col("m"), col("k"))
    g.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("x"), col("raw6"),
        when(col("vv") === 0, col("raw6"))
          .otherwise(floor(lit(1e6)
            * (col("x").cast("double") + col("k") * col("m"))
            / (col("n").cast("double") + col("k")) + lit(0.5))
            .cast("long")).as("shrunk6"))
  }

  /** Weight-of-evidence binning + information value (the
    * credit-scoring standard): equal-frequency bins of a grid value
    * column, and per bin WOE = ln(share-of-positives /
    * share-of-negatives) with the additive IV contribution
    * (g% − b%)·WOE — "how much does this feature separate the label",
    * the univariate screen run before any model. Bins are assigned on
    * the DISTINCT-value cell spine: a cell's whole population lands in
    * the bin of its cumulative MIDPOINT (deterministic under ties and
    * robust to a heavy tied cell straddling a boundary — the endpoint
    * rule would dump it entirely into the later bin); never a global
    * row sort. Counts get add-half smoothing so an
    * empty cell yields a finite WOE rather than ±∞ (the q217 PSI
    * convention). ln is one fixed double shape over exact integers,
    * grid-rounded (the BM25 idiom).
    * Returns one row per bin: (bin, n, n_pos, woe4, iv_part6). */
  def woeIv(df: DataFrame, valueCol: String, labelCol: String,
            bins: Int): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cells = df.select(col(valueCol).as("v"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .withColumn("hi", sum(col("n")).over(w))
    val tot = cells.agg(max(col("hi")).as("nn"))
    val binned = cells.crossJoin(broadcast(tot))
      .withColumn("bin",
        floor((lit(2L) * col("hi") - col("n") - lit(1L)) * bins
          / (lit(2L) * col("nn"))).cast("long") + lit(1L))
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("p")).as("n_pos"))
    val gt = binned.agg(
      (sum(col("n_pos")).cast("double") + lit(0.5) * bins).as("gs_tot"),
      (sum(col("n") - col("n_pos")).cast("double") + lit(0.5) * bins)
        .as("bs_tot"))
    binned.crossJoin(broadcast(gt))
      .withColumn("gsh", (col("n_pos").cast("double") + lit(0.5))
        / col("gs_tot"))
      .withColumn("bsh", ((col("n") - col("n_pos")).cast("double")
        + lit(0.5)) / col("bs_tot"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(lit(1e4) * log(col("gsh") / col("bsh"))).cast("long")
          .as("woe4"),
        round(lit(1e6) * (col("gsh") - col("bsh"))
          * log(col("gsh") / col("bsh"))).cast("long").as("iv_part6"))
  }

  /** Difference-in-differences estimate over a 2×2 (arm × period)
    * design — the causal-readout workhorse when treatment lands at a
    * point in time: DiD = (ȳ_treat,post − ȳ_treat,pre) −
    * (ȳ_ctrl,post − ȳ_ctrl,pre), which cancels both the arms' level
    * difference and the shared time trend that a naive post-only
    * comparison absorbs as "effect". One conditional aggregate
    * produces the eight exact cell integers; the estimate is one
    * fixed double expression over them. `armCol` is 0/1, `postCol`
    * boolean, `valueCol` an integer grid value. Returns one row:
    * (n_c_pre, n_c_post, n_t_pre, n_t_post, the four grid means,
    * did4). */
  def didEstimate(df: DataFrame, armCol: String, postCol: String,
                  valueCol: String): DataFrame = {
    def cell(arm: Int, post: Boolean, what: String) = {
      val m = col(armCol) === arm && col(postCol) === post
      if (what == "n") sum(when(m, 1L).otherwise(0L))
      else sum(when(m, col(valueCol)).otherwise(0L))
    }
    def mean4(s: org.apache.spark.sql.Column,
              n: org.apache.spark.sql.Column) =
      round(lit(1e4) * s.cast("double") / n).cast("long")
    df.agg(
        cell(0, post = false, "n").as("n_c_pre"),
        cell(0, post = true, "n").as("n_c_post"),
        cell(1, post = false, "n").as("n_t_pre"),
        cell(1, post = true, "n").as("n_t_post"),
        cell(0, post = false, "s").as("s_c_pre"),
        cell(0, post = true, "s").as("s_c_post"),
        cell(1, post = false, "s").as("s_t_pre"),
        cell(1, post = true, "s").as("s_t_post"))
      .select(col("n_c_pre"), col("n_c_post"), col("n_t_pre"),
        col("n_t_post"),
        mean4(col("s_c_pre"), col("n_c_pre")).as("mean_c_pre4"),
        mean4(col("s_c_post"), col("n_c_post")).as("mean_c_post4"),
        mean4(col("s_t_pre"), col("n_t_pre")).as("mean_t_pre4"),
        mean4(col("s_t_post"), col("n_t_post")).as("mean_t_post4"),
        round(lit(1e4) * ((col("s_t_post").cast("double") / col("n_t_post")
            - col("s_t_pre").cast("double") / col("n_t_pre"))
          - (col("s_c_post").cast("double") / col("n_c_post")
            - col("s_c_pre").cast("double") / col("n_c_pre"))))
          .cast("long").as("did4"))
  }

  /** CUPED variance reduction (Deng et al., WSDM '13): adjust each
    * experiment subject's metric y by its PRE-period covariate x —
    * y' = y − θ·(x − x̄) with θ = cov(x, y)/var(x) — which removes the
    * between-user variance the randomization already balanced, so the
    * same experiment reads significantly with far fewer subjects. θ
    * and the moments come from exact 128-bit integer sums over the
    * pooled population (products of grid values overflow int64 at
    * ~10⁷ wide-valued users); per-variant adjusted means and the
    * variance-reduction factor ρ² = cov²/(var_x·var_y) are one fixed
    * double shape over those integers. Returns one row per variant:
    * (variant, n, mean_y4, mean_adj4, theta4, var_reduction4). */
  def cuped(df: DataFrame, variantCol: String, xCol: String,
            yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.agg(count(lit(1)).as("n"),
        sum(col(xCol)).as("sx"), sum(col(yCol)).as("sy"),
        sum((col(xCol) * col(xCol)).cast(dec)).as("sxx"),
        sum((col(yCol) * col(yCol)).cast(dec)).as("syy"),
        sum((col(xCol) * col(yCol)).cast(dec)).as("sxy"))
      .withColumn("covn", col("sxy").cast("double")
        - col("sx").cast("double") * col("sy") / col("n"))
      .withColumn("varxn", col("sxx").cast("double")
        - col("sx").cast("double") * col("sx") / col("n"))
      .withColumn("varyn", col("syy").cast("double")
        - col("sy").cast("double") * col("sy") / col("n"))
      .withColumn("theta", col("covn") / col("varxn"))
      .withColumn("mx", col("sx").cast("double") / col("n"))
    val v = df.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n"), sum(col(xCol)).as("vsx"),
        sum(col(yCol)).as("vsy"))
    v.crossJoin(broadcast(g.select(col("theta"), col("mx"),
        col("covn"), col("varxn"), col("varyn"))))
      .select(col("variant"), col("n"),
        round(lit(1e4) * col("vsy").cast("double") / col("n"))
          .cast("long").as("mean_y4"),
        round(lit(1e4) * (col("vsy").cast("double") / col("n")
          - col("theta") * (col("vsx").cast("double") / col("n")
            - col("mx")))).cast("long").as("mean_adj4"),
        round(lit(1e4) * col("theta")).cast("long").as("theta4"),
        round(lit(1e4) * col("covn") * col("covn")
          / (col("varxn") * col("varyn"))).cast("long")
          .as("var_reduction4"))
  }

  /** Quantile normalization across groups (the microarray-era
    * calibration standard): replace each row's value with the CORPUS
    * value at the equivalent rank, so every group ends up with the
    * same marginal distribution — the cross-source score calibration
    * that makes "top 10% by quality" mean the same thing in a feed
    * whose scorer runs hot as in one that runs cold. A row ranked r of
    * m within its group maps to the corpus's nearest-rank quantile at
    * rq = ⌈r·N/m⌉ — all integer arithmetic.
    *
    * Scale shape: the within-group rank is a group-partitioned window
    * (bounded per group); the corpus side is a DISTINCT-value cell
    * spine with cumulative counts (the q212/q275 grid discipline —
    * domain-bounded, never a global row sort), broadcast into a
    * range join (lo < rq ≤ hi) that resolves each target rank to its
    * value. Returns (idCol, grp, v, qnorm). */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col(idCol))
    val wm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    val ranked = df
      .select(col(idCol), col(groupCol).as("grp"), col(valueCol).as("v"))
      .withColumn("r", row_number().over(wg).cast("long"))
      .withColumn("m", count(lit(1)).over(wm))
    val wsp = org.apache.spark.sql.expressions.Window.orderBy(col("sv"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cums = df.groupBy(col(valueCol).as("sv"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hi", sum(col("c")).over(wsp))
      .withColumn("lo", col("hi") - col("c"))
    val tot = cums.agg(max(col("hi")).as("nn"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("rq", floor((col("r") * col("nn") + col("m") - lit(1L))
        / col("m")).cast("long"))
      .join(broadcast(cums.select(col("sv"), col("lo"), col("hi"))),
        col("rq") > col("lo") && col("rq") <= col("hi"))
      .select(col(idCol), col("grp"), col("v"), col("sv").as("qnorm"))
  }

  /** 2-D skyline (Börzsönyi et al., ICDE '01): the Pareto front of
    * rows maximizing `maxCol` while minimizing `minCol` — rows no
    * other row beats on both axes ("biggest AND earliest orders").
    * The naive form is a NOT EXISTS self-join (quadratic); in two
    * dimensions it collapses to one sweep: census rows into distinct
    * (u, t) cells, keep each u's minimum-t cell, then walk u
    * descending keeping cells whose t is STRICTLY below the running
    * minimum over all higher-u cells (ties on either axis are
    * dominated; duplicates of a surviving cell all survive —
    * identical rows don't dominate each other, so the cell's count
    * rides along). Pure integer comparisons on the cell spine —
    * engine-exact.
    *
    * Scale: one cell census (the corpus's only shuffle), a
    * u-partitioned window, then the sweep window over DISTINCT u
    * values — the value-spine discipline (q212/q275): bounded by the
    * measure's domain, never corpus-sized. Returns the skyline cells
    * (u, t, n_rows). */
  def skyline2d(df: DataFrame, maxCol: String, minCol: String): DataFrame =
    skylineOfCells(df.select(col(maxCol).as("u"), col(minCol).as("t"))
      .groupBy(col("u"), col("t")).agg(count(lit(1)).as("n_rows")))

  /** The [[skyline2d]] sweep over a pre-built (u, t, n_rows) cell
    * census — shared with the streaming Pareto store, whose reader
    * merges per-batch cells before sweeping. */
  private[graft] def skylineOfCells(cells: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val perU = cells
      .withColumn("tm", min(col("t")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u"))))
      .where(col("t") === col("tm"))
    perU
      .withColumn("th", min(col("t")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("u").desc)
          .rowsBetween(w.unboundedPreceding, -1)))
      .where(col("th").isNull || col("t") < col("th"))
      .select(col("u"), col("t"), col("n_rows"))
  }

  /** t-closeness audit (Li et al. '07 — the third rung of the
    * k-anonymity / l-diversity ladder): l-diversity counts DISTINCT
    * sensitive values, but a class can hold l values in proportions
    * wildly unlike the corpus (99% 'default' + 1% each of two rare
    * statuses passes l = 3 yet still leaks). Per QI class, the total
    * variation distance between the class's sensitive-value
    * distribution and the GLOBAL one — for categorical values with
    * uniform ground distance, the EMD of the paper reduces to
    * TVD = ½ Σ_v |p_c(v) − p(v)|.
    *
    * Exact rationals throughout: with class size z, corpus size n,
    * per-(class, value) count c_v and global count g_v,
    *   2·n·z·TVD = Σ_{v in class} |c_v·n − g_v·z| + z·(n − Σ_{v in class} g_v)
    * (the second term is the mass of values ABSENT from the class —
    * dropping it is the classic bug; a class missing a common value is
    * just as skewed as one over-representing a rare one). Products run
    * in 128-bit decimal (c·n overflows int64 past ~3·10⁹ rows); the
    * only double is the final grid division. One corpus census, a
    * broadcast value-census join, a class-partitioned window — the
    * corpus never shuffles twice. Returns one row: (n_rows, n_classes,
    * max_tvd4, n_far_classes, n_exposed_rows, exposed_frac4) where a
    * class is "far" when tvd4 > t4. */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
                 sensitiveCol: String, t4: Long): DataFrame = {
    require(qiCols.nonEmpty && t4 >= 0, "need QI columns and t4 >= 0")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cells = df
      .groupBy((qiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val glob = cells.groupBy(col(sensitiveCol).as("sv_g"))
      .agg(sum(col("cnt")).as("gv"))
    val tot = glob.agg(sum(col("gv")).as("nr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiCols.map(col): _*)
    val cls = cells
      .join(broadcast(glob), col(sensitiveCol) === col("sv_g"))
      .crossJoin(broadcast(tot))
      .withColumn("sz", sum(col("cnt")).over(w))
      .groupBy(qiCols.map(col): _*)
      .agg(first(col("sz")).as("sz"), first(col("nr")).as("nr"),
        sum(abs(col("cnt").cast(dec) * col("nr")
          - col("gv").cast(dec) * col("sz"))).as("num_present"),
        sum(col("gv")).as("g_present"))
      .withColumn("num", col("num_present")
        + col("sz").cast(dec) * (col("nr") - col("g_present")))
      .withColumn("tvd4", round(lit(1e4) * col("num").cast("double")
        / (lit(2.0) * col("nr") * col("sz"))).cast("long"))
    cls.agg(sum(col("sz")).as("n_rows"), count(lit(1)).as("n_classes"),
        max(col("tvd4")).as("max_tvd4"),
        sum(when(col("tvd4") > t4, 1L).otherwise(0L)).as("n_far_classes"),
        sum(when(col("tvd4") > t4, col("sz")).otherwise(0L))
          .as("n_exposed_rows"))
      .withColumn("exposed_frac4",
        round(lit(1e4) * col("n_exposed_rows") / col("n_rows")).cast("long"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test — the
    * nonparametric sibling of [[welchT]]: "do the two groups' value
    * DISTRIBUTIONS differ", robust to the heavy tails that wreck a
    * mean-based t. Ranks are midranks over the pooled sample; to stay
    * in integers the DOUBLED rank-sum is used (a midrank is a
    * half-integer: for grid value v with l values strictly below and
    * e values tied, 2·midrank = 2l + e + 1). Then
    *   2·U_a = 2·n_a·n_b + n_a(n_a+1) − 2R_a
    * and the normal approximation with the standard tie correction
    *   Var U = n_a·n_b/12 · ((n+1) − Σ(e³−e)/(n(n−1))),
    *   z = (U_a − n_a·n_b/2)/√Var.
    * Everything through Σ(e³−e) is exact 128-bit integer arithmetic on
    * the distinct-value cell spine (2l·cnt products pass int64 at
    * ~3·10⁹ rows); z4 is one fixed double expression.
    *
    * Scale: one cell census of the corpus, then a cumulative window
    * over the distinct-value spine (values of a bounded-precision
    * metric — the q212 grid discipline; the corpus itself never sorts).
    * Returns one row: (n_a, n_b, r2_a, u2_a, tie3, z4). */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
                   gA: String, gB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cellsRaw = df
      .where(col(groupCol).isin(gA, gB) && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * 1e4).cast("long").as("v4"))
      .groupBy(col("v4"))
      .agg(sum(when(col("grp") === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp") === gB, 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v4"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val spine = cellsRaw
      .withColumn("below", coalesce(sum(col("ca") + col("cb")).over(w),
        lit(0L)))
      .withColumn("e", col("ca") + col("cb"))
    spine.agg(
        sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca").cast(dec)
          * (lit(2L) * col("below") + col("e") + lit(1L))).as("r2_a"),
        sum((col("e") * col("e") * col("e") - col("e")).cast(dec))
          .as("tie3"))
      .withColumn("u2_a",
        lit(2L) * col("n_a").cast(dec) * col("n_b")
          + col("n_a").cast(dec) * (col("n_a") + lit(1L)) - col("r2_a"))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("var_u",
        col("n_a").cast("double") * col("n_b") / 12.0
          * ((col("nn") + lit(1L)).cast("double")
            - col("tie3").cast("double")
              / (col("nn").cast("double") * (col("nn") - lit(1L)))))
      .select(col("n_a"), col("n_b"), col("r2_a"), col("u2_a"), col("tie3"),
        when(col("var_u") > 0.0,
          round(lit(1e4)
            * (col("u2_a").cast("double")
              - col("n_a").cast("double") * col("n_b"))
            / (lit(2.0) * sqrt(col("var_u")))).cast("long"))
          .otherwise(lit(0L)).as("z4"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: the largest gap between
    * the two groups' empirical CDFs — the distribution-shift readout
    * that catches shape changes a rank test summarizes away. On the
    * distinct-value cell spine with inclusive cumulative counts A(v),
    * B(v): D = max_v |A(v)/n_a − B(v)/n_b| = max_v |A(v)·n_b −
    * B(v)·n_a| / (n_a·n_b) — exact 128-bit integers until the one grid
    * division. Also reports the (smallest) value attaining the max, the
    * natural "where did the distributions split" diagnostic.
    * Same census + spine-window shape as [[mannWhitneyU]].
    * Returns one row: (n_a, n_b, d6, at_v4). */
  def ksTwoSample(df: DataFrame, groupCol: String, valueCol: String,
                  gA: String, gB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cells = df
      .where(col(groupCol).isin(gA, gB) && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * 1e4).cast("long").as("v4"))
      .groupBy(col("v4"))
      .agg(sum(when(col("grp") === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp") === gB, 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v4"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val spine = cells
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
    val tot = spine.agg(max(col("cuma")).as("n_a"),
      max(col("cumb")).as("n_b"))
    val gaps = spine.crossJoin(broadcast(tot))
      .withColumn("gap", abs(col("cuma").cast(dec) * col("n_b")
        - col("cumb").cast(dec) * col("n_a")))
    gaps.crossJoin(broadcast(
        gaps.agg(max(col("gap")).as("mg"))))
      .where(col("gap") === col("mg"))
      .groupBy(col("n_a"), col("n_b"), col("gap"))
      .agg(min(col("v4")).as("at_v4"))
      .select(col("n_a"), col("n_b"),
        round(lit(1e6) * col("gap").cast("double")
          / (col("n_a").cast("double") * col("n_b"))).cast("long").as("d6"),
        col("at_v4"))
  }

  /** l-diversity audit (Machanavajjhala et al. '07 — the k-anonymity
    * companion): k-anonymity bounds RE-IDENTIFICATION, but a class
    * whose rows all share one SENSITIVE value leaks the attribute even
    * without identifying the row (the homogeneity attack). Per QI
    * equivalence class, the number of DISTINCT sensitive values; the
    * report counts classes below `l` and the rows they expose.
    * Same one-census shape as [[kAnonymity]] (the class key gains the
    * sensitive column for one extra pre-aggregate), returning one row:
    * (n_rows, n_classes, min_l, n_low_classes, n_exposed_rows,
    * exposed_frac4). */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(qiCols.nonEmpty && l >= 1, "need QI columns and l >= 1")
    val cells = df
      .groupBy((qiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
    val cls = cells.groupBy(qiCols.map(col): _*)
      .agg(sum(col("n")).as("sz"), count(lit(1)).as("lv"))
    cls.agg(sum(col("sz")).as("n_rows"), count(lit(1)).as("n_classes"),
        min(col("lv")).as("min_l"),
        sum(when(col("lv") < l, 1L).otherwise(0L)).as("n_low_classes"),
        sum(when(col("lv") < l, col("sz")).otherwise(0L))
          .as("n_exposed_rows"))
      .withColumn("exposed_frac4",
        round(lit(1e4) * col("n_exposed_rows") / col("n_rows")).cast("long"))
  }

  /** Welch's unequal-variance t statistic for every pair of groups —
    * the significance readout behind the q195 A/B means ("is the
    * difference real or noise"). Each group reduces to three exact
    * sums on the 1e-4 value grid (n, Σv, Σv² — Σv² in 128-bit decimal:
    * grid squares sum past int64 at ~10⁶ wide-valued rows); pairs are
    * assembled group-vs-group from the stats cells (broadcast
    * nested-loop on model-sized frames), and t plus the
    * Welch–Satterthwaite df come from ONE fixed double-expression
    * shape over those integers — deterministic in any IEEE engine.
    * Groups with n < 2 are excluded, pairs with zero pooled variance
    * omitted. Returns (g1, g2, n1, n2, mean1_4, mean2_4, t4, df_w4)
    * with g1 < g2.
    *
    * Scale: the corpus pass is the stats aggregate; everything
    * pairwise happens on |groups|² cells. */
  def welchT(df: DataFrame, groupCol: String,
             valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val s = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * 1e4).cast("long").as("v4"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v4")).as("sv"),
        sum((col("v4") * col("v4")).cast(dec)).as("svv"))
      .where(col("n") >= 2L)
    val a = s.select(col("grp").as("g1"), col("n").as("n1"),
      col("sv").as("sv1"), col("svv").as("svv1"))
    val b = s.select(col("grp").as("g2"), col("n").as("n2"),
      col("sv").as("sv2"), col("svv").as("svv2"))
    def se(n: String, sv: String, svv: String) =
      (col(n).cast("double") * col(svv) - col(sv).cast("double") * col(sv)) /
        (col(n).cast("double") * (col(n) - lit(1L)) * col(n))
    val se1 = se("n1", "sv1", "svv1")
    val se2 = se("n2", "sv2", "svv2")
    val t = (col("sv1").cast("double") / col("n1")
      - col("sv2").cast("double") / col("n2")) / sqrt(se1 + se2)
    val dfW = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (col("n1") - lit(1L)) + se2 * se2 / (col("n2") - lit(1L)))
    a.join(broadcast(b), col("g1") < col("g2"))
      .where(se1 + se2 > 0.0)
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        round(col("sv1").cast("double") / col("n1")).cast("long")
          .as("mean1_4"),
        round(col("sv2").cast("double") / col("n2")).cast("long")
          .as("mean2_4"),
        round(lit(1e4) * t).cast("long").as("t4"),
        round(lit(1e4) * dfW).cast("long").as("df_w4"))
  }

  /** Exact CART decision stump: the single best threshold split of an
    * integer-grid score against a boolean label, scored by Gini-
    * impurity decrease — the one-node tree a pipeline fits to sanity-
    * check "is this signal worth a model" (and the exact building
    * block a boosted/forest trainer would iterate). Candidate
    * thresholds are the distinct score values (split: s < t vs
    * s ≥ t); impurity is RATIONAL arithmetic over exact cumulative
    * counts — division and multiplication only, no libm — so the
    * 1e-4-grid gain is bit-identical in any IEEE engine, unlike
    * entropy gain. Ties on gain resolve to the LARGEST threshold.
    * Returns one row:
    * (n, n_pos, best_thr, best_gain4, n_left, n_right).
    *
    * Scale: one cell census of the corpus, then a cumulative window
    * over the distinct-value cell spine (the q161/q169 grid
    * discipline) — candidate evaluation never touches rows. */
  def decisionStump(df: DataFrame, scoreCol: String,
                    labelCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def imp(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val m = (a + b).cast("double")
      when(a + b === 0L, lit(0.0))
        .otherwise(lit(1.0)
          - (a.cast("double") * a + b.cast("double") * b) / (m * m))
    }
    val cells = df.groupBy(col(scoreCol).as("s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("p"),
        sum(when(!col(labelCol), 1L).otherwise(0L)).as("q"))
      .withColumn("cp", coalesce(sum(col("p")).over(w), lit(0L)))
      .withColumn("cq", coalesce(sum(col("q")).over(w), lit(0L)))
    val tot = cells.agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"))
    val nl = col("cp") + col("cq")
    val nr = (col("n_pos") - col("cp")) + (col("n_neg") - col("cq"))
    val n = (col("n_pos") + col("n_neg")).cast("double")
    val gain = imp(col("n_pos"), col("n_neg")) -
      (nl.cast("double") / n) * imp(col("cp"), col("cq")) -
      (nr.cast("double") / n) * imp(col("n_pos") - col("cp"),
        col("n_neg") - col("cq"))
    cells.crossJoin(broadcast(tot))
      .withColumn("gain4", round(lit(1e4) * gain).cast("long"))
      .withColumn("nl", nl).withColumn("nr", nr)
      .groupBy(col("n_pos"), col("n_neg"))
      .agg(max(struct(col("gain4"), col("s"), col("nl"), col("nr")))
        .as("best"))
      .select((col("n_pos") + col("n_neg")).as("n"), col("n_pos"),
        col("best.s").as("best_thr"), col("best.gain4").as("best_gain4"),
        col("best.nl").as("n_left"), col("best.nr").as("n_right"))
  }

  /** Exact per-group Gini concentration of a nonnegative integer mass
    * column — the Lorenz-curve summary a corpus data card reports
    * ("does 1% of this source's documents hold 50% of its
    * characters?"). Uses the rank-sum identity
    * G = (Σᵢ (2i−n−1)·x₍ᵢ₎) / (n·Σx) evaluated WITHOUT sorting rows:
    * the mass column is already integral, so rows collapse to
    * (group, value) cells and a cumulative-count window over the cell
    * spine assigns every tied value its exact rank block —
    * Σ 2i·x over a cell of m copies of v starting after c rows is
    * v·(2mc + m(m+1)), pure integers (the q169/q161 grid-cell
    * discipline; division-free so both engines stay on exact
    * integers; 128-bit decimals guard the rank-sum product).
    * Returns (grp, n_rows, total, gini4); a one-value group is
    * exactly 0, a group where one row holds everything tends to
    * (n−1)/n. */
  def giniByGroup(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("m"))
      .withColumn("c", coalesce(sum(col("m")).over(w), lit(0L)))
      .select(col("grp"),
        (col("v").cast(dec) * (lit(2L) * col("m") * col("c")
          + col("m") * (col("m") + lit(1L)))).as("u"),
        (col("v").cast(dec) * col("m")).as("t"), col("m"))
      .groupBy(col("grp"))
      .agg(sum(col("m")).as("n"), sum(col("u")).as("s2"),
        sum(col("t")).as("t"))
      .select(col("grp"), col("n").as("n_rows"),
        col("t").cast("long").as("total"),
        round(lit(1e4)
          * (col("s2").cast("double") - (col("n") + lit(1L)).cast("double")
              * col("t").cast("double"))
          / (col("n").cast("double") * col("t").cast("double")))
          .cast("long").as("gini4"))
  }

  /** Benford's-law published reference masses on the 1e-6 grid —
    * round(1e6·log10(1 + 1/d)); hard-coded constants (they sum to
    * exactly 1e6) so both engines compare against the SAME integers
    * instead of trusting two libm log10 implementations to agree. */
  private[graft] val benford6: Seq[(String, Long)] = Seq(
    "1" -> 301030L, "2" -> 176091L, "3" -> 124939L, "4" -> 96910L,
    "5" -> 79181L, "6" -> 66947L, "7" -> 57992L, "8" -> 51153L,
    "9" -> 45757L)

  /** Benford first-digit audit of a positive numeric column — the
    * classic fabricated-data / unit-mixup detector: natural
    * multi-magnitude quantities (prices, populations, file sizes)
    * follow P(d) = log10(1 + 1/d); clerically generated or truncated
    * data does not. Census of the leading digit of ⌊value⌋ with each
    * digit's observed share and deviation on the 1e-6 grid
    * (round-half-up integer division — no float ratios). Returns one
    * row per observed digit: (digit, n, share6, expected6, dev6).
    * One hash aggregate over the column + a 9-row broadcast. */
  def benfordDigits(df: DataFrame, numCol: String): DataFrame = {
    val c = df.where(col(numCol).isNotNull && col(numCol) >= 1)
      .select(substring(floor(col(numCol)).cast("long").cast("string"),
        1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val t = c.agg(sum(col("n")).as("total"))
    val exp = df.sparkSession.createDataFrame(benford6)
      .toDF("digit", "expected6")
    val share6 = expr("(2 * 1000000 * n + total) div (2 * total)")
    c.join(broadcast(exp), Seq("digit"))
      .crossJoin(broadcast(t))
      .select(col("digit"), col("n"), share6.as("share6"),
        col("expected6"), (share6 - col("expected6")).as("dev6"))
  }

  /** Referential-integrity census for one foreign key: child row
    * count, null-key count, and orphan count (non-null keys with no
    * parent — one left-anti join against the parent's key set). The
    * dimension side is a key projection, so the anti-join broadcasts
    * for dimension-sized parents and shuffles key-only frames
    * otherwise. One row: (fk, n_child, n_null, n_orphan); union
    * several for the conformance dashboard. */
  def fkOrphans(name: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame = {
    val c = child.select(col(childKey).as("k"))
    val tot = c.agg(count(lit(1)).as("n_child"),
      coalesce(sum(when(col("k").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_null"))
    val orph = c.where(col("k").isNotNull)
      .join(parent.select(col(parentKey).as("k")).distinct(),
        Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    tot.crossJoin(orph)
      .select(lit(name).as("fk"), col("n_child"), col("n_null"),
        col("n_orphan"))
  }

  /** Tukey-hinge outlier census, all-integer: per group over an
    * integral value column, the lower/upper hinges (Tukey's halves-
    * medians, reported ×2 as in [[exactMedian2]]) and the count of
    * points beyond the 1.5·IQR fences. The fence comparison is cleared
    * of fractions by multiplying through by 4:
    * v < loQ − 1.5·IQR  ⟺  4v < 5·lo2 − 3·hi2 (and symmetrically) —
    * so both engines compare exact integers and no quartile-
    * interpolation convention can drift (Tukey halves are pinned by
    * rank arithmetic alone). Lower half = ranks ≤ ⌊(n+1)/2⌋, upper
    * half = ranks ≥ ⌈(n+1)/2⌉ (both include the median when n is
    * odd). Returns (grp, n, lo_hinge2, hi_hinge2, n_low, n_high).
    * Two windows + two keyed aggregates per group. */
  def tukeyOutliers(df: DataFrame, groupCol: String,
                    valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("__rnd"))
    val ranked = df
      .select(col(groupCol).as("grp"), col(valCol).as("v"))
      .withColumn("__rnd", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w))
      .drop("__rnd")
    val n = ranked.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val withN = ranked.join(n, Seq("grp"))
    // half sizes: nl = ⌊(n+1)/2⌋; the upper half is the mirror, so its
    // member at within-half rank j is global rank n − nl + j
    def halfMedian(flipped: Boolean): DataFrame = {
      val rr = if (flipped) expr("n - rn + 1") else col("rn")
      withN
        .withColumn("hr", rr)
        .where(expr("hr <= (n + 1) div 2"))
        .where(expr("((n + 1) div 2) % 2 = 1 AND hr = ((n + 1) div 2 + 1) div 2" +
          " OR ((n + 1) div 2) % 2 = 0 AND (hr = ((n + 1) div 2) div 2" +
          " OR hr = ((n + 1) div 2) div 2 + 1)"))
        .groupBy(col("grp"))
        .agg((sum(col("v")) *
          when(expr("max((n + 1) div 2) % 2 = 1"), 2).otherwise(1))
          .as(if (flipped) "hi2" else "lo2"))
    }
    val hinges = halfMedian(false).join(halfMedian(true), Seq("grp"))
    withN.join(hinges, Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        max(col("lo2")).as("lo_hinge2"), max(col("hi2")).as("hi_hinge2"),
        sum(when(expr("4 * v < 5 * lo2 - 3 * hi2"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(expr("4 * v > 5 * hi2 - 3 * lo2"), 1L).otherwise(0L))
          .as("n_high"))
  }

  /** Per-group trimmed mean on the integer grid: drop the lowest and
    * highest ⌊n·pct/100⌋ values BY RANK, average the rest with
    * round-half-up integer division (`(2Σ + m) div 2m`). The robust
    * location estimate that survives the fat tails [[tukeyOutliers]]
    * counts. Returns (grp, n, n_trimmed, tmean). */
  def trimmedMean(df: DataFrame, groupCol: String, valCol: String,
                  pct: Int = 5): DataFrame = {
    require(pct >= 0 && pct < 50, "pct must be in [0, 50)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("__rnd"))
    val ranked = df
      .select(col(groupCol).as("grp"), col(valCol).as("v"))
      .withColumn("__rnd", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w))
      .drop("__rnd")
    val n = ranked.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    ranked.join(n, Seq("grp"))
      .where(expr(s"rn > (n * $pct) div 100 AND rn <= n - (n * $pct) div 100"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_trimmed"),
        expr("(2 * sum(v) + count(1)) div (2 * count(1))").as("tmean"))
  }

  /** Exact nearest-rank quantiles per group: for each percentile P the
    * value at rank ⌈n·P/100⌉ — the inversion-free order-statistic
    * definition (no interpolation, so the reported value is always an
    * ACTUAL observation and both engines agree in pure integers;
    * `percentile_approx` is the sketch alternative, q38b). One rank
    * window + one broadcast of the percentile list. Returns
    * (grp, p, n, value) — long format, one row per group × P. */
  def nearestRankQuantiles(df: DataFrame, groupCol: String,
                           valCol: String,
                           ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1, 100]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("__rnd"))
    val ranked = df
      .select(col(groupCol).as("grp"), col(valCol).as("v"))
      .withColumn("__rnd", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w))
      .drop("__rnd")
    val n = ranked.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val pf = df.sparkSession.createDataFrame(ps.map(Tuple1(_))).toDF("p")
    ranked.join(n, Seq("grp"))
      .crossJoin(broadcast(pf))
      .where(expr("rn = (n * p + 99) div 100"))
      .select(col("grp"), col("p").cast("long").as("p"), col("n"),
        col("v").as("value"))
  }

  /** Exact per-group median, division-free: reports `median2` = twice
    * the textbook median (odd n: 2·middle; even n: the sum of the two
    * middle values), keeping everything on exact integers — the
    * interpolation `/2` that makes even-count medians fractional is
    * left to the consumer's display layer. `percentile_approx` is the
    * sketch alternative; this is the exact one for grouped grids
    * (value column must already be integral). One rank window over
    * the group + a filtered sum. */
  def exactMedian2(df: DataFrame, groupCol: String,
                   valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("__rnd"))
    // __rnd makes the ordering total so rn is deterministic; ties in
    // v make the middle SUM independent of their order anyway
    val ranked = df
      .select(col(groupCol).as("grp"), col(valCol).as("v"))
      .withColumn("__rnd", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w))
      .drop("__rnd")
    val n = ranked.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    ranked.join(n, Seq("grp"))
      // `div` (integer division) — Spark's `/` on longs returns double
      .where(expr("(n % 2 = 1 AND rn = (n + 1) div 2) OR " +
        "(n % 2 = 0 AND (rn = n div 2 OR rn = n div 2 + 1))"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        (sum(col("v")) * when(max(col("n")) % 2 === 1, 2).otherwise(1))
          .as("median2"))
  }
}
