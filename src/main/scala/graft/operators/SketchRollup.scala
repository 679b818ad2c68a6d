package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable distinct-count maintenance via HLL sketches (Apache
  * DataSketches, Spark-native `hll_sketch_agg`/`hll_union_agg`) — the
  * NON-additive companion to [[Incremental.mergeAdditive]]: sums and
  * counts merge by addition, but `count(distinct)` does not, so an
  * incremental weekly/daily rollup that needs distinct customers /
  * parts / sessions per key must either rescan history or keep a
  * mergeable sketch column. This operator keeps the sketch column.
  *
  * The pattern at 100 TB: materialize one sketch per (key, period) —
  * a map-side-combinable aggregate whose state is a few KB per group
  * regardless of cardinality — then answer any distinct-over-range
  * question by merging the period sketches, never rescanning the fact.
  * HLL merge is associative and commutative over the register LOGIC,
  * but DataSketches promotes small sketches between sparse and dense
  * representations at different points along different merge paths, so
  * merge-then-estimate and estimate-of-recompute agree to within the
  * representation boundary (sub-1% on small counts), not bit-exactly —
  * both sit inside the sketch's own ~1.04/√2^lgK error band vs the
  * TRUE distinct, which is the contract `SketchSpec` pins (merge-path
  * agreement ≤1%, true-distinct error ≤5% at lgK=12).
  *
  * Registered as rows-only (q265): sketch binaries and their estimates
  * are engine-specific (DuckDB's HLL is a different implementation),
  * while the exact-distinct twin is plain `count(distinct)` (A3/q09).
  */
object SketchRollup {

  /** One HLL sketch per (keys..., period) over `value`'s distincts —
    * the mergeable building block. lgK=12 ≈ 1.6% relative std error,
    * 4 KB max register state per group. */
  def sketchTable(df: DataFrame, keyCols: Seq[String], periodCol: Column,
                  value: Column, lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col) :+ periodCol.as("period"): _*)
      .agg(hll_sketch_agg(value, lit(lgK)).as("dv_sketch"))

  /** Merge each key's period sketches and estimate the distinct count
    * over the whole covered range — no fact rescan. */
  def distinctOverRange(sketches: DataFrame, keyCols: Seq[String]): DataFrame =
    sketches.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("dv_sketch")))
        .as("approx_distinct"))

  /** Incremental maintenance: fold a delta batch's sketches into the
    * materialized sketch table — union ≡ recompute, by HLL merge
    * semantics (the q193 equivalence, for the non-additive case). */
  def mergeSketches(base: DataFrame, delta: DataFrame,
                    keyCols: Seq[String]): DataFrame =
    base.unionByName(delta)
      .groupBy(keyCols.map(col) :+ col("period"): _*)
      .agg(hll_union_agg(col("dv_sketch")).as("dv_sketch"))

  /** Portable KMV (k-minimum-values) distinct sketch — the
    * fully-oracle-comparable twin of the HLL pair above (Bar-Yossef et
    * al. 2002): hash each value with the portable Lehmer permutation
    * ([[graft.functions.PortableHash.lehmer]] — pure 64-bit arithmetic,
    * bit-identical in any engine) and keep the k smallest DISTINCT
    * hashes per (keys..., period). Two properties HLL lacks here:
    * the state is portable (a sorted BIGINT array, no engine-private
    * registers), and the merge is EXACTLY associative — the global k
    * minima of a union are each inside their part's k minima, so
    * merge-then-estimate equals estimate-of-recompute bit for bit
    * (SketchSpec pins both). Estimator: exact |state| below k (the
    * sketch IS the distinct set there), else (k−1)·M/h₍ₖ₎.
    * Same 100 TB shape as the HLL path: map-side-combinable aggregate,
    * O(k) state per group, range queries merge period sketches without
    * a fact rescan. */
  def kmvSketchTable(df: DataFrame, keyCols: Seq[String], periodCol: Column,
                     value: Column, k: Int = 32): DataFrame =
    df.select(keyCols.map(col) :+ periodCol.as("period") :+
        graft.functions.PortableHash.lehmer(value).as("__h"): _*)
      .groupBy(keyCols.map(col) :+ col("period"): _*)
      // bounded native aggregate — NOT collect_set+slice, whose buffer
      // is the group's FULL distinct set; this one's state is ≤ k longs
      // per group at every point (map side, shuffle, reduce side)
      .agg(graft.expr.MinKDistinctExpr.column(col("__h"), k).as("kmv"))

  /** Mergeable fixed-bin histogram sketch — the portable approximate-
    * QUANTILE companion to the distinct sketches above. Exact
    * percentiles need a per-group sort (or a full-partition window
    * buffer — see the q272 validator's q99), which is the one
    * percentile shape that gets expensive at 100 TB; the mergeable
    * alternative is one map-side-combinable hash aggregate whose state
    * is `bins` longs per (key, period) regardless of row count, after
    * which any quantile over any period range is answered from the
    * sketches alone, never rescanning the fact.
    *
    * Unlike t-digest/KLL (engine-private centroids / random
    * compaction), the fixed-bin histogram is fully portable: bin
    * edges are literals, counts are exact integers, merge is
    * element-wise addition — EXACTLY associative, so merge-then-
    * estimate equals estimate-of-recompute bit for bit (the KMV
    * property, pinned by `HistogramSketchSpec`), and any engine
    * replays the identical estimate (q301 is a full hash-checked
    * oracle). The price is a fixed domain [lo, hi] and an error bound
    * of one bin width instead of a relative-rank guarantee — the
    * right trade for measure columns with known business ranges
    * (quantities, prices, ratios).
    *
    * One row per (keys..., period) with `hist`: bins counts; values
    * below lo clip into bin 0, at/above hi into bin bins−1 (the
    * sketch covers the whole real line, like numpy.clip-then-
    * histogram); NULLs are not counted. */
  def histogramSketchTable(df: DataFrame, keyCols: Seq[String], periodCol: Column,
                           value: Column, lo: Double, hi: Double,
                           bins: Int): DataFrame = {
    require(bins >= 1, "bins must be at least 1")
    require(hi > lo, "hi must exceed lo")
    val width = (hi - lo) / bins
    val v = value.cast("double")
    // explicit null gate: Spark's greatest/least IGNORE null arguments
    // (largest non-null wins), so without it a NULL value would clip
    // into bin 0 instead of dropping
    val bin = when(v.isNotNull, least(lit(bins - 1), greatest(lit(0),
      floor((v - lit(lo)) / lit(width)).cast("int"))))
    val cnts = (0 until bins).map(i =>
      sum(when(bin === i, 1L).otherwise(0L)).as(s"__b$i"))
    df.groupBy(keyCols.map(col) :+ periodCol.as("period"): _*)
      .agg(cnts.head, cnts.tail: _*)
      .select(keyCols.map(col) :+ col("period") :+
        array((0 until bins).map(i => col(s"__b$i")): _*).as("hist"): _*)
  }

  /** Incremental maintenance: fold a delta batch's histogram sketches
    * into the materialized table — element-wise count addition, so
    * union ≡ recompute EXACTLY (integer arithmetic, no representation
    * boundary). Long-form explode keeps the merge a plain hash
    * aggregate; the collect_list buffer is bounded by `bins`. */
  def mergeHistograms(base: DataFrame, delta: DataFrame,
                      keyCols: Seq[String]): DataFrame =
    base.unionByName(delta)
      .select(keyCols.map(col) :+ col("period") :+
        posexplode(col("hist")).as(Seq("__i", "__c")): _*)
      .groupBy(keyCols.map(col) :+ col("period") :+ col("__i"): _*)
      .agg(sum(col("__c")).as("__c"))
      .groupBy(keyCols.map(col) :+ col("period"): _*)
      .agg(transform(array_sort(collect_list(struct(col("__i"), col("__c")))),
        x => x.getField("__c")).as("hist"))

  /** Merge each key's period sketches and estimate quantiles over the
    * whole covered range by linear interpolation inside the selected
    * bin: with N the merged row count and t = q·N the target mass, the
    * estimate lands in the unique non-empty bin whose cumulative count
    * first reaches t, at
    *
    *   est = lo + width · (bin + (t − cum_before) / cnt)
    *
    * rounded to the 4dp grid — every input to the chain is an exact
    * integer count or a literal, so the IEEE chain replays identically
    * cross-engine. Output: keys..., quantile, est_value, n_rows; each
    * q in `qs` must lie in (0, 1]. */
  def quantilesFromHistograms(sketches: DataFrame, keyCols: Seq[String],
                              qs: Seq[Double], lo: Double, hi: Double,
                              bins: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "each quantile must lie in (0, 1]")
    import graft.functions.Funcs.r
    val width = (hi - lo) / bins
    val keys = keyCols.map(col)
    val perBin = sketches
      .select(keys :+ posexplode(col("hist")).as(Seq("bin", "__c")): _*)
      .groupBy(keys :+ col("bin"): _*).agg(sum(col("__c")).as("cnt"))
    val w = Window.partitionBy(keys: _*).orderBy(col("bin"))
    val wAll = Window.partitionBy(keys: _*)
    perBin
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_rows", sum(col("cnt")).over(wAll))
      .select(keys ++ Seq(col("bin"), col("cnt"), col("cum"), col("n_rows")) :+
        explode(array(qs.map(lit(_)): _*)).as("quantile"): _*)
      .withColumn("__t", col("quantile") * col("n_rows"))
      // cum_before < t ≤ cum selects exactly one bin, necessarily
      // non-empty (a zero bin leaves cum unchanged, so the interval
      // (cum_before, cum] is empty there)
      .filter(col("cum") - col("cnt") < col("__t") &&
        col("__t") <= col("cum"))
      .withColumn("est_value", r(lit(lo) + lit(width) *
        (col("bin") + (col("__t") - (col("cum") - col("cnt"))) / col("cnt"))))
      .select(keys ++ Seq(col("quantile"), col("est_value"),
        col("n_rows")): _*)
  }

  /** The count-min rows' pairwise-independent hash family:
    * h_j(x) = ((x mod M31)·A_j + B_j) mod M31, then mod width — pure
    * 64-bit arithmetic (intermediates < 2^62 + 2^31), bit-identical in
    * any engine. A_j/B_j come from the deterministic Lehmer constant
    * stream, so Spark plan and oracle SQL embed the same literals. */
  private[graft] def cmSlot(x: Column, j: Int, width: Int): Column = {
    val a = graft.functions.PortableHash.lehmerLong(1234567L + j)
    val b = graft.functions.PortableHash.lehmerLong(7654321L + j)
    (((x % lit(graft.functions.PortableHash.M31)) * lit(a) + lit(b)) %
      lit(graft.functions.PortableHash.M31)) % lit(width)
  }

  /** Portable count-min frequency sketch, SPARSE long form — the
    * mergeable approximate-COUNT companion completing the sketch trio
    * (KMV ≙ distinct, histogram ≙ quantiles, count-min ≙ frequency):
    * one row per (keys..., period, row j, slot) with the slot's hit
    * count, at most depth·width rows per (key, period) regardless of
    * item cardinality. Built as ONE fixed-buffer hash aggregate —
    * [[graft.expr.CmCountsExpr]] keeps a long[depth·width] per
    * (key, period) and increments `depth` cells per fact row, so each
    * map task ships at most |groups| fixed arrays into the shuffle
    * (the pre-r18 depth-way explode + slot-grain aggregate probed a
    * per-task hash table of up to depth·width·|groups| entries and
    * shuffled one row per touched slot per task: 2.65 s of q302's
    * 2.87 s at sf0.1, CmProbe). The dense array then explodes to the
    * same sparse (row, slot, cnt > 0) rows — counts are exact integers
    * either way, so the output is bit-identical (CmSketchSpec pins it
    * to the explode build, `SketchRollupReference.cmSketchTableExplode`
    * in the test tree). Merge across periods/batches is
    * slot-count ADDITION — exactly associative, so merge ≡ recompute
    * bit for bit and any engine replays the estimate (q302 is a full
    * hash-checked oracle). `item` must be a non-negative integer
    * column (hash strings through [[graft.functions.PortableHash
    * .polyHash]] first; a negative item now raises loudly where the
    * explode form silently emitted a negative slot).
    *
    * The 100 TB shape: the fact streams once through a narrow
    * map + combinable count; any later "how often did item i occur in
    * range R per key" probe joins the merged sketch on (row, slot) —
    * equi-joins only, never rescanning the fact. Standard CM
    * guarantee: estimate ≥ true count always; ≤ true + (e/width)·N
    * with probability 1 − e^−depth. */
  def cmSketchTable(df: DataFrame, keyCols: Seq[String], periodCol: Column,
                    item: Column, depth: Int = 3, width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 2, "depth ≥ 1 and width ≥ 2")
    df.groupBy(keyCols.map(col) :+ periodCol.as("period"): _*)
      .agg(graft.expr.CmCountsExpr.column(item.cast("long"), depth, width)
        .as("__cells"))
      .select(keyCols.map(col) ++ Seq(col("period"),
        explode(col("__cells")).as("__c")): _*)
      .select(keyCols.map(col) ++ Seq(col("period"), col("__c.row").as("row"),
        col("__c.slot").as("slot"), col("__c.cnt").as("cnt")): _*)
  }

  /** Point-estimate probes over the merged range sketch: for each
    * (keys..., item) row of `candidates`, est = min over the depth
    * rows of the item's slot count (absent slot → 0). One equi-join
    * on (keys, row, slot) against the period-merged sketch — the
    * candidate set never touches the fact. Output: keys..., item
    * (under `candidates`' column name), est_count. */
  def cmEstimate(sketches: DataFrame, keyCols: Seq[String],
                 candidates: DataFrame, itemCol: String,
                 depth: Int = 3, width: Int = 512): DataFrame = {
    val keys = keyCols.map(col)
    val merged = sketches.groupBy(keys ++ Seq(col("row"), col("slot")): _*)
      .agg(sum(col("cnt")).as("cnt"))
    val rows = (0 until depth).map(j => struct(lit(j).as("row"),
      cmSlot(col(itemCol).cast("long"), j, width).as("slot")))
    val probes = candidates
      .select(keys :+ col(itemCol) :+ explode(array(rows: _*)).as("__rs"): _*)
      .select(keys ++ Seq(col(itemCol), col("__rs.row").as("row"),
        col("__rs.slot").as("slot")): _*)
    probes.join(merged, keyCols ++ Seq("row", "slot"), "left")
      .groupBy(keys :+ col(itemCol): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** Merge each key's period KMV sketches and estimate the distinct
    * count over the whole range. Output: keys..., n_kept, est_distinct. */
  /** KMV set operations over key PAIRS (Beyer et al., SIGMOD 2007 —
    * distinct-value synopses for multi-set operations): for every
    * (a, b) key pair, the union sketch is the k smallest of the merged
    * supports (the exactly-associative KMV merge), the Jaccard
    * estimate is the fraction of the union's k-support present in
    * BOTH input sketches, and the intersection estimate is
    * J · |A∪B|. Audience-overlap analytics from O(k) state per key:
    * no fact rescan, no data-grain pairwise join — the pair join is
    * SKETCH-grain (|keys|² rows of 2k longs; the inequality join on a
    * dim-sized table is a broadcast loop by construction). Below k
    * the estimates are EXACT (the sketch is the distinct set).
    * Everything is per-row integer/array arithmetic on the portable
    * Lehmer hashes, so a SQL oracle replays it bit for bit. */
  def kmvOverlap(sketches: DataFrame, keyCol: String, k: Int = 32): DataFrame = {
    import graft.functions.Funcs.r
    val m = graft.functions.PortableHash.M31
    val a = sketches.select(col(keyCol).as("key_a"), col("kmv").as("__ka"))
    val b = sketches.select(col(keyCol).as("key_b"), col("kmv").as("__kb"))
    val paired = a.join(b, col("key_a") < col("key_b"))
      .withColumn("__merged", slice(array_sort(array_distinct(
        concat(col("__ka"), col("__kb")))), 1, k))
      .withColumn("__support", size(col("__merged")))
      .withColumn("__inter", size(filter(col("__merged"),
        h => array_contains(col("__ka"), h) && array_contains(col("__kb"), h))))
    val uRaw = when(col("__support") < k, col("__support").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(m.toDouble) /
        element_at(col("__merged"), k).cast("double"))
    val jRaw = col("__inter").cast("double") / col("__support")
    paired.select(col("key_a"), col("key_b"),
      col("__support").cast("long").as("n_support"),
      col("__inter").cast("long").as("n_both"),
      r(uRaw).as("est_union"),
      r(jRaw).as("est_jaccard"),
      r(jRaw * uRaw).as("est_intersection"))
  }

  def kmvDistinctOverRange(sketches: DataFrame, keyCols: Seq[String],
                           k: Int = 32): DataFrame = {
    import graft.functions.Funcs.r
    val m = graft.functions.PortableHash.M31
    sketches.select(keyCols.map(col) :+ explode(col("kmv")).as("__h"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(graft.expr.MinKDistinctExpr.column(col("__h"), k).as("merged"))
      .select(keyCols.map(col) :+
        size(col("merged")).cast("long").as("n_kept") :+
        r(when(size(col("merged")) < k, size(col("merged")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(m.toDouble) /
            element_at(col("merged"), k).cast("double")))
          .as("est_distinct"): _*)
  }
}
