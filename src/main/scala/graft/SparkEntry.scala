package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.etl.{Cleaning, Enrichment}
import graft.functions.{Calendar, Funcs}
import graft.functions.Funcs.{r, nanToNull, safeDiv}
import graft.metrics.Metrics
import graft.operators.{AggFeatures, WindowFeatures, SeriesWindow}

/** Driver contract — one registered query per implemented operator family
  * (SURVEY.md §2), each with a DuckDB-equivalent oracle SQL below.
  *
  * Conventions keeping the Spark result hash-identical to the oracle:
  *  - every computed double is rounded multiply-form on BOTH sides:
  *    Spark `Funcs.r` = `round(x*1e4,0)/1e4 + 0.0`, oracle SQL
  *    `round(x*1e4)/1e4 + 0.0e0` — the trailing `+ 0.0` collapses IEEE
  *    -0.0 to +0.0 identically in both engines (the driver hashes bytes,
  *    so a -0.0/+0.0 split is a failure even though `==` says equal);
  *  - Spark IntegerType derivations are cast to long where DuckDB returns
  *    BIGINT (counts, row_number, date_diff) and the SQL casts to INT
  *    where Spark returns int (year/month/flags);
  *  - NaN (zero-variance corr/stddev) is normalized to NULL on the Spark
  *    side, matching DuckDB;
  *  - ordering-sensitive ops pin a unique tiebreaker
  *    (l_shipdate, l_orderkey, l_linenumber).
  */
object SparkEntry {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def part(s: SparkSession, d: String) = Tables.part(s, d)

  /** Session-scoped memo registry for the shared fit tables below
    * (champion family, extended-order bases/board, seasonal fits):
    * the values are series-grain-tiny localCheckpointed DataFrames a
    * sweep reuses across queries, so re-deriving them per query would
    * re-pay the per-series folds (~5-17 s each at sf0.1, measured
    * r10-r12).
    *
    * BOUNDED and EVICTABLE (r12 verdict ask #3 — the previous
    * identityHashCode-keyed unbounded maps pinned checkpointed RDD
    * blocks for the JVM's life in a long-lived multi-session service):
    * at most [[Memos.MaxSessions]] sessions hold entries (LRU by
    * access),
    * eviction UNPERSISTS the evicted session's checkpoint blocks
    * (SparkContext.persistentRdds holds strong references, so merely
    * dropping ours would still pin the blocks forever), and
    * [[SparkEntry.releaseMemos]] evicts a finished session eagerly.
    * An LRU-evicted-but-still-active session simply rebuilds on its
    * next memo miss — only callers holding a pre-eviction frame object
    * across 8 newer sessions would observe missing blocks, which is
    * why the explicit release is the intended lifecycle and the bound
    * the backstop. */
  private object Memos {
    /** The LRU bound on sessions holding entries. */
    val MaxSessions = 8

    private val reg = new java.util.LinkedHashMap[
        SparkSession, java.util.concurrent.ConcurrentHashMap[String, AnyRef]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            java.util.concurrent.ConcurrentHashMap[String, AnyRef]]): Boolean = {
        val evict = size() > MaxSessions
        if (evict) releaseFrames(e.getValue)
        evict
      }
    }

    /** Build-once per (session, slot, sfDir). NOT computeIfAbsent:
      * builders recurse into other slots of the same map (extShared →
      * championShared), which computeIfAbsent forbids — so the build
      * runs UNLOCKED and the post-build insert re-checks registration
      * under the lock: a concurrent put from session N+1 past the bound
      * can LRU-evict THIS session mid-build (releasing its map's blocks
      * and orphaning the map), and the just-built frame must then land
      * in the session's CURRENT registered map — never the orphan,
      * whose other entries are already-released stale frames — or its
      * checkpoint blocks would leak past every release path. A built
      * value that loses the insert race is unpersisted on the spot
      * (every slot builds exclusively fresh localCheckpoints, so the
      * losing duplicate shares no blocks with the winner). */
    def memo[T <: AnyRef](s: SparkSession, slot: String, d: String)(build: => T): T = {
      val m = reg.synchronized {
        var v = reg.get(s)
        if (v == null) { v = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]; reg.put(s, v) }
        v
      }
      val k = slot + "|" + d
      val hit = m.get(k)
      if (hit != null) hit.asInstanceOf[T]
      else {
        val built = build
        val (winner, loser) = reg.synchronized {
          val cur0 = reg.get(s)
          val cur = if (cur0 != null) cur0 else {
            // evicted mid-build: register a fresh map (NOT m — its other
            // entries' blocks were released by the eviction)
            val v = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]
            reg.put(s, v)
            v
          }
          val prev = cur.putIfAbsent(k, built)
          if (prev != null) (prev.asInstanceOf[T], Some(built))
          else (built, None)
        }
        loser.foreach(releaseValue)
        winner
      }
    }

    /** Evict `s` and unpersist every checkpointed frame it memoized
      * (values are DataFrames or tuples of them). Safe after the
      * session is done with the frames; ignores already-stopped
      * contexts. */
    def release(s: SparkSession): Unit = {
      val m = reg.synchronized(reg.remove(s))
      if (m != null) releaseFrames(m)
    }

    private def frames(v: Any): Seq[DataFrame] = v match {
      case df: DataFrame => Seq(df)
      case p: Product => p.productIterator.flatMap(frames).toSeq
      case _ => Seq.empty
    }

    /** Unpersist every checkpointed frame inside one memo value.
      * localCheckpoint blocks are RDD-level storage — released via the
      * plan's LogicalRDDs (Dataset.unpersist only clears CacheManager
      * entries); see GraftSqlBridge.unpersistCheckpoints. */
    private def releaseValue(v: AnyRef): Unit =
      frames(v).foreach { df =>
        try org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoints(df)
        catch { case _: Throwable => () }
      }

    private def releaseFrames(
        m: java.util.concurrent.ConcurrentHashMap[String, AnyRef]): Unit = {
      import scala.jdk.CollectionConverters._
      m.values.asScala.foreach(releaseValue)
    }

    def sessionCount: Int = reg.synchronized(reg.size)
  }

  /** Evict every memoized shared fit table of `s` (champion family,
    * extended-order bases, seasonal fits) and unpersist their
    * checkpoint blocks — call when a session is done with the library
    * in a long-lived multi-session service. Idempotent. */
  def releaseMemos(s: SparkSession): Unit = Memos.release(s)

  /** Test/monitoring probe: how many sessions currently hold memo
    * entries (bounded by the registry's LRU cap). */
  def memoSessionCount: Int = Memos.sessionCount

  /** q259/q267/q286 and the extended-order boards share the
    * eight-member champion family via
    * [[graft.seq.Champion.pickBlendScoreFcs]]: its member table — one
    * row per (series, member) carrying the score and the member's
    * forecasts — is series-grain tiny and localCheckpointed once per
    * (session, sfDir), so a sweep that runs them all pays the eight
    * per-series fits ONCE, in the one series pass that writes the
    * checkpoint (no series checkpoint of its own below it). The four
    * frames (pick, blend, scoreboard, forecast union) are
    * window/explode tails over that one checkpoint, with values
    * identical to the one-plan championForecast/blendForecast/scoreboard
    * paths. */
  private def championShared(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    Memos.memo(s, "champion", d) {
      graft.seq.Champion.pickBlendScoreFcs(weeklyShared(s, d), Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum", h = 4, m = 13)
    }

  /** The weekly supplier grain every shared fit reads (the champion
    * family, the extended bases and the seasonal, MA(3) and AR(5)
    * fits): lineitem aggregated and localCheckpointed ONCE per
    * (session, sfDir), so a sweep running q259 and q299 scans lineitem
    * and shuffles the grain once. */
  private def weeklyShared(s: SparkSession, d: String): DataFrame =
    Memos.memo(s, "weekly", d) {
      Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity")).localCheckpoint(true)
    }

  /** q299/q300/q309 share the extended-order member tables the way the
    * champion trio shares the family's: the fourteen-member board and
    * the full forecast union ([[graft.seq.OrderSearch.extendedFrom]])
    * are series-grain tiny, localCheckpointed once per (session,
    * sfDir), riding the championShared family tables and the memoized
    * member fits (extFitShared, smaShared, sarmaShared) — so a sweep
    * running them pays each extended fit ONCE, shared with
    * q297/q298/q307/q308/q310, and q300 is a pure winner join. */
  private def extShared(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memos.memo(s, "ext", d) {
      val (d2base, a21base, a22base, lastLevel) = extFitShared(s, d)
      val (_, _, famBoard, famFcs) = championShared(s, d)
      val (board, fcs) = graft.seq.OrderSearch.extendedFrom(famBoard, famFcs,
        d2base, a21base, a22base, lastLevel, smaShared(s, d), sarmaShared(s, d),
        weeklyShared(s, d), Seq("l_suppkey"), Seq(col("week_start")), "qty_sum", h = 4, m = 13)
      (board.localCheckpoint(true), fcs.localCheckpoint(true))
    }

  /** The SIXTEEN-member board + forecast union (q336/q337): the
    * extended fourteen (extShared) widened with the promoted ma3/ar5
    * members (r15 verdict optional ask #7 — the parked 3 ≤ p,q ≤ 5
    * probes as board members). Every underlying fit rides an existing
    * memo (extShared, ma3Shared, ywShared), so the widening itself is
    * two series-grain unions + one re-rank
    * ([[graft.seq.OrderSearch.widen]]). */
  private def fullShared(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memos.memo(s, "full", d) {
      val (extBoard, extFcs) = extShared(s, d)
      val (wideScores, wideFcs) = graft.seq.OrderSearch.wideMembersFrom(
        ma3Shared(s, d), ywShared(s, d), weeklyShared(s, d), Seq("l_suppkey"), "qty_sum", h = 4)
      val (board, fcs) = graft.seq.OrderSearch.widen(extBoard, extFcs,
        wideScores, wideFcs, Seq("l_suppkey"))
      (board.localCheckpoint(true), fcs.localCheckpoint(true))
    }

  /** The extended members' expensive state — the three grid-fit bases
    * and the last-level frame ([[graft.seq.OrderSearch.extFitBases]])
    * over [[weeklyShared]] — fit ONCE per (session, sfDir) and
    * shared by q297, q298, q307 and the extended board (extShared): the
    * same memo discipline as championShared, so a sweep running all the
    * extended queries pays the ARMA(2,1), ARMA(2,2) and MA(1)-on-Δ²
    * folds exactly once. Values are identical to the standalone
    * per-query plans (the folds are deterministic over the same
    * checkpointed weekly frame). */
  private def extFitShared(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    Memos.memo(s, "extFit", d) {
      graft.seq.OrderSearch.extFitBases(
        weeklyShared(s, d), Seq("l_suppkey"), Seq(col("week_start")), "qty_sum")
    }

  /** q308's seasonal-MA fit table, fit once per (session, sfDir) over
    * the shared weekly frame ([[weeklyShared]]) so the
    * bench's repeated passes pay the fold exactly once. */
  private def smaShared(s: SparkSession, d: String): DataFrame =
    Memos.memo(s, "sma", d) {
      val weekly = weeklyShared(s, d)
      graft.seq.OrderSearch.sarima011Full(weekly, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum", m = 13).localCheckpoint(true)
    }

  /** q310's joint seasonal ARMA(1,1)-on-seasonal-diffs fit table
    * ([[graft.seq.OrderSearch.sarma11Full]]), fit once per
    * (session, sfDir) — same discipline as [[smaShared]]. */
  private def sarmaShared(s: SparkSession, d: String): DataFrame =
    Memos.memo(s, "sarma", d) {
      val weekly = weeklyShared(s, d)
      graft.seq.OrderSearch.sarma11Full(weekly, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum", m = 13).localCheckpoint(true)
    }

  /** q311's MA(3) grid-probe fit table
    * ([[graft.seq.SequentialKernels.fitMa3Full]]), fit once per
    * (session, sfDir) — same discipline as [[smaShared]]. */
  private def ma3Shared(s: SparkSession, d: String): DataFrame =
    Memos.memo(s, "ma3", d) {
      val weekly = weeklyShared(s, d)
      graft.seq.SequentialKernels.fitMa3Full(weekly, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum").localCheckpoint(true)
    }

  /** q313's AR(5) Yule–Walker fit table
    * ([[graft.seq.YuleWalker.ar5Full]]), fit once per
    * (session, sfDir) — same discipline as [[smaShared]]. */
  private def ywShared(s: SparkSession, d: String): DataFrame =
    Memos.memo(s, "yw5", d) {
      val weekly = weeklyShared(s, d)
      graft.seq.YuleWalker.ar5Full(weekly, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum").localCheckpoint(true)
    }

  /** The standard per-series window: series = (part, supplier), ordered
    * by ship date with a unique tiebreaker. */
  private def sw = SeriesWindow(
    Seq(col("l_partkey"), col("l_suppkey")),
    Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))

  private def enrichedPart(s: SparkSession, d: String): DataFrame =
    li(s, d).join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"), "left")

  /** Flagship: the reference pipeline spine on one frame — clean →
    * enrich → weekly grain → lag/rolling features → naive forecast →
    * scorecard (SURVEY §7 minimum end-to-end slice). */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val cleaned = Cleaning.positiveOnly("l_quantity")(li(spark, d))
    val enriched = Enrichment.enrich(cleaned, part(spark, d), "l_partkey", "p_partkey")
    val weekly = Enrichment.weeklyAggregate(enriched, col("l_shipdate"),
      Seq(col("l_partkey"), col("l_suppkey"), col("p_brand")), col("l_quantity"))
    val w = SeriesWindow(Seq(col("l_partkey"), col("l_suppkey")), Seq(col("week_start")))
    val scored = weekly
      .withColumn("pred", coalesce(WindowFeatures.rollingAvg(col("qty_sum"), 4, w), lit(0.0)))
    Metrics.scorecard(scored, col("qty_sum"), col("pred"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 cleaning ----
    "q01_clean_filter" -> ((s, d) => {
      val f = Cleaning.dateRange("l_shipdate", "1995-01-01", "1996-12-31")(
        Cleaning.positiveOnly("l_quantity")(li(s, d)))
      f.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))
    }),
    "q02_quantile_range" -> ((s, d) => {
      Cleaning.quantileRangeFilter("l_extendedprice")(li(s, d))
        .agg(count(lit(1)).as("n_rows"), r(avg(col("l_extendedprice"))).as("avg_price"))
    }),
    "q03_zscore_cap" -> ((s, d) => {
      Cleaning.zscoreCap("l_quantity")(li(s, d))
        .agg(r(sum(col("l_quantity"))).as("sum_qty"),
          r(max(col("l_quantity"))).as("max_qty"),
          r(min(col("l_quantity"))).as("min_qty"))
    }),
    "q04_dedup_keep_first" -> ((s, d) => {
      Cleaning.dedupKeepFirst(Seq("l_orderkey", "l_partkey"),
        Seq(col("l_linenumber"), col("l_quantity"), col("l_extendedprice")))(li(s, d))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))
    }),
    "q05_rare_categories" -> ((s, d) => {
      Cleaning.groupRareCategories("p_type", 10)(part(s, d))
        .groupBy(col("p_type")).agg(count(lit(1)).as("n_parts"))
    }),
    "q06_orphans" -> ((s, d) => {
      val dim = part(s, d).filter(col("p_size") <= 25)
      Cleaning.orphans(li(s, d), dim, "l_partkey", "p_partkey")
        .agg(count(lit(1)).as("n_orphans"), r(sum(col("l_quantity"))).as("sum_qty"))
    }),
    "q07_quality_report" -> ((s, d) =>
      Cleaning.qualityReport(li(s, d), Seq("l_quantity", "l_discount"))),
    "q08_range_violations" -> ((s, d) =>
      Cleaning.rangeViolations(li(s, d), Seq(
        "neg_qty" -> (col("l_quantity") < 0),
        "big_qty" -> (col("l_quantity") > 45),
        "big_price" -> (col("l_extendedprice") > 50000)))),

    // ---- §2.4 aggregations ----
    "q09_key_stats" -> ((s, d) => {
      AggFeatures.keyStats(li(s, d), Seq(col("l_returnflag")), col("l_quantity"),
        Seq("n_parts" -> col("l_partkey")))
        .select(col("l_returnflag"), r(col("qty_sum")).as("qty_sum"),
          r(col("qty_mean")).as("qty_mean"), r(col("qty_median")).as("qty_median"),
          r(col("qty_std")).as("qty_std"), r(col("qty_min")).as("qty_min"),
          r(col("qty_max")).as("qty_max"), col("qty_count"),
          r(col("qty_var")).as("qty_var"), col("n_parts"))
    }),
    "q10_share_of_total" -> ((s, d) => {
      val agg = enrichedPart(s, d).groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("volume"))
      AggFeatures.withShareOfTotal(agg, "volume", "share")
        .select(col("p_brand"), r(col("volume")).as("volume"), r(col("share")).as("share"))
    }),
    "q11_entropy" -> ((s, d) =>
      AggFeatures.entropy(enrichedPart(s, d), Seq(col("p_brand")), Seq(col("l_partkey")),
        col("l_quantity"), Seq("p_brand"))
        .select(col("p_brand"), r(col("entropy")).as("entropy"))),
    "q12_top5_share" -> ((s, d) =>
      AggFeatures.topNShare(li(s, d), Seq(col("l_suppkey")), Seq(col("l_partkey")),
        col("l_quantity"), Seq("l_suppkey"), 5)
        .select(col("l_suppkey"), r(col("top5_share")).as("top5_share"))),
    "q13_monthly_slope" -> ((s, d) =>
      AggFeatures.monthlyTrendSlope(li(s, d), Seq(col("l_suppkey")), col("l_shipdate"),
        col("l_quantity"), Seq("l_suppkey"), epochYear = 1995)
        .select(col("l_suppkey"), r(col("trend_slope")).as("trend_slope"))),
    "q14_hierarchy_rollup" -> ((s, d) =>
      AggFeatures.hierarchyRollup(
        enrichedPart(s, d).select(col("p_brand"), col("p_type"), col("l_quantity")),
        Seq("p_brand", "p_type"), "l_quantity")
        .select(col("p_brand"), col("p_type"), r(col("level_sum")).as("level_sum"),
          r(col("level_avg")).as("level_avg"), col("level_count"))),
    "q15_market_share_rank" -> ((s, d) =>
      AggFeatures.marketShareRank(enrichedPart(s, d), Seq(col("p_brand")), col("l_quantity"),
        Seq("p_brand"))
        .select(col("p_brand"), r(col("volume")).as("volume"), r(col("share")).as("share"),
          col("rnk").cast("long").as("rnk"), col("is_top100"), col("is_long_tail"))),
    "q16_hhi" -> ((s, d) =>
      AggFeatures.hhi(enrichedPart(s, d), Seq(col("p_brand")), Seq(col("l_partkey")),
        col("l_quantity"), Seq("p_brand"))
        .select(col("p_brand"), r(col("hhi")).as("hhi"))),
    "q17_percent_rank" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(AggFeatures.percentRankWithin(Seq(col("l_returnflag")),
          Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber")))).as("qty_prank"))),
    "q18_price_elasticity" -> ((s, d) =>
      AggFeatures.priceElasticity(li(s, d), Seq(col("l_partkey")),
        col("l_extendedprice") / col("l_quantity"), col("l_quantity"))
        .select(col("l_partkey"), r(col("price_qty_corr")).as("price_qty_corr"),
          col("n_obs"), col("elasticity_class"))),
    "q19_discount_lift" -> ((s, d) =>
      AggFeatures.discountLift(li(s, d), Seq(col("l_returnflag")), col("l_quantity"),
        col("l_discount"))
        .select(col("l_returnflag"),
          r(col("avg_qty_discounted")).as("avg_qty_discounted"),
          r(col("avg_qty_full")).as("avg_qty_full"),
          r(col("discount_lift")).as("discount_lift"))),
    "q20_zero_demand" -> ((s, d) =>
      AggFeatures.zeroDemand(li(s, d), Seq(col("l_partkey")), col("l_discount"))
        .select(col("l_partkey"), r(col("zero_ratio")).as("zero_ratio"),
          col("zero_count"), col("n_obs"))),
    // r17: routed through the single auto-gated entry point — lineitem
    // baskets are thin (p99 ~7 items), so the gate picks the exact
    // self-join and the oracle is unchanged; R17OpsSpec pins both the
    // gate decision and exact↔FP-Growth parity at the fat boundary
    "q21_cooccurrence" -> ((s, d) =>
      AggFeatures.coOccurrenceAuto(li(s, d), Seq("l_orderkey"), "l_partkey", 3)
        .select(col("item_a"), col("item_b"), col("pair_count"), col("n_a"), col("n_b"),
          r(col("lift")).as("lift"))),
    "q22_weekly_aggregate" -> ((s, d) =>
      Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("qty_sum")).as("qty_sum"), col("n_rows"))),
    "q23_enrich_join" -> ((s, d) =>
      Enrichment.enrich(li(s, d), part(s, d).filter(col("p_size") <= 40),
        "l_partkey", "p_partkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))),
    "q24_join_loss_check" -> ((s, d) => {
      val before = li(s, d)
      val after = Enrichment.enrich(before, part(s, d), "l_partkey", "p_partkey")
      Enrichment.lossCheck(before, after, "l_quantity")
        .select(col("rows_before"), r(col("vol_before")).as("vol_before"),
          col("rows_after"), r(col("vol_after")).as("vol_after"),
          col("rows_lost"), r(col("vol_lost")).as("vol_lost"))
    }),
    "q25_derived_ratios" -> ((s, d) => {
      val agg = AggFeatures.keyStats(li(s, d), Seq(col("l_partkey")), col("l_quantity"),
        Seq("n_stores" -> col("l_suppkey")))
      val tot = li(s, d).agg(countDistinct(col("l_suppkey")).as("__tot"))
      AggFeatures.withDerivedRatios(agg.crossJoin(broadcast(tot)), col("__tot"))
        .select(col("l_partkey"), r(col("velocity")).as("velocity"),
          r(col("consistency")).as("consistency"), r(col("penetration")).as("penetration"))
    }),
    "q26_modal_share" -> ((s, d) =>
      AggFeatures.modalShare(enrichedPart(s, d), Seq(col("l_suppkey")), Seq(col("p_brand")),
        col("l_quantity"), Seq("l_suppkey"))
        .select(col("l_suppkey"), r(col("modal_share")).as("modal_share"))),
    "q27_dominance" -> ((s, d) =>
      AggFeatures.dominance(enrichedPart(s, d), Seq(col("p_type")), Seq(col("p_brand")),
        col("l_quantity"), Seq("p_type"))
        .select(col("p_type"), col("p_brand"), r(col("volume")).as("volume"),
          r(col("dominance")).as("dominance"))),
    "q28_volume_tiers" -> ((s, d) =>
      AggFeatures.volumeTiers(li(s, d), Seq(col("l_partkey")), col("l_quantity"),
        Seq("l_partkey"), hi = 0.001, lo = 0.0005)
        .select(col("l_partkey"), r(col("volume")).as("volume"),
          r(col("weight")).as("weight"), col("tier"))),
    "q29_freq_encode" -> ((s, d) =>
      AggFeatures.frequencyEncode(li(s, d), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag_freq"))),
    "q30_label_encode" -> ((s, d) =>
      AggFeatures.labelEncode(part(s, d), "p_brand", 2)
        .select(col("p_partkey"), col("p_brand_code"))),
    "q31_daily_rollup" -> ((s, d) =>
      Enrichment.dailyStoreRollup(li(s, d), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_quantity"), col("l_partkey"))
        .select(col("l_suppkey"), col("day"), r(col("revenue_sum")).as("revenue_sum"),
          r(col("qty_sum")).as("qty_sum"), col("n_products"),
          r(col("avg_tx_value")).as("avg_tx_value"), col("n_tx"))),
    "q32_turnover" -> ((s, d) =>
      AggFeatures.turnover(li(s, d), Seq(col("l_partkey")), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))
        // turnover ratios recomputed from the ROUNDED numerator so both
        // engines divide bit-identical inputs (raw sums differ in the
        // last ulp and can straddle a .xxxx5 rounding boundary)
        .select(col("l_partkey"), r(col("qty_sum")).as("qty_sum"),
          r(col("rev_sum")).as("rev_sum"), col("active_days"),
          r(r(col("qty_sum")) / col("active_days")).as("qty_turnover"),
          r(r(col("rev_sum")) / col("active_days")).as("rev_turnover"))),
    "q33_burst_freq" -> ((s, d) =>
      AggFeatures.burstFrequency(li(s, d), Seq(col("l_partkey")), col("l_quantity"),
        Seq("l_partkey"))
        .select(col("l_partkey"), r(col("burst_freq")).as("burst_freq"), col("n_obs"))),
    "q34_basket_stats" -> ((s, d) =>
      AggFeatures.basketStats(li(s, d), Seq(col("l_orderkey")), Seq(col("l_suppkey")),
        col("l_partkey"), Seq("l_suppkey"))
        .select(col("l_suppkey"), r(col("avg_basket_size")).as("avg_basket_size"),
          r(col("std_basket_size")).as("std_basket_size"), col("max_basket_size"),
          col("n_baskets"))),
    "q35_substitutes" -> ((s, d) => {
      val weekly = li(s, d).withColumn("ws", to_date(date_trunc("week", col("l_shipdate"))))
      AggFeatures.substituteDetection(weekly, Seq(col("ws")), col("l_partkey"),
        col("l_quantity"), Seq("ws"), topN = 50, corrThreshold = -0.2)
        .select(col("item_a"), col("item_b"), r(col("demand_corr")).as("demand_corr"),
          col("n_buckets"))
    }),
    "q36_global_topn" -> ((s, d) =>
      AggFeatures.topN(li(s, d), Seq(col("l_partkey")), col("l_quantity"), 10)
        .select(col("l_partkey"), r(col("volume")).as("volume"))),

    // ---- §2.4 metrics ----
    "q37_scorecard" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      Metrics.scorecard(t, col("l_quantity"), col("pred"))
        .select(r(col("wmape")).as("wmape"), r(col("mape")).as("mape"),
          r(col("smape")).as("smape"), r(col("mae")).as("mae"),
          r(col("rmse")).as("rmse"), r(col("bias")).as("bias"), col("n_rows"))
    }),
    "q38_wmape_by_group" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      Metrics.wmapeByGroup(t, Seq("l_returnflag"), col("l_quantity"), col("pred"))
        .select(col("l_returnflag"), r(col("wmape")).as("wmape"), col("n_rows"))
    }),

    // ---- §2.5 window/temporal ----
    "q39_lags" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        lag(col("l_quantity"), 1).over(sw.w).as("lag1_qty"),
        lag(col("l_quantity"), 4).over(sw.w).as("lag4_qty"))),
    "q40_rolling_stats" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(WindowFeatures.rollingAvg(col("l_quantity"), 4, sw)).as("roll_avg"),
        r(WindowFeatures.rollingStd(col("l_quantity"), 4, sw)).as("roll_std"),
        WindowFeatures.rollingMin(col("l_quantity"), 4, sw).as("roll_min"),
        WindowFeatures.rollingMax(col("l_quantity"), 4, sw).as("roll_max"))),
    "q41_rolling_slope" -> ((s, d) =>
      WindowFeatures.withRollingSlope(li(s, d), "l_quantity", 4, sw, "slope4")
        .select(col("l_orderkey"), col("l_linenumber"), r(col("slope4")).as("slope4"))),
    "q42_rolling_autocorr" -> ((s, d) =>
      WindowFeatures.withRollingAutocorr1(li(s, d), "l_quantity", 8, sw, "ac1")
        .select(col("l_orderkey"), col("l_linenumber"), r(col("ac1")).as("ac1"))),
    "q43_fourier" -> ((s, d) => {
      val spine = li(s, d).select(to_date(col("l_shipdate")).as("day")).distinct()
        .withColumn("t", Calendar.daysSinceEpoch(col("day"), "1995-01-01"))
      val terms = WindowFeatures.fourierTerms(col("t"), Seq(7.0, 365.0), 2)
      spine.select(col("day") +: terms.map { case (n, c) => r(c).as(n) }: _*)
    }),
    "q44_momentum" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(WindowFeatures.momentum(col("l_quantity"), 1, sw)).as("mom1"))),
    "q45_group_stability" -> ((s, d) =>
      li(s, d).select(col("l_partkey"), col("l_suppkey"),
        r(WindowFeatures.groupStability(col("l_quantity"), sw)).as("stability")).distinct()),
    "q46_recent_vs_hist" -> ((s, d) =>
      WindowFeatures.recentVsHistorical(li(s, d),
        Seq(col("l_partkey"), col("l_suppkey")),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
        col("l_quantity"), Seq("l_partkey", "l_suppkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          r(col("recent_mean")).as("recent_mean"), r(col("hist_mean")).as("hist_mean"),
          r(col("recent_ratio")).as("recent_ratio"), col("is_declining"))),
    "q47_zero_streaks" -> ((s, d) =>
      WindowFeatures.zeroStreakStats(li(s, d),
        Seq(col("l_partkey"), col("l_suppkey")),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
        col("l_discount"), Seq("l_partkey", "l_suppkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("max_zero_streak"),
          r(col("avg_zero_streak")).as("avg_zero_streak"), col("n_zero_streaks"))),
    "q48_purchase_gaps" -> ((s, d) => {
      val t = li(s, d).filter(col("l_discount") > 0)
        .withColumn("gap", WindowFeatures.interPurchaseGapDays(to_date(col("l_shipdate")), sw))
      t.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(r(avg(col("gap"))).as("avg_gap"), max(col("gap")).cast("long").as("max_gap"),
          count(col("gap")).as("n_gaps"))
    }),
    "q49_lifecycle" -> ((s, d) => {
      val series = li(s, d).groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(to_date(col("l_shipdate"))).as("first_date"),
          max(to_date(col("l_shipdate"))).as("last_date"))
      val glob = li(s, d).agg(max(to_date(col("l_shipdate"))).as("__maxd"))
      series.crossJoin(broadcast(glob))
        .withColumn("age_days", datediff(col("last_date"), col("first_date")).cast("long"))
        .withColumn("days_since_last", datediff(col("__maxd"), col("last_date")).cast("long"))
        .withColumn("stage",
          WindowFeatures.lifecycleStage(col("age_days"), col("days_since_last")))
        .select(col("l_partkey"), col("l_suppkey"), col("first_date"), col("last_date"),
          col("age_days"), col("days_since_last"), col("stage"))
    }),
    "q50_seasonal_means" -> ((s, d) =>
      WindowFeatures.seasonalGroupMeans(li(s, d), Seq("l_returnflag"),
        Funcs.dowMon0(col("l_shipdate")), col("l_quantity"), "dow_mean")
        .select(col("l_orderkey"), col("l_linenumber"), r(col("dow_mean")).as("dow_mean"))),
    "q51_growth_cap" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val w = SeriesWindow(Seq(col("l_partkey"), col("l_suppkey")), Seq(col("week_start")))
      weekly.select(col("week_start"), col("l_partkey"), col("l_suppkey"),
        r(WindowFeatures.growthCap(col("qty_sum"), 2.0, w)).as("capped_qty"))
    }),
    "q52_smoothing" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val w = SeriesWindow(Seq(col("l_partkey"), col("l_suppkey")), Seq(col("week_start")))
      weekly.select(col("week_start"), col("l_partkey"), col("l_suppkey"),
        r(WindowFeatures.smooth(col("qty_sum"), 1, w)).as("smoothed_qty"))
    }),
    "q53_tail_slope" -> ((s, d) =>
      WindowFeatures.tailSlope(li(s, d),
        Seq(col("l_partkey"), col("l_suppkey")),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
        "l_quantity", 8, Seq("l_partkey", "l_suppkey"))
        .select(col("l_partkey"), col("l_suppkey"), r(col("tail8_slope")).as("tail8_slope"))),

    // ---- §2.6 scalar/date functions ----
    "q54_date_parts" -> ((s, d) => {
      val spine = li(s, d).select(to_date(col("l_shipdate")).as("day")).distinct()
      val cols = Calendar.dateParts(col("day")) ++ Calendar.calendarFlags(col("day"))
      spine.select(col("day") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),
    "q55_cyclical" -> ((s, d) => {
      val spine = li(s, d).select(to_date(col("l_shipdate")).as("day")).distinct()
      val cols = Calendar.cyclicalEncodings(col("day"))
      spine.select(col("day") +: cols.map { case (n, c) => r(c).as(n) }: _*)
    }),
    "q56_seasons" -> ((s, d) => {
      val spine = li(s, d).select(to_date(col("l_shipdate")).as("day")).distinct()
      val cols = Calendar.seasonFlags(col("day"))
      spine.select(col("day") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),
    "q57_holidays" -> ((s, d) => {
      val spine = li(s, d).select(to_date(col("l_shipdate")).as("day")).distinct()
      Calendar.withHolidayDistance(spine, col("day"),
        Calendar.brazilianHolidays(s, 1992 to 2005))
        .select(col("day"), col("is_holiday"),
          col("days_to_holiday").cast("long").as("days_to_holiday"),
          col("days_since_holiday").cast("long").as("days_since_holiday"))
    }),
    "q58_business_round" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        Calendar.businessRound(col("l_quantity") * (lit(1) - col("l_discount")))
          .as("rounded_qty"))),

    // ---- events table ----
    "q59_events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), r(sum(col("value"))).as("value_sum"))),

    // ---- LLM-pipeline: dedup / text / similarity / multimodal ----
    "q60_doc_exact_dedup" -> ((s, d) =>
      graft.text.Dedup.exactDedup(Tables.documents(s, d), "text", Seq(col("doc_id")))
        .select(col("doc_id"), col("lang"))),
    "q61_text_stats" -> ((s, d) => {
      val stats = graft.text.TextAnalysis.textStats(col("text"))
      Tables.documents(s, d).select(col("doc_id") +: stats.map {
        case (n, c) if Set("avg_word_len", "punct_ratio", "digit_ratio")(n) => r(c).as(n)
        case (n, c) => c.as(n)
      }: _*)
    }),
    "q62_text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("q", graft.text.TextAnalysis.qualityScore(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          r(avg(length(col("text")))).as("avg_chars"),
          r(avg(size(graft.text.TextAnalysis.tokens(col("text"))))).as("avg_words"),
          r(avg(col("q"))).as("avg_quality"))),
    "q63_lang_id" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          graft.text.TextAnalysis.languageId(col("text")).as("pred_lang"))),
    "q64_ngram_jaccard" -> ((s, d) =>
      graft.text.Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.8)
        .select(col("id_a"), col("id_b"), col("n_common"), col("sz_a"), col("sz_b"),
          r(col("jaccard")).as("jaccard"))),
    // hash-derived candidates — engine-specific blocking keys; rows-only
    // driver check, recall asserted against exact Jaccard in unit tests
    "q65_minhash_candidates" -> ((s, d) =>
      graft.text.Dedup.minHashCandidates(Tables.documents(s, d), "doc_id", "text")
        .select(col("id_a"), col("id_b"), r(col("est_jaccard")).as("est_jaccard"))),
    "q66_simhash_candidates" -> ((s, d) =>
      graft.text.Dedup.simHashCandidates(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 10)
        .select(col("id_a"), col("id_b"), col("hamming"))),
    "q67_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q68_ann_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.bruteForceTopK(emb, queries, 10)
    }),
    "q69_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.lshTopK(emb, queries, 10, dim = 64)
    }),
    // recall@10 of the banded-LSH search against the brute-force
    // truth — the standard ANN quality metric, oracle-backed (both
    // search paths are themselves oracle-deterministic)
    "q277_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.recallAtK(
        graft.sim.Similarity.lshTopK(emb, queries, 10, dim = 64),
        graft.sim.Similarity.bruteForceTopK(emb, queries, 10), k = 10)
    }),
    "q70_embed_norms" -> ((s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          r(avg(graft.sim.Similarity.l2Norm(col("embedding").cast("array<double>"))))
            .as("avg_norm"))),
    "q71_frame_sample" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.mediaFromDocuments(s, Tables.documents(s, d))
      graft.multimodal.Multimodal.frameSample(media, 1000L)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    }),
    // REAL image-codec round trip: plant a deterministic PNG per doc
    // (pixel channels are fixed integer formulas of (id, x, y)), decode
    // it back through javax.imageio, emit dims + per-channel means. PNG
    // is lossless, so the oracle computes the same stats analytically
    // from the formulas — the actual JDK decode is on the hashed path
    "q282_image_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id").as("media_id"))
      val planted = graft.multimodal.Multimodal.plantImages(ids)
      graft.multimodal.Multimodal.decodeImageFeatures(planted)
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("decode_ok"))
    }),
    // REAL audio-codec round trip: plant a deterministic RIFF/WAV
    // PCM-16 payload per doc (sample t is a fixed integer formula of
    // (id, t)), decode it back through javax.sound.sampled, emit the
    // format + amplitude stats. PCM is lossless, so the oracle replays
    // the same stats analytically from the formula — the actual JDK
    // decode is on the hashed path
    "q287_audio_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id").as("media_id"))
      val planted = graft.multimodal.Multimodal.plantAudio(ids)
      graft.multimodal.Multimodal.decodeAudioFeatures(planted)
        .select(col("media_id"), col("sample_rate"), col("n_channels"),
          col("bits"), col("n_samples"), col("duration_ms"),
          col("mean_amp"), col("rms_amp"), col("zero_cross"), col("decode_ok"))
    }),
    // REAL video-codec round trip (r17 — the last media stub falls):
    // plant a deterministic multi-frame ANIMATED GIF per doc (frame f's
    // pixel (x,y) is a fixed integer gray formula of (id,x,y,f), over
    // an identity 256-gray palette so the encoding is lossless), decode
    // it back through the JDK ImageIO GIF reader walking every frame,
    // emit frame count + dims + luminance stats. The oracle replays the
    // same stats analytically from the formulas — the actual JDK decode
    // is on the hashed path
    "q341_video_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id").as("media_id"))
      val planted = graft.multimodal.Multimodal.plantVideos(ids)
      graft.multimodal.Multimodal.decodeVideoFeatures(planted)
        .select(col("media_id"), col("n_frames"), col("width"), col("height"),
          col("mean_lum"), col("first_lum"), col("last_lum"), col("decode_ok"))
    }),
    // trained quality classifier (CCNet/fastText-style): 6 exact
    // gradient steps of quasi-logistic regression of (lang = 'en') on
    // hashed token-count features, then score every doc — the fit is
    // replayed term for term by an unrolled-CTE oracle
    "q288_quality_classifier" -> ((s, d) =>
      graft.text.QualityClassifier.trainScore(Tables.documents(s, d),
        col("doc_id"), col("text"), col("lang") === "en")),
    // MMR diverse selection: top-40 most query-relevant vectors, then
    // 8 greedy picks maximizing relevance minus max-similarity-to-
    // selected — each round one distributed argmax, the greedy
    // trajectory unrolled round for round by the oracle
    "q289_mmr_select" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val q = emb.filter(col("vec_id") === 0).select(col("vec").as("qv"))
      val cands = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("vec"),
          r(graft.sim.Similarity.cosine(col("vec"), col("qv"))).as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(40)
      graft.sim.Mmr.mmrSelect(cands, "vec_id", "vec", "rel", k = 8)
    }),
    // true winnowing (MOSS): per-window rightmost-min of portable
    // 8-gram polynomial hashes, window 4 — the position-bearing
    // fingerprint set, exactly replayable (q113 is the global-min lite
    // twin; q67 is the engine-hash blocking key)
    "q290_winnow" -> ((s, d) =>
      graft.text.TextAnalysis.winnow(Tables.documents(s, d),
        col("doc_id"), col("text")).withColumnRenamed("id", "doc_id")),
    // retrieval-order eval of the LSH ANN search: per-query MRR / AP@10
    // / NDCG@10 with same-label ground truth — the discount table rides
    // as shared micro-int literals, so no libm log ever crosses engines
    "q291_ranking_metrics" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val ranked0 = graft.sim.Similarity.lshTopK(emb, queries, 10, dim = 64)
      val ql = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label").as("qlab"))
      val nlab = emb.select(col("vec_id").as("neighbor_id"), col("label").as("nlab"))
      val ranked = ranked0.join(broadcast(ql), "query_id").join(nlab, "neighbor_id")
        .select(col("query_id"), col("rank"),
          when(col("nlab") === col("qlab"), 1).otherwise(0).as("rel"))
      val lc = emb.groupBy(col("label")).agg(count(lit(1)).as("c"))
      val nRel = ql.join(broadcast(lc), ql("qlab") === lc("label"))
        .select(col("query_id"), (col("c") - 1).cast("int").as("n_rel"))
      graft.metrics.RankingMetrics.rankingMetrics(ranked, nRel,
        "query_id", "rank", "rel", 10)
    }),
    // MOSS match detection: doc pairs sharing >= 2 winnowing
    // fingerprints, ubiquitous fingerprints dropped before the pair
    // join (bounded fan-out — the band-join discipline)
    "q292_winnow_pairs" -> ((s, d) =>
      graft.text.TextAnalysis.winnowOverlapPairs(Tables.documents(s, d),
        col("doc_id"), col("text"))),
    // Fellegi-Sunter record linkage: nation-blocked customer pairs
    // scored in likelihood-ratio form (no logs — engine-exact) over
    // market segment, balance bucket, and name-tail agreement
    "q293_record_linkage" -> ((s, d) => {
      val c = Tables.customer(s, d)
      graft.etl.RecordLinkage.fellegiSunter(c,
        col("c_custkey"), col("c_nationkey"),
        Seq(
          (col("c_mktsegment"), 0.95),
          (floor(col("c_acctbal").cast("double") / 100), 0.9),
          (col("c_name").substr(length(col("c_name")) - 1, lit(2)), 0.8)))
    }),
    // Z-order layout profile: Morton-interleave (part, supp), bucket by
    // the top z-bits and emit per-bucket bounding boxes — the min/max
    // stats a 100TB scan would prune on after a z-sorted write
    "q294_zorder" -> ((s, d) =>
      graft.operators.ZOrder.zProfile(li(s, d),
        col("l_partkey"), col("l_suppkey"), bits = 21, bucketShift = 16)),
    // k-anonymity governance: per-equivalence-class risk profile over
    // (nation, segment, balance kilo-bucket) QIs with name-tail
    // l-diversity — ONE hash-aggregate at the QI grain
    "q295_kanonymity" -> ((s, d) =>
      graft.etl.Privacy.kAnonymityProfile(Tables.customer(s, d),
        Seq("c_nationkey" -> col("c_nationkey"),
          "c_mktsegment" -> col("c_mktsegment"),
          "bal_bucket" -> floor(col("c_acctbal").cast("double") / 1000)),
        col("c_name").substr(length(col("c_name")) - 1, lit(2)))),
    // the matching release transform: suppress rows whose QI class is
    // below k (kept-class table broadcast onto a null-safe semi-join)
    "q296_kanon_suppress" -> ((s, d) =>
      graft.etl.Privacy.suppressBelowK(
        Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal").cast("double") / 1000).as("bal_bucket")),
        Seq("n" -> col("c_nationkey"), "m" -> col("c_mktsegment"),
          "b" -> col("bal_bucket")))),
    // r17: repointed from the hash-derived decodeStub (which kept this
    // row oracle-less) to the REAL planted-GIF video path — dims now
    // come from the actual JDK frame decode, so the row carries a full
    // analytic oracle; the hash featurizer contributes only its
    // (constant) dimensionality here, pinned by MultimodalSpec
    "q72_media_features" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id").as("media_id"))
      val planted = graft.multimodal.Multimodal.plantVideos(ids)
      graft.multimodal.Multimodal.featuresByPartition(
        graft.multimodal.Multimodal.decodeVideoFeatures(planted))
        .select(col("media_id"), col("width"), col("height"),
          size(col("features")).as("feat_dim"))
    }),

    // ---- sequential kernels (W9/W10/M5/M6) ----
    "q73_ewma" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.withEwma(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum", 0.3, "ewma")
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("ewma")).as("ewma"))
    }),
    // Holt/TSB recursions stay rows-only (parity unit-tested against
    // hand-computed recursions); EWMA and Croston carry full
    // recursive-CTE oracles
    // robust location: trimmed + winsorized means per return flag
    "q212_robust_mean" -> ((s, d) =>
      AggFeatures.robustMean(li(s, d), Seq(col("l_returnflag")), col("l_quantity"))),
    // corpus text cleaner: NFC + control-strip + whitespace collapse
    "q211_clean_text" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        graft.text.TextAnalysis.cleanText(col("text")).as("clean"),
        length(graft.text.TextAnalysis.cleanText(col("text"))).cast("long")
          .as("clean_chars"))),
    "q210_mase" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      Metrics.maseByGroup(t, Seq("l_returnflag"), col("l_quantity"), col("pred"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
    }),
    "q213_theta" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Theta.fitted(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum", alpha = 0.3)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          col("theta_a"), col("theta_b"), col("theta_fitted"))
    }),
    // per-series AR(2): closed-form OLS over lag columns, in-sample
    // one-step predictions (the autoregressive member of the family)
    "q214_ar2" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Ar.fitted(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum")
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          col("ar_c"), col("ar_phi1"), col("ar_phi2"), col("ar_fitted"))
    }),
    // submission plausibility: the q78 naive grid risk-scored against
    // the last-5-weeks validation actuals and the full history
    "q216_plausibility" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val mean = weekly.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(avg(col("qty_sum")).as("p"))
      val grid = mean
        .withColumn("semana", explode(sequence(lit(1), lit(5))))
        .select(col("semana"), col("l_suppkey").as("pdv"),
          col("l_partkey").as("produto"),
          Calendar.businessRound(col("p")).as("quantidade"))
      val maxW = weekly.agg(max(col("week_start")).as("__mw"))
      val actuals = weekly.crossJoin(broadcast(maxW))
        .withColumn("semana",
          (lit(5) - datediff(col("__mw"), col("week_start")) / 7).cast("int"))
        .filter(col("semana") >= 1)
        .select(col("semana"), col("l_suppkey").as("pdv"),
          col("l_partkey").as("produto"), col("qty_sum").as("actual"))
      graft.io.SubmissionValidator.plausibilityReport(grid, actuals,
        col("actual"), weekly, col("qty_sum"))
    }),
    // geo distance join on the derived coordinate view (F12 family —
    // testdata carries no lat/lon, so coordinates derive from keys by
    // integer-modulo arithmetic both engines reproduce exactly)
    "q223_geo_distance" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") * 37 % 17000) / 100.0 - 85.0).as("s_lat"),
        ((col("s_suppkey") * 91 % 36000) / 100.0 - 180.0).as("s_lon"))
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        ((col("c_custkey") * 53 % 17000) / 100.0 - 85.0).as("c_lat"),
        ((col("c_custkey") * 29 % 36000) / 100.0 - 180.0).as("c_lon"))
      graft.operators.Geo.withinDistance(cust, sup,
        col("c_lat"), col("c_lon"), col("s_lat"), col("s_lon"), maxKm = 500.0)
        .select(col("c_custkey"), col("s_suppkey"), col("dist_km"))
    }),
    // F12 exercised end-to-end: coordinate validation over a derived
    // view that includes out-of-range points, then grid-cell density
    "q224_geo_grid" -> ((s, d) => {
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        ((col("c_custkey") * 41 % 19000) / 100.0 - 95.0).as("lat"),
        ((col("c_custkey") * 23 % 38000) / 100.0 - 190.0).as("lon"))
      val valid = graft.etl.Cleaning.validCoordinates("lat", "lon")(pts)
      val (row, colc) = graft.operators.Geo.gridCell(col("lat"), col("lon"), 10.0)
      valid.withColumn("cell_row", row).withColumn("cell_col", colc)
        .groupBy("cell_row", "cell_col")
        .agg(count(lit(1)).as("n_points"),
          r(avg(col("lat"))).as("lat_mean"), r(avg(col("lon"))).as("lon_mean"))
    }),
    // temperature scaling: 1-param logit rescale, 3 fixed Newton steps
    // on the mean-centered score
    "q221_temperature" -> ((s, d) => {
      val base = li(s, d).withColumn("pred", r(avg(col("l_quantity"))
        .over(Window.partitionBy(col("l_partkey"), col("l_suppkey")))))
      // preds are 4dp-rounded, so their mean computes exactly from an
      // integer micro-sum — avg() of doubles would be partial-agg-order
      // dependent and could flip r(pred − __mp) at a 1e-4 boundary
      val mean = base.agg((sum(round(col("pred") * 1e4, 0).cast("long"))
        / lit(1e4) / count(lit(1))).as("__mp"))
      val t = base.crossJoin(broadcast(mean))
        .withColumn("z", r(col("pred") - col("__mp")))
      graft.operators.Platt.fitTemperature(t, col("z"),
        col("l_returnflag") === "R", iters = 3)
    }),
    // damped-trend Holt forecast: last (level, trend) per series
    // extrapolated with literal damping sums
    "q222_damped_holt" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.dampedHoltForecast(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum",
        alpha = 0.3, beta = 0.1, phi = 0.9, h = 4)
    }),
    // best single changepoint per weekly series: binary-segmentation
    // SSE split from prefix sums, rounded-cost argmin
    "q225_changepoint" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.operators.Changepoint.bestSplit(weekly,
        Seq("l_partkey", "l_suppkey"), col("week_start"), "qty_sum")
    }),
    // leakage-safe K-fold out-of-fold target encoding (portable
    // Lehmer fold assignment)
    "q226_target_oof" -> ((s, d) =>
      graft.operators.Assoc.targetEncodeOof(li(s, d), "l_returnflag",
        col("l_orderkey") * 8 + col("l_linenumber"),
        col("l_quantity") > 25, folds = 5, m = 10.0)),
    // Newman modularity decomposition of the part–supplier co-purchase
    // graph under a size/nation partition
    "q227_modularity" -> ((s, d) => {
      val e = li(s, d).select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      val partC = Tables.part(s, d).select((col("p_partkey") * 2).as("node"),
        (col("p_size") % 5).as("community"))
      val supC = Tables.supplier(s, d).select(
        (col("s_suppkey") * 2 + 1).as("node"),
        (col("s_nationkey") % 5).as("community"))
      graft.graph.Modularity.perCommunity(e, "src", "dst",
        partC.unionByName(supC), "node", "community")
    }),
    // DBSCAN core/border/noise classification over derived coordinates
    // (band-blocked neighbor pairs, rounded-distance gate)
    "q228_dbscan" -> ((s, d) => {
      val pts = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("pid"),
          ((col("c_custkey") * 53 % 17000) / 100.0 - 85.0).as("lat"),
          ((col("c_custkey") * 29 % 36000) / 100.0 - 180.0).as("lon"))
      graft.operators.GeoCluster.dbscanClassify(pts, col("pid"),
        col("lat"), col("lon"), epsKm = 300.0, minPts = 4)
    }),
    // per-node triangles + local clustering coefficient over the
    // co-supplier graph (suppliers sharing a part, thinned 100x)
    "q229_clustering_coeff" -> ((s, d) => {
      val e = graft.graph.Triangles.coOccurrenceEdges(
        li(s, d).filter(col("l_partkey") % 100 === 0), "l_partkey", "l_suppkey")
      graft.graph.Triangles.clusteringCoefficient(e)
    }),
    // nearest supplier within 1000km per customer (derived coords,
    // deterministic (dist, suppkey) tie-break)
    "q230_geo_nearest" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") * 37 % 17000) / 100.0 - 85.0).as("s_lat"),
        ((col("s_suppkey") * 91 % 36000) / 100.0 - 180.0).as("s_lon"))
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        ((col("c_custkey") * 53 % 17000) / 100.0 - 85.0).as("c_lat"),
        ((col("c_custkey") * 29 % 36000) / 100.0 - 180.0).as("c_lon"))
      graft.operators.Geo.nearestWithin(cust, sup, col("c_custkey"),
        col("c_lat"), col("c_lon"), col("s_lat"), col("s_lon"),
        maxKm = 1000.0, rightTie = col("s_suppkey"))
        .select(col("c_custkey"), col("s_suppkey"), col("dist_km"))
    }),
    // degree assortativity of the part-supplier bipartite graph
    "q231_assortativity" -> ((s, d) => {
      val e = li(s, d).select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      graft.graph.Assortativity.degreeAssortativity(e, "src", "dst")
    }),
    // bigram PMI collocations over the document corpus (count-gated)
    "q232_pmi" -> ((s, d) =>
      graft.text.Collocations.pmi(Tables.documents(s, d), "text", minCount = 5)),
    // dominant seasonal period per weekly SUPPLIER series (long series;
    // adjusted phase-ANOVA R2 argmax over candidate periods)
    "q233_dominant_period" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      graft.operators.Decompose.dominantPeriod(weekly,
        Seq("l_suppkey"), col("week_start"), "qty_sum", Seq(4, 13, 26))
    }),
    // RFM quintile segmentation of customers from the orders fact
    "q234_rfm" -> ((s, d) =>
      graft.operators.Cohorts.rfm(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_totalprice", asOf = "1998-12-31")),
    // Gini concentration of customer spend per market segment
    "q235_gini" -> ((s, d) => {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(r(sum(col("o_totalprice"))).as("spend"))
      val seg = spend.join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      graft.operators.Pareto.gini(seg, Seq("c_mktsegment"), col("spend"),
        Seq(col("o_custkey")))
    }),
    // Benford first-digit screen over extended prices (string-of-cents
    // digit extraction, engine-stable)
    "q236_benford" -> ((s, d) =>
      graft.operators.Benford.firstDigitProfile(li(s, d),
        col("l_extendedprice"), scale = 2)),
    // M-competition baseline forecasts (naive / seasonal-naive / drift
    // / mean) per weekly supplier series
    "q237_baselines" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      graft.seq.Baselines.forecasts(weekly, Seq("l_suppkey"),
        col("week_start"), "qty_sum", h = 4, period = 13)
    }),
    // composition: each series wraps at its own detected period
    // (dominantPeriod -> seasonal naive)
    "q238_adaptive_snaive" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val periods = graft.operators.Decompose.dominantPeriod(weekly,
        Seq("l_suppkey"), col("week_start"), "qty_sum", Seq(4, 13, 26))
      graft.seq.Baselines.seasonalNaiveAdaptive(weekly, Seq("l_suppkey"),
        col("week_start"), "qty_sum", periods, "best_period", h = 4)
    }),
    // DSIR-style importance scoring: unigram log-ratio of the English
    // slice vs the whole corpus, per document
    "q239_dsir_score" -> ((s, d) =>
      graft.text.Dsir.unigramLogRatioScore(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en")),
    // weighted (lower) median: price at which half the quantity trades
    "q240_weighted_median" -> ((s, d) =>
      graft.operators.WeightedStats.weightedMedian(li(s, d),
        Seq("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
        Seq(col("l_orderkey"), col("l_linenumber")))),
    // generalized weighted quantiles: one cumulative-weight walk shared
    // across the whole q-list (q=0.5 row ≡ the q240 weighted median)
    "q252_weighted_quantiles" -> ((s, d) =>
      graft.operators.WeightedStats.weightedQuantiles(li(s, d),
        Seq("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
        Seq(col("l_orderkey"), col("l_linenumber")),
        qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9))),
    // safety stock + order-up-to per weekly series (z=1.645, L=2)
    "q241_safety_stock" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.operators.Inventory.safetyStock(weekly,
        Seq("l_partkey", "l_suppkey"), "qty_sum", z = 1.645, leadPeriods = 2)
    }),
    // constant-elasticity price optimization per part (Lerner markup
    // over a 60%-of-retail cost proxy)
    "q242_price_opt" -> ((s, d) => {
      val withCost = li(s, d).join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), r(col("p_retailprice") * 0.6).as("cost"))),
        col("l_partkey") === col("p_partkey"))
      graft.operators.PriceOpt.optimalPrice(withCost, Seq("l_partkey"),
        r(col("l_extendedprice") / col("l_quantity")), col("l_quantity"),
        col("cost"))
    }),
    // two-sample KS drift: price distribution of the pre-1996 reference
    // period vs the rest, per return flag (Eval.ks with a period label)
    "q243_ks_drift" -> ((s, d) =>
      graft.metrics.Eval.ks(li(s, d), col("l_extendedprice"),
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"),
        groupCols = Seq("l_returnflag"))),
    // depth-2 binary segmentation: label each point with its side of
    // the first split, then find the best split WITHIN each segment
    "q244_changepoint_seg2" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val first = graft.operators.Changepoint.bestSplit(weekly,
        Seq("l_suppkey"), col("week_start"), "qty_sum")
      val labeled = weekly
        .join(first.select(col("l_suppkey"), col("cp_at")), Seq("l_suppkey"))
        .withColumn("segment",
          when(col("week_start") <= col("cp_at"), lit("L")).otherwise(lit("R")))
        .drop("cp_at")
      graft.operators.Changepoint.bestSplit(labeled,
        Seq("l_suppkey", "segment"), col("week_start"), "qty_sum")
    }),
    // rolling Tukey fences: per-point outlier flag vs the trailing
    // window's own quartiles (k=0.5 — classic 1.5 is vacuous on the
    // bounded-uniform synthetic quantities)
    "q245_rolling_iqr" -> ((s, d) => {
      val (p25, p75, flag) =
        WindowFeatures.rollingIqrFences(col("l_quantity"), 8, 0.5, sw)
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        p25.as("p25"), p75.as("p75"), flag.as("is_outlier"))
    }),
    // composed forecast-to-policy job: snaive lead demand + z-buffer
    // per supplier (Jobs.planInventory)
    "q246_plan_inventory" -> ((s, d) =>
      graft.app.Jobs.planInventory(s, d)),
    // Spearman rank correlation (fractional ranks, scipy treatment)
    // of quantity vs extended price per return flag
    "q247_spearman" -> ((s, d) =>
      graft.operators.Assoc.spearman(li(s, d), Seq("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))),
    // join/agg key-skew diagnostics: hot-key factor, p99, CV of the
    // per-key counts (sizes the salted-join mitigation)
    "q248_key_skew" -> ((s, d) =>
      graft.etl.Skew.keySkewReport(li(s, d), Seq("l_partkey"),
        exact = Some(true))),
    // Platt scaling: sigmoid calibration fit by 3 fixed Newton steps
    // over the distinct (score, label) grain
    "q220_platt" -> ((s, d) => {
      val t = li(s, d).withColumn("pred", r(avg(col("l_quantity"))
        .over(Window.partitionBy(col("l_partkey"), col("l_suppkey")))))
      graft.operators.Platt.fit(t, col("pred"),
        col("l_returnflag") === "R", iters = 3)
    }),
    // seasonal Theta: deseasonalize by (key, month) mean deviation,
    // Theta on the adjusted series, re-seasonalize the fitted value
    "q219_theta_seasonal" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Theta.fittedSeasonal(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum", month(col("week_start")), alpha = 0.3)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          col("seasonal"), col("theta_a"), col("theta_b"),
          col("theta_fitted"), col("theta_sfitted"))
    }),
    // isotonic calibration map: per-return-flag monotone fit of actual
    // vs the (rounded) per-series mean prediction, 10 quantile bins
    "q215_isotonic" -> ((s, d) => {
      val t = li(s, d).withColumn("pred", r(avg(col("l_quantity"))
        .over(Window.partitionBy(col("l_partkey"), col("l_suppkey")))))
      graft.operators.Isotonic.calibrationMap(t, Seq("l_returnflag"),
        col("pred"), col("l_quantity"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity")), nBins = 10)
    }),
    // AR(2) h-step forecast: rounded forecasts feed back as lags — the
    // recursion is what the recursive-CTE oracle reproduces
    "q217_ar2_forecast" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Ar.forecast(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum", h = 4)
    }),
    // ARI(2,1): AR(2) fit on first differences, h-step diff forecasts
    // integrated back from the last observed level
    "q249_ari_forecast" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Ar.forecastIntegrated(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum", h = 4)
    }),
    // AR(2) forecasts with 95% z-bands from the closed-form h-step
    // variance (σ² from in-sample residuals, ψ-weight recursion)
    "q251_ar_intervals" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Ar.forecastIntervals(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum", h = 4)
    }),
    // seasonal ARI: AR(2) on lag-13 seasonal differences, each step
    // integrated against its own observed seasonal base (h ≤ m).
    // SUPPLIER grain: the (part, supplier) series are ~1 week long, so
    // lag-13 differencing needs the longer per-supplier history
    "q254_sari_forecast" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      graft.seq.Ar.forecastSeasonalIntegrated(weekly,
        Seq("l_suppkey"), Seq(col("week_start")), "qty_sum",
        m = 13, h = 4)
    }),
    // Theta h-step forecast: trend line extends, the theta2 SES carries
    // flat beyond the sample
    "q256_theta_forecast" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.Theta.forecast(weekly, Seq("l_partkey", "l_suppkey"),
        Seq(col("week_start")), "qty_sum", alpha = 0.3, h = 4)
    }),
    // joint ARMA(1,1) fit: conditional LS over the (φ, θ) grid, the
    // previous centered value riding the vectorized innovation state
    "q255_arma_fit" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.fitArma11(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum")
    }),
    // MA(1) θ fit: conditional-least-squares SSE over a literal grid,
    // vectorized innovation state, (sse, θ)-smallest pick
    "q253_ma1_fit" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.fitMa1(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum")
    }),
    // MA(1) innovation recursion: per-series centered residual filter
    // e_t = (x_t − μ) − θ·e_{t−1} with literal θ
    "q250_ma1" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.withMa1(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum",
        theta = 0.4)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("ma1_resid")).as("ma1_resid"),
          r(col("ma1_fitted")).as("ma1_fitted"))
    }),
    // ARMA(1,1) h-step forecast: winner-pair recursion from the last
    // centered observation and final innovation, rounded per step
    "q257_arma_forecast" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.arma11Forecast(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum", h = 4)
    }),
    // ARIMA(1,1,1) by composition: ARMA(1,1) CLS grid fit on the first
    // differences, forecasts integrated back from the last level
    "q258_arima111" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.arima111Forecast(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum", h = 4)
    }),
    // per-series champion pick: AIC over the eight closed-form family
    // members, deterministic argmin, winner's h-step forecast — the
    // reference's auto-ARIMA model-selection loop. SUPPLIER grain for
    // series long enough that every member is identified somewhere
    "q259_champion" -> ((s, d) => championShared(s, d)._1),
    // the stepwise-order-search trace: every identified family member's
    // (k, SSE, n_eff, AIC, rank) per series — the scoreboard q259
    // argmins over (arima_temporal.py:277-361 logs exactly this per
    // tried order before picking) — shares the member tables with
    // q259/q267 (championShared)
    "q286_order_search" -> ((s, d) => championShared(s, d)._3),
    // Akaike-weight model averaging over the same eight-member family:
    // w ∝ exp(−Δ/2), blend = Σ(w·f)/Σw as exact micro-int sums —
    // shares the member tables with q259 (championShared)
    "q267_champion_blend" -> ((s, d) => championShared(s, d)._2),
    // ARIMA(2,1,1): the ARMA(2,1) CLS grid fit on first differences,
    // integrated h-step forecast — one order past the family's (1,1,1),
    // toward the reference's stepwise search bounds
    // (arima_temporal.py:277-361, statsmodels fallback (2,1,2))
    "q297_arima211" -> ((s, d) => {
      // the grid fold is shared with q298/q299/q300 (extFitShared) —
      // this query is the integration tail over the materialized fit
      val (_, a21base, _, lastLevel) = extFitShared(s, d)
      graft.seq.SequentialKernels.arima211ForecastFrom(a21base, lastLevel,
        Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("arma2_phi1").as("phi1"),
          col("arma2_phi2").as("phi2"), col("arma2_theta").as("theta"),
          col("arma2_sse").as("sse"), col("step"),
          col("arima_forecast").as("forecast"))
    }),
    // ARIMA(0,2,1): MA(1) on SECOND differences, doubly-integrated
    // forecast — the d = 2 coverage of the reference's search space
    // (pmdarima max_d = 2)
    "q298_arima021" -> ((s, d) => {
      // the Δ² fold is shared with q297/q299/q300 (extFitShared) —
      // this query is the double-integration tail over the fit
      val (d2base, _, _, _) = extFitShared(s, d)
      graft.seq.OrderSearch.arima021ForecastFrom(d2base, Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("d2_theta").as("theta"),
          col("d2_sse").as("sse"), col("step"),
          col("arima_forecast").as("forecast"))
    }),
    // the FOURTEEN-member order-search scoreboard: the family eight
    // (shared member tables via championShared — no re-fit) plus
    // arima021, arima211, arima212 and the seasonal sari + sma + sarma,
    // re-ranked by (AIC, member order)
    "q299_order_search_ext" -> ((s, d) => extShared(s, d)._1),
    // the SIXTEEN-member board: the fourteen of q299 plus ma3/ar5
    // promoted from the q311/q313 probes (r15 verdict ask #7) — the
    // full 3 <= p,q <= 5 legs now COMPETE on AIC instead of proving
    // existence; the grid still costs what one stepwise path costs
    "q336_order_search_full" -> ((s, d) => fullShared(s, d)._1),
    // the sixteen-member argmin + winner forecast (q300's tail over
    // the widened board)
    "q337_champion_full" -> ((s, d) => {
      val (board, fcs) = fullShared(s, d)
      graft.seq.OrderSearch.pickFrom(board, fcs, Seq("l_suppkey"))
    }),
    // the extended champion: argmin over the fourteen-member scoreboard,
    // winner's forecast joined from the shared family forecast union
    // plus the six extended forecasters (one fit each — extShared)
    "q300_champion_ext" -> ((s, d) => {
      val (board, fcs) = extShared(s, d)
      graft.seq.OrderSearch.pickFrom(board, fcs, Seq("l_suppkey"))
    }),
    // Akaike-weight blend over the FOURTEEN-member extended board —
    // q267's blend arithmetic over the wider search (pure tail over
    // the extShared memoized board + forecast union)
    "q309_blend_ext" -> ((s, d) => {
      val (board, fcs) = extShared(s, d)
      graft.seq.Champion.blendFrom(board, fcs, Seq("l_suppkey"))
    }),
    // SARIMA(0,0,1)(0,1,0)_m: MA(1) CLS on the lag-m seasonal
    // differences, seasonally integrated against the observed last
    // season — the seasonal-Q leg of the searched space
    "q308_sarima011" -> ((s, d) => {
      val weekly = weeklyShared(s, d)
      graft.seq.OrderSearch.sarima011ForecastFrom(smaShared(s, d),
        graft.seq.OrderSearch.seasonalBase(weekly, Seq("l_suppkey"),
          Seq(col("week_start")), "qty_sum", h = 4, m = 13),
        Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("sma_theta").as("theta"),
          col("sma_sse").as("sse"), col("step"),
          col("sma_forecast").as("forecast"))
    }),
    // SARIMA(1,0,1)(0,1,0)_m: the JOINT seasonal member — ARMA(1,1)
    // CLS on the lag-m seasonal differences (seasonal P and Q fit
    // together, the reference's configured seasonal_order=(1,1,1,m)
    // shape, arima_temporal.py:224), seasonally integrated against the
    // observed last season
    "q310_sarma11" -> ((s, d) => {
      val weekly = weeklyShared(s, d)
      graft.seq.OrderSearch.sarma11ForecastFrom(sarmaShared(s, d),
        graft.seq.OrderSearch.seasonalBase(weekly, Seq("l_suppkey"),
          Seq(col("week_start")), "qty_sum", h = 4, m = 13),
        Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("sarma_phi").as("phi"),
          col("sarma_theta").as("theta"),
          col("sarma_sse").as("sse"), col("step"),
          col("sarma_forecast").as("forecast"))
    }),
    // ARIMA(0,0,3): MA(3) CLS over a θ³ literal grid — the order-search
    // GRID-SCALE PROBE (COVERAGE.md boundary note: the reference
    // configures max_q = 5, arima_temporal.py:69-70, but stepwise never
    // leaves the (2,2) box on this data shape; this member demonstrates
    // the series-end fold pattern at q = 3 without widening the board)
    "q311_ma3_probe" -> ((s, d) => {
      graft.seq.SequentialKernels.ma3ForecastFrom(ma3Shared(s, d),
        Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("ma3_theta1").as("theta1"),
          col("ma3_theta2").as("theta2"), col("ma3_theta3").as("theta3"),
          col("ma3_sse").as("sse"), col("step"),
          col("ma3_forecast").as("forecast"))
    }),
    // ARIMA(2,1,2): the ARMA(2,2) CLS grid fit on first differences,
    // integrated h-step forecast — the reference's statsmodels-fallback
    // LITERAL order (arima_temporal.py:341); grid fold shared with the
    // extended board via extFitShared
    "q307_arima212" -> ((s, d) => {
      val (_, _, a22base, lastLevel) = extFitShared(s, d)
      graft.seq.SequentialKernels.arima212ForecastFrom(a22base, lastLevel,
        Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("arma22_phi1").as("phi1"),
          col("arma22_phi2").as("phi2"), col("arma22_theta1").as("theta1"),
          col("arma22_theta2").as("theta2"),
          col("arma22_sse").as("sse"), col("step"),
          col("arima_forecast").as("forecast"))
    }),
    // AR(5) by Yule–Walker/Levinson–Durbin: the order-search probe for
    // the reference's FULL p bound (max_p = 5, arima_temporal.py:69-70)
    // — closed-form companion to q311's MA(3) grid probe on the q leg.
    // The reflection coefficients the recursion emits are the PACF.
    "q313_ar5_probe" -> ((s, d) => {
      graft.seq.YuleWalker.ar5ForecastFrom(ywShared(s, d),
        Seq("l_suppkey"), h = 4)
        .select(col("l_suppkey"), col("yw_phi1").as("phi1"),
          col("yw_phi2").as("phi2"), col("yw_phi3").as("phi3"),
          col("yw_phi4").as("phi4"), col("yw_phi5").as("phi5"),
          col("yw_sse").as("sse"), col("step"), col("forecast"))
    }),
    // Box–Jenkins identification table: sample ACF r1..r5 and PACF
    // k1..k5 (Levinson reflection coefficients) per weekly series in
    // ONE distributed pass — the order-selection diagnostic pmdarima's
    // stepwise walk reads (arima_temporal.py's search seeds)
    "q314_acf_pacf" -> ((s, d) => {
      val weekly = weeklyShared(s, d)
      graft.seq.YuleWalker.acfPacf(weekly, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum")
        .withColumnRenamed("yw_neff", "n_eff")
    }),
    // CCNet-style corpus-frequency boilerplate scrub: 3-word spans
    // appearing in >= 5 distinct documents are deleted from EVERY
    // document (the complement of q124's keep-first span dedup, which
    // retains one copy). Portable string-keyed census here; production
    // default hashes the span to an 8-byte shuffle key (spec-pinned
    // identical output).
    "q312_boilerplate" -> ((s, d) =>
      graft.text.Boilerplate.scrub(Tables.documents(s, d), "doc_id", "text",
        w = 3, maxDocFreq = 5, hashedKey = false)),
    // WMAPE-calibrated uncertainty: raw uncertainty = per-(part,supp)
    // qty stddev (explicit sufficient sums), prediction = the group
    // mean, calibrated per return flag
    "q260_wmape_calibration" -> ((s, d) => {
      val wg = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      val q = col("l_quantity")
      val t = li(s, d)
        .withColumn("pred", r(avg(q).over(wg)))
        .withColumn("__n", count(lit(1)).over(wg).cast("double"))
        .withColumn("__sq", sum(q).over(wg))
        .withColumn("__sqq", sum(q * q).over(wg))
        .withColumn("unc", r(when(col("__n") > 1,
          sqrt((col("__n") * col("__sqq") - col("__sq") * col("__sq")) /
            (col("__n") * (col("__n") - 1))))))
        .filter(col("unc").isNotNull)
      graft.metrics.Eval.wmapeCalibration(t, Seq("l_returnflag"), col("pred"),
        q, col("unc"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
    }),
    // quantile regression: 90th/50th/25th-percentile quantity vs
    // discount per return flag, fixed-8-round IRLS pinball device
    "q262_quantile_reg" -> ((s, d) =>
      graft.operators.QuantileReg.fit(li(s, d), Seq("l_returnflag"),
        col("l_discount"), col("l_quantity"))),
    // bootstrap uncertainty: 20 deterministic keyed replicates of the
    // supplier weekly series, per-replicate mean fit, spread + band
    "q261_bootstrap" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      graft.operators.Bootstrap.meanBand(weekly, Seq("l_suppkey"),
        col("l_suppkey") * lit(100000L) +
          datediff(col("week_start"), lit("1970-01-01")),
        col("qty_sum"), b = 20, frac = 0.8, alpha = 0.9)
    }),
    "q209_ewm_var" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.withEwmVar(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum", 0.3)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("ewm_mean")).as("ewm_mean"), r(col("ewm_var")).as("ewm_var"))
    }),
    "q74_holt" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.withHolt(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum", 0.3, 0.1)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("holt_level")).as("holt_level"), r(col("holt_trend")).as("holt_trend"))
    }),
    "q75_croston" -> ((s, d) => {
      val weekly = li(s, d)
        .groupBy(to_date(date_trunc("week", col("l_shipdate"))).as("week_start"),
          col("l_partkey"), col("l_suppkey"))
        .agg(sum(when(col("l_discount") > 0, col("l_quantity")).otherwise(0.0)).as("dq"))
      graft.seq.SequentialKernels.withCroston(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "dq", 0.2, sba = true)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("croston_forecast")).as("croston_forecast"))
    }),
    "q76_tsb" -> ((s, d) => {
      val weekly = li(s, d)
        .groupBy(to_date(date_trunc("week", col("l_shipdate"))).as("week_start"),
          col("l_partkey"), col("l_suppkey"))
        .agg(sum(when(col("l_discount") > 0, col("l_quantity")).otherwise(0.0)).as("dq"))
      graft.seq.SequentialKernels.withTsb(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "dq", 0.2, 0.1)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("tsb_forecast")).as("tsb_forecast"))
    }),
    "q77_intermittency" -> ((s, d) => {
      val weekly = li(s, d)
        .groupBy(to_date(date_trunc("week", col("l_shipdate"))).as("week_start"),
          col("l_partkey"), col("l_suppkey"))
        .agg(sum(when(col("l_discount") > 0, col("l_quantity")).otherwise(0.0)).as("dq"))
      graft.seq.SequentialKernels.classifyIntermittency(weekly,
        Seq(col("l_partkey"), col("l_suppkey")), col("dq"),
        Seq("l_partkey", "l_suppkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("n_periods"), col("n_nonzero"),
          r(col("adi")).as("adi"), r(col("cv2")).as("cv2"), col("demand_class"))
    }),

    // ---- submission pipeline / post-processing / CV (S7, M13/M14/M17, M1) ----
    "q78_submission_report" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val mean = weekly.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(avg(col("qty_sum")).as("p"))
      val grid = mean
        .withColumn("semana", explode(sequence(lit(1), lit(5))))
        .select(col("semana"), col("l_suppkey").as("pdv"),
          col("l_partkey").as("produto"),
          Calendar.businessRound(col("p")).as("quantidade"))
      graft.io.SubmissionValidator.report(grid)
        .select(col("total_rows"), col("null_rows"), col("bad_week_rows"),
          col("negative_qty_rows"), col("non_integer_rows"), col("n_weeks"),
          col("n_stores"), col("n_products"), col("qty_min"), col("qty_max"),
          r(col("qty_mean")).as("qty_mean"), col("dup_rows"))
    }),
    "q79_postprocess_chain" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val w = SeriesWindow(Seq(col("l_partkey"), col("l_suppkey")), Seq(col("week_start")))
      val processed = graft.post.PostProcess.chain(Seq(
        graft.post.PostProcess.nonNegative("qty_sum"),
        graft.post.PostProcess.sigmaCap("qty_sum", 3.0),
        graft.post.PostProcess.growthCap("qty_sum", w, 2.0),
        graft.post.PostProcess.integerize("qty_sum")))(weekly)
      processed.select(col("week_start"), col("l_partkey"), col("l_suppkey"),
        col("qty_sum").cast("long").as("final_qty"))
    }),
    "q80_cv_folds" -> ((s, d) => {
      val (lo, hi) = graft.cv.TimeSplits.dateBounds(li(s, d), col("l_shipdate"))
      graft.cv.TimeSplits.foldTable(s,
        graft.cv.TimeSplits.walkForward(lo, hi, initialTrainWeeks = 52,
          horizonWeeks = 4, stepWeeks = 26, gapWeeks = 1, maxSplits = 5))
    }),

    // ---- batch 2: moments, regional, profit, feature quality, joins, ML-adjacent ----
    "q81_moments" -> ((s, d) =>
      AggFeatures.moments(li(s, d), Seq(col("l_returnflag")), col("l_quantity"))
        .select(col("l_returnflag"), r(col("qty_skew")).as("qty_skew"),
          r(col("qty_kurt")).as("qty_kurt"), col("n_obs"))),
    "q82_prophet_prep" -> ((s, d) =>
      li(s, d).groupBy(to_date(col("l_shipdate")).as("ds"))
        .agg(r(sum(col("l_quantity"))).as("y"), count(lit(1)).as("n_tx"))
        .filter(col("y") > 0)),
    "q83_regional_rollup" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val joined = li(s, d)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      AggFeatures.regionalRollup(joined, col("n_name"), col("l_suppkey"),
        col("l_partkey"), col("l_quantity"), "region")
        .select(col("region"), r(col("vol_sum")).as("vol_sum"),
          r(col("vol_mean")).as("vol_mean"), col("n_rows"), r(col("vol_std")).as("vol_std"),
          col("n_stores"), col("n_products"), r(col("vol_share")).as("vol_share"),
          col("econ_tier").cast("long").as("econ_tier"),
          r(col("product_diversity")).as("product_diversity"))
    }),
    "q84_profit_rollup" -> ((s, d) =>
      enrichedPart(s, d)
        .withColumn("revenue", col("l_extendedprice") * (lit(1) - col("l_discount")))
        .withColumn("profit", col("revenue") - col("l_quantity") * col("p_retailprice") * 0.5)
        .groupBy(col("p_brand"))
        .agg(r(sum(col("profit"))).as("profit_sum"),
          r(avg(col("profit"))).as("profit_mean"),
          r(nanToNull(stddev(col("profit")))).as("profit_std"),
          r(r(sum(col("profit"))) / r(sum(col("revenue")))).as("margin"))),
    "q85_feature_quality" -> ((s, d) => {
      // features rounded BEFORE the scan: n_distinct over raw doubles is
      // engine-unstable (last-ulp aggregation-order differences)
      val feats = AggFeatures.keyStats(li(s, d), Seq(col("l_partkey")), col("l_quantity"))
        .select(col("l_partkey"), r(col("qty_sum")).as("qty_sum"),
          r(col("qty_mean")).as("qty_mean"), r(col("qty_std")).as("qty_std"))
      graft.operators.FeatureQuality.qualityScan(feats,
        Seq("qty_sum", "qty_mean", "qty_std"))
        .select(col("feature"), col("n_nulls"), col("n_nans"), col("n_zeros"),
          col("n_distinct"), col("is_constant"), r(col("mean")).as("mean"),
          r(col("std")).as("std"))
    }),
    "q86_high_corr" -> ((s, d) => {
      val feats = AggFeatures.keyStats(li(s, d), Seq(col("l_partkey")), col("l_quantity"))
      graft.operators.FeatureQuality.highCorrPairs(feats,
        Seq("qty_sum", "qty_mean", "qty_count"), 0.5)
        .select(col("feature_a"), col("feature_b"), r(col("corr")).as("corr"))
    }),
    "q87_importance" -> ((s, d) => {
      val feats = AggFeatures.keyStats(li(s, d), Seq(col("l_partkey")), col("l_quantity"))
      graft.operators.FeatureQuality.importanceScores(feats,
        Seq("qty_mean", "qty_std", "qty_count"), "qty_sum")
        .select(col("feature"), r(col("score")).as("score"))
    }),
    "q88_scoring_join" -> ((s, d) => {
      val preds = li(s, d).groupBy(col("l_partkey")).agg(avg(col("l_quantity")).as("pred"))
      val scored = li(s, d).join(preds, Seq("l_partkey"), "inner")
      scored.agg(r(Metrics.wmape(col("l_quantity"), col("pred"))).as("wmape"),
        count(lit(1)).as("n_rows"))
    }),
    "q89_multiway_outer" -> ((s, d) => {
      val a = li(s, d).groupBy(col("l_partkey")).agg(r(sum(col("l_quantity"))).as("qty_sum"))
      val b = li(s, d).groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"))
      val c = li(s, d).filter(col("l_discount") > 0.08).groupBy(col("l_partkey"))
        .agg(r(sum(col("l_quantity"))).as("disc_qty"))
      a.join(b, Seq("l_partkey"), "outer").join(c, Seq("l_partkey"), "outer")
    }),
    "q90_affinity" -> ((s, d) =>
      AggFeatures.affinity(li(s, d), col("l_suppkey"), col("l_partkey"), col("l_quantity"))
        .select(col("store"), col("product"), r(col("pair_mean")).as("pair_mean"),
          r(col("product_mean")).as("product_mean"), r(col("store_mean")).as("store_mean"),
          r(col("product_affinity")).as("product_affinity"),
          r(col("store_affinity")).as("store_affinity"))),
    "q91_pivot" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag")).pivot("l_linestatus", Seq("O", "F"))
        .agg(r(sum(col("l_quantity"))))),
    "q92_hurdle" -> ((s, d) =>
      graft.model.Models.hurdleForecast(li(s, d), Seq(col("l_partkey")),
        when(col("l_discount") > 0, col("l_quantity")).otherwise(lit(0.0)),
        Seq("l_partkey"))
        .select(col("l_partkey"), r(col("p_nonzero")).as("p_nonzero"),
          r(col("nz_mean")).as("nz_mean"), col("n_obs"),
          r(col("hurdle_forecast")).as("hurdle_forecast"))),
    "q93_fallback" -> ((s, d) => {
      val train = li(s, d).filter(col("l_shipdate") < lit("1997-01-01"))
      graft.model.Models.hierarchicalFallback(li(s, d), train,
        Seq("l_partkey", "l_suppkey"), Seq("l_partkey"), col("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          r(col("fallback_forecast")).as("fallback_forecast"))
    }),
    "q94_ensemble_meta" -> ((s, d) => {
      val w = Window.partitionBy(col("l_partkey"))
      val preds = li(s, d)
        .withColumn("p1", avg(col("l_quantity")).over(w))
        .withColumn("p2", coalesce(
          WindowFeatures.rollingAvg(col("l_quantity"), 4, sw), col("l_quantity")))
        .withColumn("p3", coalesce(lag(col("l_quantity"), 1).over(sw.w), col("l_quantity")))
      graft.model.Models.ensembleMetaFeatures(preds, Seq("p1", "p2", "p3"))
        .select(col("l_orderkey"), col("l_linenumber"),
          r(col("ens_mean")).as("ens_mean"), r(col("ens_min")).as("ens_min"),
          r(col("ens_max")).as("ens_max"), r(col("ens_range")).as("ens_range"),
          r(col("ens_std")).as("ens_std"),
          r(col("ens_max_disagreement")).as("ens_max_disagreement"))
    }),
    "q95_blend" -> ((s, d) => {
      val w = Window.partitionBy(col("l_partkey"))
      val preds = li(s, d)
        .withColumn("p1", avg(col("l_quantity")).over(w))
        .withColumn("p2", coalesce(
          WindowFeatures.rollingAvg(col("l_quantity"), 4, sw), col("l_quantity")))
        .withColumn("p3", coalesce(lag(col("l_quantity"), 1).over(sw.w), col("l_quantity")))
      graft.model.Models.blend(preds, Seq("p1" -> 0.5, "p2" -> 0.3, "p3" -> 0.2))
        .select(col("l_orderkey"), col("l_linenumber"), r(col("blended")).as("blended"))
    }),
    "q96_kpi" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      Metrics.wmapeByGroup(t, Seq("l_returnflag"), col("l_quantity"), col("pred"))
        .select(col("l_returnflag"), r(col("wmape")).as("wmape"),
          graft.model.Models.kpiStatus(col("wmape")).as("status"))
    }),
    "q97_error_decomp" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
        .withColumn("resid", col("pred") - col("l_quantity"))
      t.groupBy(col("l_linestatus"))
        .agg(r(Metrics.wmape(col("l_quantity"), col("pred"))).as("wmape"),
          r(avg(col("resid"))).as("bias"),
          r(nanToNull(stddev(col("resid")))).as("resid_std"),
          count(lit(1)).as("n_rows"))
    }),
    "q98_lag_deltas" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(WindowFeatures.lagDelta(col("l_quantity"), 1, sw)).as("d1"),
        r(WindowFeatures.lagPctChange(col("l_quantity"), 1, sw)).as("pct1"),
        r(WindowFeatures.lagRatio(col("l_quantity"), 1, sw)).as("ratio1"))),
    "q99_rolling_skew" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(WindowFeatures.rollingSkew(col("l_quantity"), 6, sw)).as("skew6"))),
    "q100_trend_accel" -> ((s, d) =>
      WindowFeatures.withTrendAccel(li(s, d), "l_quantity", 4, sw, "accel4")
        .select(col("l_orderkey"), col("l_linenumber"), r(col("accel4")).as("accel4"))),
    "q101_promo_flag" -> ((s, d) => {
      val priced = li(s, d).withColumn("price", col("l_extendedprice") / col("l_quantity"))
      priced.select(col("l_orderkey"), col("l_linenumber"),
        WindowFeatures.promoFlag(col("price"), 7, sw).as("is_promo"))
    }),
    "q102_sliding_seq" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        array_join(WindowFeatures.slidingWindow(col("l_quantity").cast("long"), 3, sw)
          .cast("array<string>"), ",").as("seq3"))),
    // engine-specific determinism (seeded sample / murmur3 hash): driver
    // records rows-only; determinism is unit-tested
    "q103_sample" -> ((s, d) =>
      AggFeatures.sampleRows(li(s, d), 0.1).agg(count(lit(1)).as("n_sampled"))),
    "q104_hash_bucket" -> ((s, d) =>
      li(s, d).groupBy(Funcs.hashBucket(col("l_partkey"), 16).as("bucket"))
        .agg(count(lit(1)).as("n_rows"))),
    "q105_backfill_median" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(WindowFeatures.backfillGroupMedian(
          lag(col("l_quantity"), 1).over(sw.w), col("l_quantity"), sw)).as("lag1_filled"))),
    // IVF cell assignment depends on the KMeans fit — rows-only; recall
    // vs brute force asserted in SimilaritySpec
    "q106_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.ivfTopK(emb, queries, 10, nlist = 16, nprobe = 4)
    }),
    // LSH-blocked (recall < 1 by design) — rows-only; recall vs exact
    // all-pairs asserted in SimilaritySpec
    // threshold PROFILE of the banded near-dup detector: verified-pair
    // counts per cosine threshold 0.3..0.9. Always 7 rows, so the
    // oracle compares real counts — the old single-threshold 0.9 form
    // was a vacuous 0-row-vs-0-row match on this corpus (max pairwise
    // cosine ≈ 0.51); here the 0.9 band contributes an honest 0 COUNT
    // next to the non-zero low bands
    "q107_embed_near_dupes" -> ((s, d) => {
      import s.implicits._
      val pairs = graft.sim.Similarity.cosineNearDupes(Tables.embeddings(s, d),
        dim = 64, threshold = 0.3)
      val ths = (3 to 9).map(_ / 10.0).toDF("threshold")
      ths.join(pairs, lit(true), "left")
        .groupBy("threshold")
        .agg(sum(when(col("cos_sim") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pairs"))
    }),
    // near-dup variant at one threshold the fixture actually crosses:
    // exercises banding + cosine verify on a non-empty PAIR listing
    // (q107 profiles the counts; this one checks the pair identities)
    "q218_near_dupes_low" -> ((s, d) =>
      graft.sim.Similarity.cosineNearDupes(Tables.embeddings(s, d), dim = 64,
        threshold = 0.4)),
    "q108_weighted_wmape" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      t.groupBy(col("l_returnflag"))
        .agg(r(Metrics.weightedWmape(col("l_quantity"), col("pred"),
          col("l_extendedprice"))).as("weighted_wmape"),
          count(lit(1)).as("n_rows"))
    }),
    "q109_dedup_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.text.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      val clusters = graft.text.Dedup.dedupClusters(pairs)
      graft.text.Dedup.dropNearDupes(docs, "doc_id", clusters)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_survivors"))
    }),
    // A29 FP-Growth path: must produce the IDENTICAL table as the exact
    // pair self-join (q21) — same oracle, mined distributively.
    "q112_cooccurrence_fp" -> ((s, d) =>
      AggFeatures.coOccurrenceFpGrowth(li(s, d), Seq("l_orderkey"), "l_partkey", 3)
        .select(col("item_a"), col("item_b"), col("pair_count"), col("n_a"), col("n_b"),
          r(col("lift")).as("lift"))),
    // Wide feature store: the four-family composition on the weekly
    // grain; the oracle checks a slice spanning every family (temporal
    // lag/delta/rolling/momentum, behavioral rank/age/activity,
    // calendar cyclical, aggregation share/ADI).
    "q110_feature_store" -> ((s, d) => {
      // wideFromFact = the skew-proof default path (r15 ask #5): weekly
      // partial aggregation BEFORE any window — value-identical to the
      // old wide(weeklyAggregate(...)) composition (R16OpsSpec parity
      // pin), so the oracle is unchanged
      graft.operators.FeatureStore.wideFromFact(li(s, d),
        Seq("l_partkey", "l_suppkey"), col("l_shipdate"), col("l_quantity"))
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("lag_1")).as("lag_1"),
          r(col("delta_2")).as("delta_2"),
          r(col("roll4_mean")).as("roll4_mean"),
          r(col("roll4_std")).as("roll4_std"),
          r(col("momentum_1")).as("momentum_1"),
          r(col("pct_rank_in_key")).as("pct_rank_in_key"),
          col("age_weeks"),
          r(col("month_sin")).as("month_sin"),
          r(col("share_of_key")).as("share_of_key"),
          r(col("adi")).as("adi"),
          col("nonzero_last_4"))
    }),
    // M15 residual diagnostics: score lineitem with a per-part group-mean
    // model, then diagnose the residuals per return flag — lag-1..3
    // autocorrelation + Ljung-Box, median-cutoff runs test, fitted-vs-
    // squared-residual correlation.
    "q111_residual_diag" -> ((s, d) => {
      val byPart = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      val scored = li(s, d).withColumn("__pred", avg(col("l_quantity")).over(byPart))
      graft.metrics.ResidualDiagnostics.diagnose(
        scored, Seq("l_returnflag"), col("l_quantity"), col("__pred"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        exactMedian = Some(true))
    }),
    // Portable-hash family: unlike q103/q104 (seeded sample / murmur3 —
    // engine-private, rows-only checks), these compute bit-identical
    // values in any engine, so the driver's hash gate covers them fully.
    "q113_fingerprint_poly" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.PortableHash.polyFingerprint(col("text")).as("fp"))),
    "q114_det_sample" -> ((s, d) =>
      graft.functions.PortableHash.detSample(li(s, d), col("l_orderkey"), 0.1)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))),
    "q115_bucket_poly" -> ((s, d) =>
      part(s, d)
        .groupBy(graft.functions.PortableHash.polyBucket(col("p_brand"), 16).as("bucket"))
        .agg(count(lit(1)).as("n_rows"))),
    "q116_sessionize" -> ((s, d) =>
      graft.operators.Sessions.stats(Tables.events(s, d), 30, col("value"))),
    "q117_tfidf" -> ((s, d) =>
      graft.text.TfIdf.topTerms(Tables.documents(s, d), "doc_id", "text", 3)),
    // as-of join: every purchase picks up the user's most recent
    // click (inclusive) — union-and-carry, one user exchange
    "q118_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.operators.AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof_t")).as("click_us"),
          col("asof_click_id").as("click_id"),
          r(col("asof_click_value")).as("click_value"))
    }),
    // banded range join: price → fixed 5000-wide tier intervals via the
    // bucketed equi-join (the large-interval-table scale path)
    "q119_range_band" -> ((s, d) => {
      val bands = s.range(0, 22).select(col("id").as("tier"),
        (col("id") * lit(5000.0)).as("lo"), ((col("id") + 1) * lit(5000.0)).as("hi"))
      graft.operators.RangeJoin.bandedRange(li(s, d), col("l_extendedprice"),
        bands, "lo", "hi", 5000.0)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))
    }),
    // Theil–Sen robust monthly trend per supplier: median of pairwise
    // slopes (29% breakdown — spikes can't drag it the way they drag
    // the OLS line of q41/q167). MONTHLY grain on purpose: exact
    // Theil–Sen is O(grain²) pairs per series (~85 months → 3.6k
    // pairs vs 59k weekly), and robust long-horizon trend is a
    // coarse-grain question; series count stays the distributed axis
    "q318_theil_sen" -> ((s, d) => {
      val monthly = li(s, d)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("month_start"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
      graft.operators.Ols.theilSen(monthly, Seq("l_suppkey"),
        datediff(col("month_start"), lit("1992-01-01")), col("qty_sum"))
    }),
    // KMV sketch set operations: per-return-flag part-audience
    // sketches (k=32 portable Lehmer minima), then union / Jaccard /
    // intersection estimates for every flag pair — overlap analytics
    // from O(k) state, no data-grain pairwise join
    "q322_kmv_overlap" -> ((s, d) => {
      val sk = graft.operators.SketchRollup.kmvSketchTable(li(s, d),
        Seq("l_returnflag"), lit(0), col("l_partkey")).drop("period")
      graft.operators.SketchRollup.kmvOverlap(sk, "l_returnflag")
    }),
    // lead–lag cross-correlation (sample CCF, Box–Jenkins transfer-
    // function identification): weekly supplier quantity vs discounted
    // revenue at lags −3..+3 — the cross-series companion of q314
    "q321_ccf" -> ((s, d) => {
      val weekly2 = li(s, d)
        .groupBy(date_trunc("week", col("l_shipdate")).cast("date")
          .as("week_start"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("rev_sum"))
      graft.seq.CrossCorr.ccf(weekly2, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum", "rev_sum", maxLag = 3)
    }),
    // Mann–Kendall monotone-trend test on the same monthly pairwise
    // structure as q318: S = sum of pairwise signs, tie-corrected
    // variance, continuity-corrected z, Kendall tau — significance for
    // the Theil–Sen slope with no distributional assumption
    // Kruskal-Wallis H per return flag: does ANY discount tier (the
    // 11 cent-grid levels) ship a shifted quantity distribution? The
    // k-sample screen run before pairwise q329 drills
    "q330_kruskal_wallis" -> ((s, d) =>
      graft.operators.Assoc.kruskalWallis(li(s, d), Seq("l_returnflag"),
        round(col("l_discount") * 100, 0).cast("int"), col("l_quantity"))),
    // Mann-Whitney U per return flag: do discounted lines (> 5%) ship
    // a different quantity distribution than the rest? Rank-sum test
    // with the tie-corrected normal approximation — segment-vs-rest
    // comparison with no normality assumption, fact-linear (one rank
    // window, no pair join)
    "q329_mann_whitney" -> ((s, d) =>
      graft.operators.Assoc.mannWhitneyU(li(s, d), Seq("l_returnflag"),
        col("l_discount") > 0.05, col("l_quantity"))),
    // Benjamini-Hochberg FDR over a 1000-hypothesis family: the
    // per-SUPPLIER Mann-Whitney battery (discounted vs rest quantity),
    // z -> two-sided normal p (A&S 7.1.26 erf polynomial, the accepted
    // exp class) -> BH step-up q-values + reject set at alpha = 0.05 —
    // the multiple-testing capstone the segment-grain rank tests imply
    "q338_bh_fdr" -> ((s, d) => {
      val mw = graft.operators.Assoc.mannWhitneyU(li(s, d), Seq("l_suppkey"),
        col("l_discount") > 0.05, col("l_quantity"))
      graft.metrics.MultipleTesting.bhFdr(
        mw, Nil, Seq("l_suppkey"),
        graft.metrics.MultipleTesting.normalPTwoSided(col("mw_z")),
        alpha = 0.05, tiebreak = col("l_suppkey"))
    }),
    // Split-conformal intervals per return flag: per-part mean model
    // FIT ON CALIBRATION ROWS ONLY (pre-1999; unseen parts fall back
    // to the global calibration mean), conformity quantile qhat =
    // ceil((n+1)(1-alpha))-th smallest |y - yhat|, then the empirical
    // coverage of [yhat +- qhat] on the 1999+ test rows — the
    // distribution-free interval companion of q251/q261, coverage
    // verified inside the query itself
    "q339_conformal" -> ((s, d) => {
      val lines = li(s, d).withColumn("__calib",
        col("l_shipdate") < lit("1999-01-01").cast("date"))
      val partMean = lines.filter(col("__calib"))
        .groupBy(col("l_partkey"))
        .agg(graft.functions.Funcs.microMean(col("l_quantity")).as("__pm"))
      val globalMean = lines.filter(col("__calib"))
        .agg(graft.functions.Funcs.microMean(col("l_quantity")).as("__gm"))
      val scored = lines.join(partMean, Seq("l_partkey"), "left")
        .crossJoin(broadcast(globalMean))
        .withColumn("__pred", coalesce(col("__pm"), col("__gm")))
      graft.metrics.Conformal.splitConformal(scored, Seq("l_returnflag"),
        col("l_quantity"), col("__pred"), col("__calib"), alpha = 0.1)
    }),
    // Wilcoxon signed-rank per return flag: did supplier shipment
    // volumes SHIFT year-over-year (1996 -> 1997)? The PAIRED member
    // of the nonparametric family — each supplier is its own control,
    // so between-supplier level differences cancel (q329 compares
    // independent samples; this compares matched pairs)
    "q332_wilcoxon_signed_rank" -> ((s, d) => {
      val pairs = li(s, d)
        .filter(year(col("l_shipdate")).isin(1996, 1997))
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(when(year(col("l_shipdate")) === 1996, col("l_quantity")))
          .as("__a"),
          sum(when(year(col("l_shipdate")) === 1997, col("l_quantity")))
            .as("__b"))
        .filter(col("__a").isNotNull && col("__b").isNotNull)
      graft.operators.Assoc.wilcoxonSignedRank(pairs, Seq("l_returnflag"),
        col("__a"), col("__b"))
    }),
    // Friedman test per return flag: blocks = suppliers, treatments =
    // calendar quarters — does ANY quarter ship shifted volumes, with
    // each supplier ranked against itself (the BLOCKED k-sample
    // member; q330 Kruskal-Wallis assumes independent samples)
    "q333_friedman" -> ((s, d) => {
      val cells = li(s, d)
        .groupBy(col("l_returnflag"), col("l_suppkey"),
          quarter(col("l_shipdate")).as("__q"))
        .agg(sum(col("l_quantity")).as("__qty"))
      graft.operators.Assoc.friedman(cells, Seq("l_returnflag"),
        col("l_suppkey"), col("__q"), col("__qty"))
    }),
    // Hodges-Lehmann shift per return flag: the experiment-readout
    // estimator — suppliers deterministically split into two arms
    // (lehmer parity, the engine's A/B assignment convention), Delta =
    // median of all cross-arm differences of per-supplier volumes: the
    // "how much higher" number q329's z only tests, robust to 29%
    // contamination
    "q334_hl_shift" -> ((s, d) => {
      val pts = li(s, d)
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("__qty"))
      graft.operators.Assoc.hodgesLehmannShift(pts, Seq("l_returnflag"),
        pmod(graft.functions.PortableHash.lehmer(col("l_suppkey")), lit(2)) === 0,
        col("__qty"))
    }),
    // One-sample Hodges-Lehmann pseudo-median of per-supplier volume
    // per return flag — the robust location companion of q332 (median
    // of Walsh averages, 29% breakdown vs the mean's 0%)
    "q335_hl_center" -> ((s, d) => {
      val pts = li(s, d)
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("__qty"))
      graft.operators.Assoc.hodgesLehmannCenter(pts, Seq("l_returnflag"),
        col("__qty"))
    }),
    // Sampled Kendall tau (the q328 grain-cap's "sample" option as a
    // real operator, r15 verdict ask #4): 300 deterministic
    // Lehmer-drawn index pairs per group estimate concordance; the tie
    // corrections n0/nx/ny stay exact fact-linear aggregates — O(n+s)
    // per group, the long-series scale path mirroring q326's
    "q331_kendall_tau_sampled" -> ((s, d) => {
      val pts = li(s, d)
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("__qty"),
          graft.functions.Funcs.microMean(col("l_discount")).as("__disc"))
      graft.operators.Assoc.kendallTauSampled(pts, Seq("l_returnflag"),
        col("__qty"), col("__disc"), pairsPerGroup = 300)
    }),
    // ---- r17: full oracles for the previously spec-only §2.2/§2.9
    // rows (F1/F2/F6/F9/F11, M2/M3). The cleaning predicates need
    // NULLs/inconsistencies the synthetic tables don't carry, so each
    // query PLANTS them deterministically (key-mod conditions the
    // oracle mirrors verbatim) and then lets the operator clean up —
    // the operator path under test is the real library transform.
    // F1 dropNullKeys: plant NULL keys on two mod conditions, drop,
    // roll up — kept rows are exactly the non-planted ones
    "q342_drop_null_keys" -> ((s, d) => {
      val planted = li(s, d)
        .withColumn("k1", when(col("l_orderkey") % 13 === 0,
          lit(null).cast("long")).otherwise(col("l_partkey")))
        .withColumn("k2", when(col("l_linenumber") % 7 === 3,
          lit(null).cast("long")).otherwise(col("l_suppkey")))
      Cleaning.dropNullKeys(Seq("k1", "k2"))(planted)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))
    }),
    // F2 fillZero: plant NULL measures, fill with 0, verify via sums
    // and explicit zero counts (the fill is visible only if the zeros
    // are counted — a plain sum would match a silent null-skip)
    "q343_fill_zero" -> ((s, d) => {
      val planted = li(s, d)
        .withColumn("qv", when(col("l_orderkey") % 5 === 0,
          lit(null).cast("double")).otherwise(col("l_quantity")))
        .withColumn("dv", when(col("l_suppkey") % 3 === 1,
          lit(null).cast("double")).otherwise(col("l_discount")))
      Cleaning.fillZero(Seq("qv", "dv"))(planted)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          r(sum(col("qv"))).as("sum_qv"),
          graft.functions.Funcs.microSum(col("dv")).as("sum_dv"),
          sum(when(col("qv") === 0.0, 1L).otherwise(0L)).as("n_zero_qv"),
          sum(when(col("dv") === 0.0, 1L).otherwise(0L)).as("n_zero_dv"))
    }),
    // F6 repairUnitPrice: plant a 4dp-rounded unit price, triple it on
    // a mod condition, and let the repair recompute total/qty where
    // the consistency check |total − q·p| > tol trips
    "q344_repair_unit_price" -> ((s, d) => {
      val planted = li(s, d)
        .withColumn("total", col("l_extendedprice"))
        .withColumn("qty", col("l_quantity"))
        .withColumn("price",
          when(col("l_orderkey") % 11 === 0,
            r(col("l_extendedprice") / col("l_quantity")) * lit(3.0))
            .otherwise(r(col("l_extendedprice") / col("l_quantity"))))
      Cleaning.repairUnitPrice("total", "qty", "price")(planted)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Funcs.microSum(col("price")).as("sum_price"))
    }),
    // F9/D9 normalizeString: pad part names with whitespace, normalize
    // (trim + initcap), group on the cleaned value
    "q345_normalize_string" -> ((s, d) => {
      val messy = Tables.part(s, d)
        .withColumn("p_name", concat(lit("  "), col("p_name"), lit("   ")))
      Cleaning.normalizeString("p_name")(messy)
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
    }),
    // F11 priceAnomalyRepair: plant 50× price spikes on a sparse mod
    // condition; the repair caps values above 10×Q99 at the exact Q99
    "q346_price_anomaly" -> ((s, d) => {
      val planted = li(s, d)
        .withColumn("price", when(col("l_orderkey") % 997 === 0,
          col("l_extendedprice") * lit(50.0)).otherwise(col("l_extendedprice")))
      Cleaning.priceAnomalyRepair("price", capMult = 10.0,
        exact = Some(true))(planted)
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Funcs.microSum(col("price")).as("sum_price"),
          r(max(col("price"))).as("max_price"))
    }),
    // M2 blocked CV + purge gap: the fold-boundary table is pure date
    // arithmetic from the dataset bounds — fully oracle-able
    "q347_blocked_cv" -> ((s, d) => {
      val (lo, hi) = graft.cv.TimeSplits.dateBounds(li(s, d), col("l_shipdate"))
      graft.cv.TimeSplits.foldTable(s,
        graft.cv.TimeSplits.blocked(lo, hi, nBlocks = 5, gapWeeks = 1))
    }),
    // M3 per-segment walk-forward: each return flag gets its own date
    // bounds and fold ladder (the q80 spec per segment)
    "q348_per_segment_cv" -> ((s, d) => {
      graft.cv.TimeSplits.perSegmentFoldTable(s, li(s, d),
        col("l_returnflag"), col("l_shipdate"),
        (lo, hi) => graft.cv.TimeSplits.walkForward(lo, hi,
          initialTrainWeeks = 52, horizonWeeks = 4, stepWeeks = 26,
          gapWeeks = 1, maxSplits = 5))
    }),
    // The exact-MIPS kernel (q283's r17 scoring tail) under its OWN
    // full oracle: factor-like 2-d vectors from supplier/part
    // aggregates, top-3 items per queried user by inner product —
    // the oracle replays every pair's rounded score and ranks in SQL,
    // so the norm-pruned scan is proven exhaustive-equivalent on real
    // data at both SFs (R17OpsSpec pins the adversarial corners)
    "q349_mips_topk" -> ((s, d) => {
      val users = li(s, d).groupBy(col("l_suppkey").cast("long").as("u"))
        .agg(r(graft.functions.Funcs.microMean(col("l_quantity"))).as("f1"),
          r(graft.functions.Funcs.microMean(col("l_discount")) * 10).as("f2"))
        .filter(col("u") % 10 === 0)
      val items = li(s, d).groupBy(col("l_partkey").cast("long").as("i"))
        .agg(r(graft.functions.Funcs.microMean(col("l_quantity"))).as("g1"),
          r(graft.functions.Funcs.microMean(col("l_tax")) * 10).as("g2"))
      graft.model.Recommend.mipsTopK(users, items, 3, "user", "item")
    }),
    // The Optuna-boundary closure (reference
    // src/models/lightgbm_master.py:447-530, optimization_pipeline.py):
    // hyperparameter grid × walk-forward folds → per-config CV-WMAPE
    // scoreboard → argmin champion. The SELECTION arithmetic is the
    // engine operator under full oracle here (Tuning.cvScoreboard);
    // the members are deterministic trailing-mean forecasters with the
    // window length as the hyperparameter (w ∈ {1,2,4,8} weeks), so
    // every prediction replays in DuckDB — the MLlib-GBT member family
    // runs through the SAME scoreboard via Tuning.gridSearchGbt
    // (rows-only class, pinned by TuningSpec's XOR-separation test)
    "q340_hyperparam_scoreboard" -> ((s, d) =>
      graft.cv.Tuning.cvScoreboard(cvScored(s, d), col("config"), col("fold"),
        col("qty_sum"), col("pred"))),
    // The PRUNER half of the Optuna boundary (optuna.pruners in
    // optimization_pipeline.py): successive halving over the SAME
    // scored frame — round 0 ranks all four window configs on the
    // first fold and keeps 2; round 1 ranks the survivors on all
    // three folds and crowns the champion. The bracket is the literal
    // Seq((1,2),(3,1)) so the oracle unrolls it as two CTE rounds.
    "q350_successive_halving" -> ((s, d) =>
      graft.cv.Tuning.successiveHalving(cvScored(s, d), col("config"),
        col("fold"), col("qty_sum"), col("pred"), Seq(1 -> 2, 3 -> 1))),
    // Kendall tau-b + Goodman-Kruskal gamma per return flag over the
    // supplier grain (total qty vs mean discount) — the concordance
    // rank-association companion of q247's Spearman, with the
    // both-sides tie correction the q327 machinery carries
    "q328_kendall_tau" -> ((s, d) => {
      val pts = li(s, d)
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("__qty"),
          // micro-int exact mean, not raw avg(): kendall's 4dp tie
          // detection must see the same double in every engine, and a
          // raw double avg() is partial-order dependent at a rounding
          // knife-edge (r15 ADVICE; the Theta/q221 class)
          graft.functions.Funcs.microMean(col("l_discount")).as("__disc"))
      graft.operators.Assoc.kendall(pts, Seq("l_returnflag"),
        col("__qty"), col("__disc"))
    }),
    // Sampled Theil–Sen (the q318 scaladoc's "sample pairs" option as
    // a real operator): 200 deterministic Lehmer-drawn index pairs per
    // series instead of the exact O(n²) self-join — O(n + s) per
    // series, the long-series scale path
    "q326_theil_sen_sampled" -> ((s, d) => {
      val monthly = li(s, d)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("month_start"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
      graft.operators.Ols.theilSenSampled(monthly, Seq("l_suppkey"),
        datediff(col("month_start"), lit("1992-01-01")), col("qty_sum"),
        pairsPerSeries = 200)
    }),
    // Mann–Kendall with TIED x, exercising the full Kendall (1975)
    // variance (both tie tables + cross terms — the r15 ADVICE fix):
    // monthly observations scored against a QUARTER time index, so
    // every quarter is a 3-way x tie by construction
    "q327_mann_kendall_tied" -> ((s, d) => {
      val monthly = li(s, d)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("month_start"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
      graft.operators.Ols.mannKendall(monthly, Seq("l_suppkey"),
        floor(months_between(col("month_start"), lit("1992-01-01")) / 3),
        col("qty_sum"))
    }),
    "q319_mann_kendall" -> ((s, d) => {
      val monthly = li(s, d)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("month_start"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
      graft.operators.Ols.mannKendall(monthly, Seq("l_suppkey"),
        datediff(col("month_start"), lit("1992-01-01")), col("qty_sum"))
    }),
    // Ljung–Box portmanteau Q at h=5 on the weekly series — the
    // Box–Jenkins whiteness statistic over q314's rounded sample
    // autocorrelations (compare to chi-square; threshold is the
    // caller's)
    "q320_ljung_box" -> ((s, d) => {
      val weekly = weeklyShared(s, d)
      graft.seq.YuleWalker.ljungBox(weekly, Seq("l_suppkey"),
        Seq(col("week_start")), "qty_sum")
    }),
    // Skew-proof rolling aggregates: coarse-bucket partial aggregation,
    // then the window over partials (the SkewProbe mitigation as an
    // operator) — trailing-4-week supplier rollup whose per-series
    // window depth is bounded by the calendar, not the row count
    "q325_partialed_rolling" -> ((s, d) =>
      graft.operators.WindowFeatures.partialedRolling(
        li(s, d), Seq(col("l_suppkey")),
        floor(datediff(col("l_shipdate"), lit("1992-01-01")) / lit(7)),
        col("l_quantity"), nBuckets = 4)),
    // Jarque–Bera normality statistic on the q111 residual frame
    // (per-part group-mean model, per-flag slices) — the named
    // normality test of the reference's residual suite
    // (error_analysis.py:29-30,687-700): JB = n/6(S² + K²/4) from
    // exact micro-int central moments
    "q323_jarque_bera" -> ((s, d) => {
      val byPart = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      val scored = li(s, d).withColumn("__pred", avg(col("l_quantity")).over(byPart))
      graft.metrics.ResidualDiagnostics.jarqueBera(
        scored, Seq("l_returnflag"), col("l_quantity"), col("__pred"))
    }),
    // Engle ARCH-LM (lag-1 n·r1² form) + McLeod–Li Q(5) on SQUARED
    // residuals of the same frame — the heteroskedasticity/ARCH leg of
    // the reference's residual suite, q320's portmanteau machinery
    // pointed at resid²
    "q324_arch_lm" -> ((s, d) => {
      val byPart = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      val scored = li(s, d).withColumn("__pred", avg(col("l_quantity")).over(byPart))
      graft.metrics.ResidualDiagnostics.archLm(
        scored, Seq("l_returnflag"), col("l_quantity"), col("__pred"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
    }),
    // reciprocal-rank fusion (Cormack et al. 2009) over two
    // heterogeneous per-flag supplier rankings (by quantity and by
    // discounted revenue) — rank order only, no score calibration;
    // micro-int reciprocal sums keep the fusion engine-exact
    "q317_rrf_fusion" -> ((s, d) => {
      val base = li(s, d)
        .groupBy(col("l_returnflag").as("query_id"),
          col("l_suppkey").as("neighbor_id"))
        .agg(sum(col("l_quantity")).as("__qty"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__rev"))
      def top20(m: String) = base.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(m).desc, col("neighbor_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      graft.sim.Fusion.rrf(Seq(top20("__qty"), top20("__rev")),
        k0 = 60, topK = 10, queryCol = "query_id", docCol = "neighbor_id")
    }),
    // differentially-private-style aggregate release: per-(flag,
    // supplier) noisy count + noisy quantity sum, Laplace noise drawn
    // DETERMINISTICALLY from the portable poly+Lehmer hash of the group
    // key (consistent-release discipline — republishing reuses the
    // draw); true values never appear in the output
    "q316_dp_release" -> ((s, d) =>
      graft.etl.Privacy.dpRelease(li(s, d),
        Seq(("l_returnflag", col("l_returnflag")),
          ("l_suppkey", col("l_suppkey"))),
        col("l_quantity"), eps = 1.0, sensitivity = 50.0)),
    // interval×interval OVERLAP join (the third non-equi join form):
    // part price bands [p, p+100) against supplier balance bands
    // [b, b+500), bucketed equi-join with the first-shared-bucket
    // dedup — count parity with the oracle's plain inequality join is
    // exactly the duplicate-elimination correctness check
    "q315_overlap_join" -> ((s, d) => {
      val lhs = part(s, d).select(col("p_partkey"),
        col("p_retailprice").cast("double").as("plo"),
        (col("p_retailprice").cast("double") + lit(100.0)).as("phi"))
      val rhs = Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_acctbal").cast("double").as("slo"),
        (col("s_acctbal").cast("double") + lit(500.0)).as("shi"))
      graft.operators.RangeJoin.overlapJoin(lhs, "plo", "phi",
        rhs, "slo", "shi", bucketWidth = 500.0)
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_overlap"), min(col("s_suppkey")).as("min_supp"))
    }),
    // class-rebalancing stratified sample (portable, key-consistent)
    "q120_stratified_sample" -> ((s, d) =>
      graft.functions.PortableHash.stratifiedSample(li(s, d), col("l_orderkey"),
        col("l_returnflag"), Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.1))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))),
    // PII-style scrub + structured extraction over semi-structured props
    "q121_scrub_extract" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        graft.text.TextAnalysis.extractLong(col("props"), "\"k\":\\s*(\\d+)").as("k"),
        graft.text.TextAnalysis.redact(col("props"), "\\d+").as("props_redacted"))),
    // portable MinHash-LSH: the band-bucket candidate set itself is
    // engine-reproducible (vs q65's xxhash64 variant, rows-only)
    "q122_minhash_portable" -> ((s, d) =>
      graft.text.Dedup.minHashCandidatesPortable(Tables.documents(s, d), "doc_id", "text")),
    "q123_simhash_portable" -> ((s, d) =>
      graft.text.Dedup.simHashCandidatesPortable(Tables.documents(s, d), "doc_id", "text")),
    // span-level (exact-substring-style) corpus dedup: keep the first
    // global occurrence of every 10-word span, reconstruct documents
    "q124_span_dedup" -> ((s, d) =>
      graft.text.SpanDedup.dedupSpans(Tables.documents(s, d), "doc_id", "text", 10)),
    // Gopher-style repetition signals over word bigrams
    "q125_repetition" -> ((s, d) =>
      graft.text.Repetition.ngramRepetition(Tables.documents(s, d), "doc_id", "text", 2)
        .select(col("doc_id"), col("top_gram"), col("top_cnt"),
          col("top_gram_char_frac"), col("dup_gram_char_frac"))),
    // closed-form per-series harmonic (yearly-seasonality) fit on the
    // weekly supplier series — the distributed Prophet-lite seasonal term
    "q126_harmonic_fit" -> ((s, d) => {
      val wk = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      graft.operators.HarmonicRegression.fit(wk, Seq("l_suppkey"),
        datediff(col("week_start"), lit(java.sql.Date.valueOf("1995-01-01"))).cast("double") / 7.0,
        col("qty_sum"), 52.0)
        .select(col("l_suppkey"), col("n_obs"),
          r(col("b0")).as("b0"), r(col("b1")).as("b1"), r(col("b2")).as("b2"),
          r(col("amplitude")).as("amplitude"))
    }),
    // sketch-based profiling: HLL distinct + t-digest median — the
    // bounded-memory scale posture (estimates are engine-specific →
    // rows-only; AggFeaturesSpec bounds the error vs exact)
    "q127_sketch_profile" -> ((s, d) =>
      AggFeatures.sketchProfile(li(s, d), Seq(col("l_returnflag")), col("l_quantity"))
        .select(col("l_returnflag"), col("n_rows"), col("approx_distinct"),
          r(col("approx_median")).as("approx_median"), r(col("mean")).as("mean"))),
    // fuzzy-dedup verify: LSH candidates → exact Levenshtein gate
    // (levenshtein is engine-portable, so this IS oracle-checkable)
    "q128_edit_verify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.FuzzyVerify.editDistanceVerify(docs,
        graft.text.Dedup.minHashCandidatesPortable(docs, "doc_id", "text"),
        "doc_id", "text", maxRatio = 0.3)
    }),
    // corpus vocabulary: Zipf top-200 with cumulative coverage
    "q129_vocab" -> ((s, d) =>
      graft.text.Vocab.topTokens(Tables.documents(s, d), "text", 200)),
    // Gopher-style quality filter rule bundle + keep decision
    "q130_quality_filter" -> ((s, d) =>
      graft.text.QualityFilter.gopherFilter(Tables.documents(s, d), "doc_id", "text")),
    // data mixing: deterministic sample to target source proportions
    "q131_source_mix" -> ((s, d) =>
      graft.text.CorpusMix.mixToTarget(Tables.documents(s, d), "doc_id", "source",
        MixWeights, targetFraction = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))),
    // benchmark decontamination: train docs sharing 4-word shingles
    // with the (stand-in) benchmark slice doc_id < 10
    "q132_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Decontaminate.report(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 4)
    }),
    // BM25 ranked retrieval against a fixed bag-of-words query
    "q133_bm25" -> ((s, d) =>
      graft.text.Bm25.search(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "window", "hash", "merge"), k = 20)),
    // pretraining sequence packing: contiguous-fill 256-token bins per source
    "q134_seq_pack" -> ((s, d) =>
      graft.text.SequencePack.bins(Tables.documents(s, d), "source", "doc_id",
        "text", budget = 256)),
    // robust (median/IQR) scaling within return-flag groups
    "q135_robust_scale" -> ((s, d) =>
      graft.etl.Cleaning.robustScale(li(s, d), Seq(col("l_returnflag")), col("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"), r(col("l_quantity")).as("qty"),
          r(col("robust_z")).as("robust_z"))),
    // STL-lite additive decomposition on the weekly supplier series
    "q136_decompose" -> ((s, d) => {
      val wk = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      graft.operators.Decompose.additive(wk, Seq("l_suppkey"), col("week_start"),
        col("qty_sum"), weekofyear(col("week_start")))
        .select(col("l_suppkey"), col("week_start"), r(col("qty_sum")).as("qty"),
          r(col("trend")).as("trend"), r(col("seasonal")).as("seasonal"),
          r(col("residual")).as("residual"))
    }),
    // PSI drift: price distribution, 1995 (reference) vs 1996+ (current)
    "q137_psi" -> ((s, d) =>
      graft.operators.Decompose.psi(li(s, d),
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
        col("l_extendedprice"), exact = Some(true))
        .select(col("bin"), col("ref_n"), col("cur_n"),
          r(col("ref_share")).as("ref_share"), r(col("cur_share")).as("cur_share"),
          r(col("psi_contrib")).as("psi_contrib"))),
    // the full corpus-curation pipeline: quality filter → exact dedup →
    // source mix → sequence pack (composition of q130/q60/q131/q134)
    "q138_curate" -> ((s, d) =>
      graft.app.Jobs.curateCorpus(s, d, MixWeights, targetFraction = 0.5, budget = 256)),
    // contrastive-training random negatives (bucket-probe, deterministic)
    "q139_random_negatives" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"), (col("doc_id") + 1).as("positive_id"))
      graft.sim.Negatives.randomNegatives(docs, queries, k = 5)
    }),
    // hard negatives: cosine neighbors minus labeled positives
    "q140_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val positives = queries.select(col("query_id"),
        (col("query_id") + 1).as("positive_id"))
      graft.sim.Negatives.hardNegatives(emb, queries, positives, k = 10)
    }),
    // bloom-pruned semi-join: lineitems of high-value orders — the bloom
    // prefilter drops non-members scan-side, before the join shuffle
    "q141_bloom_semi" -> ((s, d) => {
      val keys = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      graft.operators.BloomPrune.semiJoin(li(s, d), keys, "l_orderkey", "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    }),
    // bloom-pruned anti-join (block-list flavor): bloom-rejected rows pass
    // with no shuffle at all; only the maybe-set reaches the exact anti
    "q142_bloom_anti" -> ((s, d) => {
      val keys = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      graft.operators.BloomPrune.antiJoin(li(s, d), keys, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), r(sum(col("l_quantity"))).as("sum_qty"))
    }),
    // z-order (Morton) clustering key: bit-interleave of (partkey, suppkey)
    "q143_zorder" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.operators.Layout.zValue(Seq(col("l_partkey"), col("l_suppkey")), 8).as("z"))),
    // bigram LM corpus-quality scoring (add-k smoothed, self-trained)
    "q144_bigram_lm" -> ((s, d) =>
      graft.text.NgramLm.score(Tables.documents(s, d), "doc_id", "text")),
    // interpolated Kneser-Ney bigram scoring — the KenLM-default
    // smoothing: discounted seen mass redistributed by continuation
    // diversity (Kneser & Ney 1995), D = 0.75
    "q276_kneser_ney" -> ((s, d) =>
      graft.text.NgramLm.scoreKneserNey(Tables.documents(s, d), "doc_id", "text")),
    // temperature-scaled source mixing weights (T=2): w ∝ share^(1/T)
    // normalized — the multilingual-LM low-resource boost
    "q280_temperature_mix" -> ((s, d) =>
      graft.text.CorpusMix.temperatureWeights(Tables.documents(s, d),
        "source", temperature = 2.0)),
    // SCD2 validity intervals from the events change log
    "q145_scd2" -> ((s, d) =>
      graft.operators.Scd.scd2(Tables.events(s, d), Seq("user_id"),
        Seq(col("ts"), col("event_id")), Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("version"), col("is_current"))),
    // SemDeDup: cluster-scoped embedding dedup over the portable
    // fixed-iteration Lloyd cells (q204 recipe) — fully oracled; the
    // MLlib-KMeans variant (SemDedup.semDedup) stays the engine path,
    // verified by SemDedupBpeSpec recall assertions
    "q146_semdedup" -> ((s, d) =>
      graft.sim.SemDedup.semDedupPortable(Tables.embeddings(s, d))),
    // distributed BPE: learn merges on the corpus vocabulary, encode docs
    // — fully oracled via the 24-iteration unrolled-CTE twin (bpeSql);
    // SemDedupBpeSpec additionally pins an independent local reference
    "q147_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.learnMerges(docs, "text", numMerges = 24)
      graft.text.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"), col("n_pieces"))
    }),
    // CDC apply: orders as a change feed over the customer dimension
    // (latest order per customer wins; F=update, O=insert-style upsert,
    // P=delete) — one max_by winner agg + one full-outer merge
    "q148_cdc" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val changes = Tables.orders(s, d).select(
        col("o_custkey").as("c_custkey"),
        lit("updated").as("c_name"),
        pmod(col("o_custkey"), lit(25L)).as("c_nationkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "P", "D").otherwise("U").as("op"))
      graft.operators.Cdc.applyChanges(cust, changes, Seq("c_custkey"), "seq", "op")
    }),
    // funnel: view -> click -> purchase conversion over the event stream
    "q149_funnel" -> ((s, d) =>
      graft.operators.Funnel.funnel(Tables.events(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))),
    // weekly cohort retention triangle
    "q150_retention" -> ((s, d) =>
      graft.operators.Cohorts.retention(Tables.events(s, d), "user_id", "ts", 8)),
    // weighted sampling without replacement (A-ES, portable): 20 docs per
    // source, probability proportional to document length
    "q151_weighted_sample" -> ((s, d) =>
      graft.functions.PortableHash.weightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        col("doc_id"), col("n_chars"), k = 20, groupCols = Seq(col("source")))
        .select(col("source"), col("doc_id"), col("sample_key"), col("rank"))),
    // fixed-point PageRank over the symmetrized part<->supplier graph —
    // bit-exact integer arithmetic, fully oracle-checked (5 iterations)
    "q152_pagerank" -> ((s, d) => {
      val liv = li(s, d)
      val fwd = liv.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = liv.select((col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))
      graft.graph.PageRankOp.pageRank(fwd.union(rev), "src", "dst", iters = 5)
    }),
    // ---- model-evaluation metrics family (Eval) ----
    // label for the whole family: l_returnflag = 'R'; score: l_discount
    // (11 distinct values -> exercises the tie-aware formulations)
    "q153_auc" -> ((s, d) =>
      graft.metrics.Eval.auc(li(s, d), col("l_discount"),
        col("l_returnflag") === "R", Seq("l_linestatus"))),
    "q154_ks" -> ((s, d) =>
      graft.metrics.Eval.ks(li(s, d), col("l_discount"),
        col("l_returnflag") === "R", Seq("l_linestatus"))),
    "q155_gains" -> ((s, d) =>
      graft.metrics.Eval.gains(li(s, d), col("l_discount"),
        col("l_returnflag") === "R")),
    "q156_threshold_sweep" -> ((s, d) =>
      graft.metrics.Eval.thresholdSweep(li(s, d), col("l_discount"),
        col("l_returnflag") === "R", steps = 10, denom = 100.0)),
    // pseudo-probability: l_discount*10 in [0,1]
    "q157_calibration" -> ((s, d) =>
      graft.metrics.Eval.calibration(li(s, d), col("l_discount") * 10,
        col("l_returnflag") === "R", bins = 10)),
    // ---- categorical association family (Assoc) ----
    "q158_chi2" -> ((s, d) =>
      graft.operators.Assoc.chi2(li(s, d), "l_returnflag", "l_linestatus")),
    "q159_mutual_info" -> ((s, d) =>
      graft.operators.Assoc.mutualInfo(li(s, d), "l_returnflag", "l_linestatus")),
    "q160_target_encode" -> ((s, d) =>
      graft.operators.Assoc.targetEncode(li(s, d), "l_partkey",
        col("l_returnflag") === "R", m = 10.0)),
    // ---- event analytics ----
    // purchases credited to view/click touches in a 7-day lookback
    "q161_attribution" -> ((s, d) =>
      graft.operators.Attribution.touchAttribution(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id",
        convType = "purchase", touchTypes = Seq("view", "click"), lookbackDays = 7)),
    "q162_ohlc" -> ((s, d) =>
      graft.operators.Bars.ohlc(Tables.events(s, d), "event_type", "ts",
        "event_id", "value", bucket = "hour")),
    // ---- graph ops (full oracles: integer-exact) ----
    // triangle census of the co-purchase graph (parts sharing an order)
    "q163_triangles" -> ((s, d) =>
      graft.graph.Triangles.triangleCount(
        graft.graph.Triangles.coOccurrenceEdges(li(s, d), "l_orderkey", "l_partkey"))),
    // 5-round min-label propagation over the part<->supplier bipartite graph
    "q164_cc_labelprop" -> ((s, d) => {
      val liv = li(s, d)
      val e = liv.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      graft.graph.LabelProp.ccFixed(e, "src", "dst", iters = 5)
    }),
    // ---- CUSUM change detection (recursive-CTE oracle) ----
    // weekly per-series quantities centered on the series mean (rounded
    // on both sides so the recursion starts from identical doubles)
    "q165_cusum" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val mean = weekly.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(graft.functions.Funcs.microMean(col("qty_sum")).as("__mu"))
      val centered = weekly.join(mean, Seq("l_partkey", "l_suppkey"))
        .withColumn("__delta", col("qty_sum") - col("__mu"))
      graft.seq.SequentialKernels.withCusum(centered,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")),
        "__delta", slack = 2.0, h = 10.0)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("cusum_pos")).as("cusum_pos"), r(col("cusum_neg")).as("cusum_neg"),
          col("cusum_alarm"))
    }),
    // 2-D Pareto frontier of per-part (total qty, total revenue) —
    // revenue rounded on BOTH sides before the dominance comparison so
    // the frontier decision never hinges on summation-order ulps
    "q166_pareto" -> ((s, d) => {
      val perPart = li(s, d).groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("x"), r(sum(col("l_extendedprice"))).as("y"))
      graft.operators.Pareto.frontier2d(perPart, col("x"), col("y"))
    }),
    // per-part two-feature OLS: qty ~ time index + discount-% — all
    // regressors integer-valued, so the normal-equation sums are exact
    // and coefficients bit-identical across engines
    "q167_ols2" -> ((s, d) => {
      val withRn = li(s, d).withColumn("__rn",
        row_number().over(Window.partitionBy(col("l_partkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
          .cast("double"))
      graft.operators.Ols.fit2(withRn, Seq("l_partkey"), col("__rn"),
        round(col("l_discount") * 100, 0), col("l_quantity"))
    }),
    // Welch two-sample test: open vs finished order lines on revenue
    "q168_abtest" -> ((s, d) =>
      graft.metrics.Eval.abTest(li(s, d), col("l_linestatus"),
        col("l_extendedprice"), "O", "F")),
    // Zipf log-log OLS over the top-500 vocabulary
    "q169_zipf_fit" -> ((s, d) =>
      graft.text.Vocab.zipfFit(Tables.documents(s, d), "text", 500)),
    // inverted index: token -> df + bounded sorted posting list
    "q170_inverted_index" -> ((s, d) =>
      graft.text.InvertedIndex.build(Tables.documents(s, d), "doc_id", "text", 20)),
    // rolling qty/price correlation (8-row trailing frame); price
    // rounded to whole units on both sides -> exact integer window sums
    "q171_rolling_corr" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        r(graft.operators.WindowFeatures.rollingCorr(col("l_quantity"),
          round(col("l_extendedprice"), 0), 8, sw)).as("roll_corr"))),
    // proportional top-down reconciliation: supplier totals x 1.1
    // disaggregated to parts by historical share
    "q172_reconcile" -> ((s, d) =>
      graft.operators.Reconcile.topDownFromActuals(li(s, d),
        "l_suppkey", "l_partkey", col("l_quantity"), growth = 1.1)),
    // split-conformal intervals on the weekly naive forecast,
    // calibrated per supplier at alpha=0.9 (exact percentile: oracle)
    "q173_conformal" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
        .orderBy(col("week_start")).rowsBetween(-4, -1)
      val withPred = weekly.withColumn("pred", avg(col("qty_sum")).over(w))
      graft.operators.Conformal.splitConformal(withPred, Seq("l_suppkey"),
        col("qty_sum"), col("pred"), alpha = 0.9, exact = Some(true))
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("pred")).as("pred"), r(col("conf_width")).as("conf_width"),
          r(col("lo")).as("lo"), r(col("hi")).as("hi"))
    }),
    // ABC (cumulative revenue Pareto) x XYZ (weekly-demand CV) classes
    "q174_abc_xyz" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey")), col("l_quantity"),
        extraAggs = Seq(sum(col("l_extendedprice")).as("rev_sum")))
      graft.operators.Abc.abcXyz(weekly, "l_partkey", col("qty_sum"), col("rev_sum"))
    }),
    // diff-in-differences: discounted vs full-price lines, pre/post 1996
    "q175_did" -> ((s, d) =>
      graft.operators.Uplift.diffInDiff(li(s, d),
        col("l_discount") > 0, col("l_shipdate") >= lit("1996-01-01"),
        col("l_quantity"))),
    // END-TO-END forecast evaluation report: naive forecast ->
    // conformal bands -> WMAPE/bias/coverage, one composed plan
    "q176_eval_report" -> ((s, d) => graft.app.Jobs.evaluateForecast(s, d)),
    // wide->long melt of the per-part (qty, revenue) aggregate
    "q177_melt" -> ((s, d) => {
      val wide = li(s, d).groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"),
          r(sum(col("l_extendedprice"))).as("revenue"))
      graft.operators.Reshape.melt(wide, Seq("l_partkey"), Seq("qty", "revenue"))
    }),
    // first-order Markov transition matrix over the event stream
    "q178_transitions" -> ((s, d) =>
      graft.operators.EventSeq.transitionMatrix(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id")),
    // top 3-step opening event paths across users
    "q179_paths" -> ((s, d) =>
      graft.operators.EventSeq.topPaths(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id", k = 3)),
    // one-pass multi-column profile (describe)
    "q180_profile" -> ((s, d) =>
      graft.operators.Reshape.profile(li(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),
    // native typed-imperative top-k aggregate (bounded heap, no window
    // sort): top-3 order values per supplier
    "q181_topk" -> ((s, d) =>
      li(s, d).groupBy(col("l_suppkey"))
        .agg(graft.expr.TopKExpr.column(col("l_extendedprice"), 3).as("__tv"))
        .select(col("l_suppkey"), posexplode(col("__tv")))
        .select(col("l_suppkey"), (col("pos") + 1).cast("long").as("rank"),
          col("col").as("value"))),
    // windowed funnel: view -> click -> purchase within 2h of the view
    "q182_window_funnel" -> ((s, d) =>
      graft.operators.Funnel.windowFunnel(Tables.events(s, d), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"), windowSec = 7200L)),
    // Fellegi-Sunter record linkage: customers blocked by nation,
    // scored on segment/balance-bucket/name-length agreement
    "q183_linkage" -> ((s, d) => {
      import graft.operators.RecordLinkage.FieldCmp
      graft.operators.RecordLinkage.linkPairs(Tables.customer(s, d),
        "c_custkey", Seq("c_nationkey"),
        Seq(
          FieldCmp(col("c_mktsegment") === col("b_c_mktsegment"), 0.9, 0.2),
          FieldCmp(floor(col("c_acctbal") / 1000) === floor(col("b_c_acctbal") / 1000), 0.8, 0.1),
          FieldCmp(length(col("c_name")) === length(col("b_c_name")), 0.7, 0.3)),
        threshold = 2.0)
    }),
    // Kaplan-Meier: seconds from first view to first purchase per user,
    // right-censored at the end of the observation window
    "q184_km" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v0 = ev.filter(col("event_type") === "view").groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("v0"))
      val p0 = ev.filter(col("event_type") === "purchase").groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("p0"))
      val mx = ev.agg(max(unix_micros(col("ts"))).as("__mx"))
      val converted = col("p0").isNotNull && col("p0") >= col("v0")
      val dur = v0.join(p0, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(converted, expr("(p0 - v0) div 1000000"))
            .otherwise(expr("(__mx - v0) div 1000000")).as("t"),
          when(converted, lit(1)).otherwise(lit(0)).as("e"))
      graft.operators.Survival.kaplanMeier(dur, col("t"), col("e"))
    }),
    // Gini concentration of revenue over the part assortment
    "q185_gini" -> ((s, d) => {
      val perPart = li(s, d).groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      graft.operators.Survival.gini(perPart, "l_partkey", col("rev"))
    }),
    // anomaly flags: STL-lite residual z-score > 2.5 per supplier series
    // (z rounded on BOTH sides before the threshold, so flags cannot
    // flip on summation-order ulps)
    "q186_anomaly" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val dec = graft.operators.Decompose.additive(weekly, Seq("l_suppkey"),
        col("week_start"), col("qty_sum"), weekofyear(col("week_start")))
      val stats = dec.groupBy(col("l_suppkey")).agg(
        count(lit(1)).cast("double").as("__n"),
        sum(col("residual")).as("__s"),
        sum(col("residual") * col("residual")).as("__ss"))
      dec.join(broadcast(stats), "l_suppkey")
        .withColumn("__std", sqrt((col("__ss") - col("__s") * col("__s") / col("__n"))
          / (col("__n") - 1)))
        .withColumn("z", r((col("residual") - col("__s") / col("__n")) / col("__std")))
        .filter(abs(col("z")) > 2.5)
        .select(col("l_suppkey"), col("week_start"),
          r(col("residual")).as("residual"), col("z"))
    }),
    // implicit-ALS co-purchase recommendations (seeded; factor values
    // are engine-internal float math -> rows-only gate, RecommendSpec
    // verifies preference structure)
    "q187_als" -> ((s, d) => {
      val ratings = li(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").cast("int").as("user"),
          col("l_partkey").cast("int").as("item"))
        .agg(count(lit(1)).cast("float").as("cnt"))
      val model = graft.model.Recommend.fitAls(ratings, "user", "item", "cnt",
        rank = 4, maxIter = 5)
      graft.model.Recommend.recommendTopK(model, 5, "user", "item")
    }),
    // PrefixSpan sequential patterns over per-user event-type sequences
    // (iterative projected-database mining -> rows-only gate,
    // RecommendSpec verifies against a hand-computed corpus)
    "q188_prefixspan" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val seqs = ev.groupBy(col("user_id"))
        .agg(transform(array_sort(collect_list(struct(
          unix_micros(col("ts")).as("o1"), col("event_id").as("o2"),
          col("event_type").as("t")))), _.getField("t")).as("seq"))
      graft.model.Recommend.sequentialPatterns(seqs, "seq",
        minSupport = 0.2, maxLength = 3)
    }),
    // portable rank-2 explicit ALS twin of q187: fixed iterations,
    // closed-form 2×2 ridge solves, 4dp-rounded factor state, exact
    // micro-int sufficient statistics — fully oracled. Cost shape at
    // sf0.1 (~5s warm, was 8.9s before the r12 TopKPairsExpr scoring
    // tail): four sequentially-materialized alternating half-steps
    // over the 590k-pair ratings fact (each a broadcast join +
    // decimal(38,0)-exact aggregate — the price of cross-engine
    // bit-exactness) plus a bounded-heap top-k over the 15M-row
    // scoring frame; q187 (MLlib implicit ALS) stays the fast engine
    // path. Scoring tail restricted to the u ≡ 0 (mod 20) query set
    // (the ANN query-set convention; full cross-scoring is quadratic)
    "q283_als_portable" -> ((s, d) => {
      val ratings = li(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      graft.model.Recommend.alsPortable(ratings, "user", "item", "cnt",
        scoreUserMod = Some(20L))
    }),
    // portable sequential-pattern twin of q188: subsequence-containment
    // counting for patterns up to length 3 over per-user event-type
    // sequences — fully oracled
    "q284_prefixspan_portable" -> ((s, d) =>
      graft.model.Recommend.sequentialPatternsPortable(Tables.events(s, d),
        "user_id", "event_type", Seq(col("ts"), col("event_id")),
        minSupport = 0.2)),
    // RAG chunking: 200-char windows, 50-char overlap (stride 150)
    "q189_chunk" -> ((s, d) =>
      graft.text.Chunker.chunk(Tables.documents(s, d), "doc_id", "text",
        size = 200, overlap = 50)),
    // token-budgeted chunk windows (64 tokens, 16 overlap)
    "q208_chunk_tokens" -> ((s, d) =>
      graft.text.Chunker.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
        size = 64, overlap = 16)),
    // element-wise mean pooling of embeddings per class label
    "q190_mean_pool" -> ((s, d) =>
      graft.text.Chunker.meanPool(Tables.embeddings(s, d), "label", "embedding")),
    // additive Holt-Winters (m=4 cycle) — seasonal-ring recursion has
    // no practical SQL mirror -> rows-only; SequentialKernelsSpec pins
    // a hand recursion
    "q191_holt_winters" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.withHoltWinters(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum",
        alpha = 0.3, beta = 0.1, gamma = 0.2, m = 4)
        .select(col("week_start"), col("l_partkey"), col("l_suppkey"),
          r(col("hw_level")).as("hw_level"), r(col("hw_trend")).as("hw_trend"),
          r(col("hw_seasonal")).as("hw_seasonal"))
    }),
    // additive Holt-Winters h-step forecast: last (level, trend) +
    // the season ring's latest slot values, literal extrapolation
    "q266_hw_forecast" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
      graft.seq.SequentialKernels.holtWintersForecast(weekly,
        Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum",
        alpha = 0.3, beta = 0.1, gamma = 0.2, m = 4, h = 3)
    }),
    // expectation-suite rule report over the fact table
    "q192_rule_report" -> ((s, d) =>
      Cleaning.ruleReport(li(s, d), Seq(
        "qty_positive" -> (col("l_quantity") > 0),
        "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
        "price_positive" -> (col("l_extendedprice") > 0),
        "shipdate_present" -> col("l_shipdate").isNotNull,
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R")))),
    // incremental aggregate maintenance: merge(agg(pre-1996), agg(1996+))
    // hash-proved equivalent to the full recompute oracle
    "q193_incremental" -> ((s, d) => {
      val split = lit("1996-01-01")
      def weekly(part: DataFrame) = Enrichment.weeklyAggregate(part,
        col("l_shipdate"), Seq(col("l_suppkey")), col("l_quantity"))
      val base = weekly(li(s, d).filter(col("l_shipdate") < split))
      val delta = weekly(li(s, d).filter(col("l_shipdate") >= split))
      graft.operators.Incremental.mergeAdditive(base, delta,
        Seq("week_start", "l_suppkey"), Seq("qty_sum", "n_rows"))
    }),
    // quantile normalization: each supplier's price distribution mapped
    // onto the global price distribution
    "q194_quantile_norm" -> ((s, d) =>
      graft.operators.QuantileNorm.normalize(li(s, d), li(s, d),
        col("l_extendedprice"), Seq("l_suppkey"), col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"), col("normalized"))),
    // weekly assortment churn: active/new/last-seen part counts per week
    // — three key-grain aggregates joined on the week spine (the weekly
    // aggregate view of the q49 per-key lifecycle)
    "q195_assortment_churn" -> ((s, d) => {
      val wk = li(s, d).select(
        to_date(date_trunc("week", col("l_shipdate"))).as("week_start"),
        col("l_partkey")).distinct()
      val spans = wk.groupBy(col("l_partkey"))
        .agg(min(col("week_start")).as("__fw"), max(col("week_start")).as("__lw"))
      val active = wk.groupBy(col("week_start")).agg(count(lit(1)).as("n_active"))
      val fresh = spans.groupBy(col("__fw").as("week_start"))
        .agg(count(lit(1)).as("n_new"))
      val lastSeen = spans.groupBy(col("__lw").as("week_start"))
        .agg(count(lit(1)).as("n_last_seen"))
      active.join(fresh, Seq("week_start"), "left")
        .join(lastSeen, Seq("week_start"), "left")
        .select(col("week_start"), col("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_last_seen"), lit(0L)).as("n_last_seen"))
    }),
    // forward as-of with tolerance: next click within 1h of a purchase
    "q196_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        Seq("click_id"), inclusive = true, forward = true,
        tolerance = Some(lit(3600.0)))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof_t")).as("next_click_us"),
          col("asof_click_id").as("click_id"))
    }),
    // Hyndman trend/seasonality strength per supplier series
    "q197_season_strength" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val dec = graft.operators.Decompose.additive(weekly, Seq("l_suppkey"),
        col("week_start"), col("qty_sum"), weekofyear(col("week_start")))
      graft.operators.Decompose.strength(dec, Seq("l_suppkey"), col("qty_sum"))
    }),
    // M15 completion — error decomposition by time bucket AND ABC volume
    // tier in one composed report (reference error_analysis.py:89-610):
    // pred = per-part mean (as q97), tiers from cumulative qty share on
    // the part grain, then Metrics.errorSlices melts both dimensions out
    // of a single GROUPING SETS pass.
    "q198_error_slices" -> ((s, d) => {
      val t = li(s, d).withColumn("pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      val perPart = li(s, d).groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("pq"))
      // un-partitioned cumulative window, but at PART grain after the
      // partial agg — bounded by assortment cardinality (SF·200k at
      // TPC-H shape), not the fact; the q174 ABC operator documents the
      // same bound. If part cardinality grew with the fact, swap to the
      // two-pass range-partitioned prefix sum (QuantileNorm's rank
      // shape).
      val byQ = Window.orderBy(col("pq").desc, col("l_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val tiers = perPart
        .withColumn("cum_share", r(sum(col("pq")).over(byQ) / sum(col("pq")).over(tot)))
        .withColumn("volume_tier", when(col("cum_share") <= 0.8, "A")
          .when(col("cum_share") <= 0.95, "B").otherwise("C"))
        .select(col("l_partkey"), col("volume_tier"))
      val scored = t.join(tiers, "l_partkey")
      Metrics.errorSlices(scored, col("l_quantity"), col("pred"), Seq(
        "month" -> month(col("l_shipdate")),
        "volume_tier" -> col("volume_tier")))
    }),
    // q111's scale twin: the diagnostics exchange keys on l_partkey
    // (assortment-sized cardinality — SF·200k slices at TPC-H scale),
    // so ACF/runs parallelism grows with the data instead of being
    // pinned at #status codes. pred varies WITHIN the slice (per
    // (part,supp) mean) so the BP heteroskedasticity leg stays
    // non-degenerate.
    "q199_resid_diag_parts" -> ((s, d) => {
      val byPS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"), col("l_suppkey"))
      val scored = li(s, d).withColumn("__pred", avg(col("l_quantity")).over(byPS))
      graft.metrics.ResidualDiagnostics.diagnose(
        scored, Seq("l_partkey"), col("l_quantity"), col("__pred"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        exactMedian = Some(true), broadcastStats = false)
    }),
    // the composed monitoring run: monthly KPI + PSI drift + rule
    // report in one alert frame (Jobs.monitorRun; q96/q137/q192 legs)
    "q200_monitor" -> ((s, d) => graft.app.Jobs.monitorRun(s, d)),
    // int8 embedding quantization at (vec, dim) grain — pure
    // per-element arithmetic, no shuffle
    "q201_quantize_int8" -> ((s, d) =>
      graft.sim.Quantize.int8(Tables.embeddings(s, d))),
    // k-core peeling over the part<->supplier bipartite graph (same
    // node encoding as q152/q164); k=28 peels ~2/3 of the graph in 3
    // rounds on the test corpus
    "q202_kcore" -> ((s, d) => {
      val e = li(s, d).select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      graft.graph.KCore.kCore(e, "src", "dst", k = 28, iters = 3)
    }),
    // SCD2 history compression: per-series daily discount collapsed
    // into validity ranges (half-open [from, to), null to = current)
    "q207_scd2" -> ((s, d) => {
      val daily = li(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"), col("l_shipdate"))
        .agg(min(col("l_discount")).as("discount"))
      graft.operators.Scd.scd2(daily, Seq("l_partkey", "l_suppkey"),
        Seq(col("l_shipdate")), Seq("discount"))
        .select(col("l_partkey"), col("l_suppkey"), col("discount"),
          unix_micros(col("valid_from").cast("timestamp")).as("valid_from"),
          unix_micros(col("valid_to").cast("timestamp")).as("valid_to"), col("n_obs"))
    }),
    // personalized PageRank: teleport restricted to part nodes with
    // partkey < 50 (even-encoded node < 100); same fixed-point recipe
    // as q152 so the unrolled-CTE oracle carries over
    "q206_ppr" -> ((s, d) => {
      val liv = li(s, d)
      val fwd = liv.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = liv.select((col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))
      graft.graph.PageRankOp.personalizedPageRank(fwd.union(rev), "src", "dst",
        seedPred = col("node") % 2 === 0 && col("node") < 100, iters = 5)
    }),
    // embedding covariance matrix: dim²-bounded output from one
    // explode→self-join→agg pass (the distributed leg of PCA)
    "q203_covariance" -> ((s, d) =>
      graft.sim.Pca.covarianceMatrix(Tables.embeddings(s, d))),
    // quality-aware dedup resolution: keep the LONGEST member of each
    // near-dup cluster (q109's clusters + a keep-best rank), not min-id
    "q205_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.text.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      val clusters = graft.text.Dedup.dedupClusters(pairs)
      graft.text.Dedup.keepBest(docs, "doc_id", clusters, col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    // fully-oracled IVF: portable fixed-iteration Lloyd cells (rounded
    // state, deterministic seeds) — the oracle-comparable twin of the
    // MLlib-KMeans IVF (q106)
    "q204_ivf_portable" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.ivfPortableTopK(emb, queries, k = 10, dim = 64,
        nlist = 8, nprobe = 2, iters = 2)
    }),
    // product quantization: per-subspace portable-Lloyd codebooks
    // (m=4 × 16 dims, ksub=4, 2 rounds), corpus encoded to (sub, code)
    // with the rounded quantization error the pick minimized
    "q263_pq_codes" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = graft.sim.Pq.trainCodebooks(emb, dim = 64, m = 4, ksub = 4, iters = 2)
      graft.sim.Pq.encode(emb, cb, dim = 64, m = 4)
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("code"), col("quant_err"))
    }),
    // mergeable distinct-count rollup: weekly HLL sketch of distinct
    // parts per supplier, range estimate by sketch union. Rows-only:
    // DataSketches estimates are engine-specific (DuckDB's HLL is a
    // different implementation); the exact-distinct twin is A3/q09 and
    // SketchSpec pins merge-path agreement + the true-distinct band.
    "q265_sketch_distinct" -> ((s, d) => {
      val weekly = graft.operators.SketchRollup.sketchTable(li(s, d),
        Seq("l_suppkey"), to_date(date_trunc("week", col("l_shipdate"))),
        col("l_partkey"))
      graft.operators.SketchRollup.distinctOverRange(weekly, Seq("l_suppkey"))
    }),
    // portable KMV distinct sketch: weekly k-minimum-Lehmer-hash
    // sketches per supplier, range estimate by exactly-associative
    // sketch merge — the fully-oracled twin of the HLL rollup (q265)
    "q285_kmv_distinct" -> ((s, d) => {
      val weekly = graft.operators.SketchRollup.kmvSketchTable(li(s, d),
        Seq("l_suppkey"), to_date(date_trunc("week", col("l_shipdate"))),
        col("l_partkey"))
      graft.operators.SketchRollup.kmvDistinctOverRange(weekly, Seq("l_suppkey"))
    }),
    // portable mergeable histogram sketch: monthly fixed-bin quantity
    // histograms per return flag (25 bins over [0, 50]), range
    // quantiles by exactly-associative element-wise merge + in-bin
    // linear interpolation — the approximate-percentile scale path
    // (one map-side-combinable aggregate, 25 longs of state per group,
    // no per-group sort)
    "q301_hist_quantiles" -> ((s, d) => {
      val monthly = graft.operators.SketchRollup.histogramSketchTable(li(s, d),
        Seq("l_returnflag"), date_format(col("l_shipdate"), "yyyy-MM"),
        col("l_quantity"), lo = 0.0, hi = 50.0, bins = 25)
      graft.operators.SketchRollup.quantilesFromHistograms(monthly,
        Seq("l_returnflag"), Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 50.0,
        bins = 25)
    }),
    // portable count-min frequency sketch: monthly sparse CM tables of
    // part occurrences per return flag (depth 3 × width 512, portable
    // affine-Lehmer hash rows), exactly-associative slot-count merge,
    // then point estimates for the l_partkey < 40 probe set — the
    // approximate-frequency scale path (probes equi-join the merged
    // sketch, never rescanning the fact)
    "q302_cm_frequency" -> ((s, d) => {
      val monthly = graft.operators.SketchRollup.cmSketchTable(li(s, d),
        Seq("l_returnflag"), date_format(col("l_shipdate"), "yyyy-MM"),
        col("l_partkey"), depth = 3, width = 512)
      val cands = li(s, d).filter(col("l_partkey") < 40)
        .select(col("l_returnflag"), col("l_partkey")).distinct()
      graft.operators.SketchRollup.cmEstimate(monthly, Seq("l_returnflag"),
        cands, "l_partkey", depth = 3, width = 512)
    }),
    // band-join binning through the OPTIMIZER RULE: a naive non-equi
    // range join (part prices vs data-derived per-brand price bands —
    // would plan as a nested loop) handed to plans.RangeJoinRewrite,
    // which rebinds it as a binned equi-join; the aggregate proves the
    // rewritten join's row set exactly matches the naive semantics
    "q303_range_rewrite" -> ((s, d) => {
      val p = part(s, d)
      val iv = p.groupBy(col("p_brand").as("b_brand"))
        .agg((min(col("p_retailprice")) + lit(5.0)).as("lo"),
          (max(col("p_retailprice")) - lit(5.0)).as("hi"))
      val naive = p.select(col("p_partkey"), col("p_retailprice"))
        .join(iv, col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      graft.plans.GraftPlans.rewriteRangeJoin(naive, binSize = 100.0)
        .groupBy(col("b_brand"))
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Funcs.microSum(col("p_retailprice")).as("sum_rp"))
    }),
    // timestamp-band join through the optimizer rule: events vs
    // data-derived per-type validity windows (no equi key — naive is a
    // nested loop); 30-day bins, the original predicate refines exactly
    "q306_range_rewrite_ts" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val iv = ev.groupBy(col("event_type").as("w_type"))
        .agg((min(col("ts")) + expr("INTERVAL 1 DAY")).as("lo"),
          (max(col("ts")) - expr("INTERVAL 1 DAY")).as("hi"))
      val naive = ev.select(col("event_id"), col("ts"))
        .join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
      graft.plans.GraftPlans.rewriteRangeJoin(naive, binSize = 30.0 * 86400)
        .groupBy(col("w_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(unix_micros(col("ts")) % lit(1000003L)).as("ts_chk"))
    }),
    // q118's as-of join through the NATIVE PHYSICAL OPERATOR
    // (plans.AsOfJoinExec: per-side narrow sorts + streaming merge,
    // planned via the injected AsOfJoinStrategy) — same rows, same
    // oracle; the plan has no Window and no union-padded sort
    "q304_asof_exec" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.operators.AsOfJoin.asOfNative(purchases, clicks, Seq("user_id"),
        "ts", "ts", Seq("click_id", "click_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof_t")).as("click_us"),
          col("asof_click_id").as("click_id"),
          r(col("asof_click_value")).as("click_value"))
    }),
    // q196's forward+tolerance as-of through the native operator
    "q305_asof_exec_fwd" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asOfNative(purchases, clicks, Seq("user_id"),
        "ts", "ts", Seq("click_id"), inclusive = true, forward = true,
        tolerance = Some(lit(3600.0)))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"),
          unix_micros(col("asof_t")).as("next_click_us"),
          col("asof_click_id").as("click_id"))
    }),
    // asymmetric-distance top-k over the PQ codes: per-query LUT of
    // m·ksub rounded subspace dots, score = LUT sum over the code row
    "q264_pq_adc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val cb = graft.sim.Pq.trainCodebooks(emb, dim = 64, m = 4, ksub = 4, iters = 2)
      val codes = graft.sim.Pq.encode(emb, cb, dim = 64, m = 4)
      graft.sim.Pq.adcTopK(codes, cb, queries, k = 10, dim = 64, m = 4)
    }),
    // prediction-quality scorecard per supplier over the weekly series:
    // pred = naive lag-1, unc = |lag1 − lag2|, business target = the
    // series' exact micro-int mean; component scores + A-F grade
    // (model_diagnostics.py:539-755)
    "q268_quality_scorecard" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start"))
      val wAll = Window.partitionBy(col("l_suppkey"))
      val t = weekly
        .withColumn("pred", r(lag(col("qty_sum"), 1).over(w)))
        .withColumn("unc", r(abs(lag(col("qty_sum"), 1).over(w) -
          lag(col("qty_sum"), 2).over(w))))
        .withColumn("tgt", r(graft.functions.Funcs.guardedLongSumOver(
          round(col("qty_sum") * lit(1e4), 0).cast("long"), 1e4, wAll,
          "q268 tgt") / count(lit(1)).over(wAll)))
        .filter(col("unc").isNotNull)
      graft.metrics.Diagnostics.qualityScorecard(t, Seq("l_suppkey"),
        col("qty_sum"), col("pred"), col("unc"), col("tgt"),
        Seq(col("week_start")))
    }),
    // multi-channel drift report per return flag: 1996+ shipments as
    // the current slice vs the earlier reference slice; KS over the
    // target/prediction/residual channels + the WMAPE degradation gate
    // (model_diagnostics.py:147-440)
    "q269_drift_report" -> ((s, d) => {
      val wg = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      val t = li(s, d).withColumn("pred", r(avg(col("l_quantity")).over(wg)))
      graft.metrics.Diagnostics.driftReport(t, Seq("l_returnflag"),
        Seq("target" -> col("l_quantity"), "prediction" -> col("pred"),
          "residual" -> (col("l_quantity") - col("pred"))),
        col("l_shipdate") >= lit("1996-01-01").cast("date"),
        col("l_quantity"), col("pred"))
    }),
    // feature-importance stability: the A36 heuristic importances
    // scored on the pre-1996 baseline vs the 1996+ current slice,
    // |Spearman| × (1 − mean change) with the most-changed feature
    // (model_diagnostics.py:445-527)
    "q270_importance_stability" -> ((s, d) => {
      val feats = Seq("l_discount", "l_tax", "l_extendedprice", "l_linenumber")
      val cut = col("l_shipdate") < lit("1996-01-01").cast("date")
      // both slices scored in ONE fact scan (conditional aggregation is
      // bit-identical to the two filtered scans — see the operator's
      // scaladoc), then the FEATURE-GRAIN score table (4 rows) is
      // materialized once: importanceStability references its input
      // twice (stats aggregate + spearman rank pass), which would
      // re-run the fact scan per branch — the checkpoint makes the
      // whole monitor tail scan-free (PlanSpec pins one lineitem scan)
      val joined = graft.operators.FeatureQuality
        .importanceScoresSliced(li(s, d), cut, feats, "l_quantity")
        .select(col("feature"), r(col("score_in")).as("base_imp"),
          r(col("score_out")).as("cur_imp"))
        .localCheckpoint()
      graft.metrics.Diagnostics.importanceStability(joined, Nil,
        col("feature"), col("base_imp"), col("cur_imp"))
    }),
    // per-scenario inverse-WMAPE model weights: naive / snaive / series
    // -mean members scored on the weekly supplier series, scenarios =
    // series-length tiers (meta_ensemble.py:117-171 PerformanceTracker)
    "q271_model_weights" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start"))
      val wAll = Window.partitionBy(col("l_suppkey"))
      val t = weekly
        .withColumn("__naive", r(lag(col("qty_sum"), 1).over(w)))
        .withColumn("__snaive", r(lag(col("qty_sum"), 13).over(w)))
        .withColumn("__smean", r(graft.functions.Funcs.guardedLongSumOver(
          round(col("qty_sum") * lit(1e4), 0).cast("long"), 1e4, wAll,
          "q271 smean") / count(lit(1)).over(wAll)))
        .withColumn("__nw", count(lit(1)).over(wAll))
        .withColumn("scenario", when(col("__nw") >= 40, "long")
          .when(col("__nw") >= 20, "mid").otherwise("short"))
        .select(col("scenario"), col("qty_sum"),
          explode(array(
            struct(lit("naive").as("model"), col("__naive").as("pred")),
            struct(lit("snaive").as("model"), col("__snaive").as("pred")),
            struct(lit("smean").as("model"), col("__smean").as("pred"))))
            .as("__e"))
        .select(col("scenario"), col("qty_sum"),
          col("__e.model").as("model"), col("__e.pred").as("pred"))
        .filter(col("pred").isNotNull)
      graft.model.Ensembles.scenarioWeights(t, Seq("scenario"), col("model"),
        col("qty_sum"), col("pred"))
    }),
    // model-validation check suite per supplier: the five named checks
    // (accuracy / bias / residual / business-rules / data-quality) with
    // the reference's PASSED/WARNING/FAILED ladders over the naive
    // lag-1 forecast of the weekly series (model_validator.py)
    "q272_validation" -> ((s, d) => {
      val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
        Seq(col("l_suppkey")), col("l_quantity"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start"))
      val t = weekly.withColumn("pred", r(lag(col("qty_sum"), 1).over(w)))
        .filter(col("pred").isNotNull)
      graft.metrics.Validation.validateModel(t, Seq("l_suppkey"),
        col("qty_sum"), col("pred"), Seq(col("week_start")))
    }),
    // per-team leaderboard position report: the supplier "teams" are
    // scored by their naive-forecast WMAPE (lower better), submissions
    // = observed weeks; rank/zone/gap/achievability/recommended-target
    // for EVERY team in one pass (leaderboard_analyzer.py:121-231)
    "q273_leaderboard" -> ((s, d) =>
      graft.operators.Leaderboard.positionReport(supplierBoard(s, d),
        col("l_suppkey"), col("score"))),
    // one-row competition summary: score distribution, submission
    // patterns and the competitive-intensity composite
    // (leaderboard_analyzer.py:429-468)
    "q274_competition" -> ((s, d) =>
      graft.operators.Leaderboard.competitionSummary(supplierBoard(s, d),
        col("l_suppkey"), col("score"), col("n_weeks"))),
    // systematic-bias detector per return flag: overall stats + t and
    // Wilcoxon signed-rank statistics, linestatus/month dimensional
    // bias with the 2·std/√n gate, monthly-bias OLS trend
    // (error_analysis.py:467-610, the Phase-5 requirement)
    "q278_systematic_bias" -> ((s, d) => {
      val wg = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      val t = li(s, d).withColumn("pred",
        r(avg(col("l_quantity")).over(wg)))
      graft.metrics.BiasAnalysis.systematicBias(t, Seq("l_returnflag"),
        Seq("linestatus" -> col("l_linestatus"),
          "month" -> date_format(col("l_shipdate"), "yyyy-MM")),
        col("l_quantity"), col("pred"), trendDim = Some("month"))
    }),
    // cross-dimensional WMAPE matrix: (returnflag × linestatus) cells
    // with best/worst combination ranks (error_analysis.py:199-237)
    "q281_cross_dim_wmape" -> ((s, d) => {
      val wg = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      val t = li(s, d).withColumn("pred",
        r(avg(col("l_quantity")).over(wg)))
      graft.metrics.Metrics.crossDimensionalWmape(t, col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"), col("pred"))
    }),
    // volume-pattern error analysis per return flag: 0.33/0.67
    // quantile-cut Small/Medium/Large segments, full error profile per
    // segment + the cross-segment summary and struggle flags
    // (error_analysis.py:357-466, the second Phase-5 requirement)
    "q279_volume_patterns" -> ((s, d) => {
      val wg = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      val t = li(s, d).withColumn("pred",
        r(avg(col("l_quantity")).over(wg)))
      graft.metrics.BiasAnalysis.volumePatterns(t, Seq("l_returnflag"),
        col("l_quantity"), col("pred"))
    }),
    // model-health report per return flag: current (1996+) slice vs
    // reference, REAL KS drift scores where the reference stubs
    // literals, weighted health composite + alert/warning flags
    // (model_diagnostics.py:757-963)
    "q275_health_report" -> ((s, d) => {
      val wg = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      val q = col("l_quantity")
      val t = li(s, d)
        .withColumn("pred", r(avg(q).over(wg)))
        .withColumn("__n", count(lit(1)).over(wg).cast("double"))
        .withColumn("__sq", sum(q).over(wg))
        .withColumn("__sqq", sum(q * q).over(wg))
        .withColumn("unc", r(when(col("__n") > 1,
          sqrt((col("__n") * col("__sqq") - col("__sq") * col("__sq")) /
            (col("__n") * (col("__n") - 1))))))
        .filter(col("unc").isNotNull)
      graft.metrics.Diagnostics.healthReport(t, Seq("l_returnflag"), q,
        col("pred"), col("unc"),
        col("l_shipdate") >= lit("1996-01-01").cast("date"))
    })
  )

  /** Shared q273/q274 input: the supplier "leaderboard" — each
    * supplier scored by the WMAPE of its naive lag-1 weekly forecast
    * (fraction, lower better), submissions = its week count. */
  private def supplierBoard(s: SparkSession, d: String): DataFrame = {
    val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
      Seq(col("l_suppkey")), col("l_quantity"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start"))
    weekly.withColumn("pred", r(lag(col("qty_sum"), 1).over(w)))
      .filter(col("pred").isNotNull)
      .withColumn("__a", r(col("qty_sum")))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_weeks"),
        graft.functions.Funcs.microSum(abs(col("__a") - col("pred"))).as("__sad"),
        graft.functions.Funcs.microSum(abs(col("__a"))).as("__saa"))
      .withColumn("score", r(col("__sad") / (col("__saa") + lit(graft.functions.Funcs.Eps))))
  }

  /** The shared (config, fold, y, pred) frame behind q340/q350: the
    * four trailing-mean forecasters (window w ∈ {1,2,4,8} weeks) scored
    * on the q340 walk-forward folds — every prediction is micro-int
    * arithmetic, so both the scoreboard and the halving bracket replay
    * fully in DuckDB. */
  private def cvScored(s: SparkSession, d: String): DataFrame = {
    val weekly = Enrichment.weeklyAggregate(li(s, d), col("l_shipdate"),
      Seq(col("l_suppkey")), col("l_quantity"))
    val (lo, hi) = graft.cv.TimeSplits.dateBounds(li(s, d), col("l_shipdate"))
    val folds = graft.cv.TimeSplits.walkForward(lo, hi,
      initialTrainWeeks = 52, horizonWeeks = 4, stepWeeks = 26,
      gapWeeks = 1, maxSplits = 3)
    val foldDf = broadcast(graft.cv.TimeSplits.foldTable(s, folds))
    // per (fold, supplier): trailing-w-day micro-int mean over the
    // fold's train tail — each window length is one grid config
    def mm(days: Int) = {
      val inWin = col("week_start") >= date_sub(col("train_end"), days)
      val cnt = sum(when(inWin, 1L).otherwise(0L))
      when(cnt > 0,
        r(graft.functions.Funcs.microSumPre(when(inWin,
          graft.expr.RoundHalfUpExpr.column(
            col("qty_sum").cast("double") * lit(1e4))).otherwise(lit(0.0)),
          1e4) / cnt))
        .otherwise(lit(null).cast("double"))
    }
    val train = weekly.join(foldDf,
      col("week_start") >= date_sub(col("train_end"), 56) &&
        col("week_start") < col("train_end"))
    val preds = train.groupBy(col("fold"), col("l_suppkey"))
      .agg(mm(7).as("pw1"), mm(14).as("pw2"), mm(28).as("pw4"),
        mm(56).as("pw8"))
    val test = weekly.join(foldDf,
      col("week_start") >= col("test_start") &&
        col("week_start") < col("test_end"))
      .select(col("fold"), col("l_suppkey"), col("qty_sum"))
    test.join(preds, Seq("fold", "l_suppkey"))
      .selectExpr("fold", "qty_sum",
        "stack(4, 'w1', pw1, 'w2', pw2, 'w4', pw4, 'w8', pw8) AS (config, pred)")
  }

  /** Target mix for q131: five named sources get explicit weights (the
    * others drop), half the corpus as the target budget. src0 is
    * over-asked (weight·budget > its size) to exercise the cap. */
  private val MixWeights: Map[String, Double] = Map(
    "src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.05, "src4" -> 0.05)

  /** Fixed-point PageRank oracle: the iteration count is static, so the
    * loop unrolls into chained CTEs (r0..r5). All arithmetic is BIGINT
    * truncating division — bit-identical to the Spark side by
    * construction (graph/PageRankOp.scala). */
  private lazy val pageRankSql: String = {
    val scale = 1000000000L
    val head =
      s"""WITH e AS (
            SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM lineitem
            UNION
            SELECT DISTINCT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM lineitem),
          nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          nn AS (SELECT count(*) AS n FROM nodes),
          deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
          r0 AS (SELECT node, $scale // nn.n AS rank_i FROM nodes CROSS JOIN nn)"""
    val iters = (1 to 5).map { i =>
      s""",
          c$i AS (SELECT e.dst AS node, sum(r.rank_i // d.deg) AS s
                  FROM e JOIN r${i - 1} r ON e.src = r.node
                         JOIN deg d ON e.src = d.src
                  GROUP BY 1),
          r$i AS (SELECT nodes.node,
                         CAST(${3L * scale} // (20*nn.n)
                           + (17 * coalesce(c$i.s, 0)) // 20 AS BIGINT) AS rank_i
                  FROM nodes CROSS JOIN nn
                       LEFT JOIN c$i ON nodes.node = c$i.node)"""
    }.mkString
    head + iters +
      s"""
         SELECT node, rank_i,
                (round((rank_i / $scale.0e0)*1e4)/1e4 + 0.0e0) AS rank
         FROM r5"""
  }

  /** Personalized PageRank oracle: the q152 recipe with teleport mass
    * split equally over the seed set only (even-encoded part nodes
    * < 100). */
  private lazy val pprSql: String = {
    val scale = 1000000000L
    val seed = "(node % 2 = 0 AND node < 100)"
    def seedAs(prefix: String) = s"(${prefix}node % 2 = 0 AND ${prefix}node < 100)"
    val head =
      s"""WITH e AS (
            SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM lineitem
            UNION
            SELECT DISTINCT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM lineitem),
          nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          ns AS (SELECT count(*) AS n FROM nodes WHERE $seed),
          deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
          r0 AS (SELECT node,
                   CASE WHEN $seed THEN $scale // ns.n ELSE 0 END AS rank_i
                 FROM nodes CROSS JOIN ns)"""
    val iters = (1 to 5).map { i =>
      s""",
          c$i AS (SELECT e.dst AS node, sum(r.rank_i // d.deg) AS s
                  FROM e JOIN r${i - 1} r ON e.src = r.node
                         JOIN deg d ON e.src = d.src
                  GROUP BY 1),
          r$i AS (SELECT nodes.node,
                         CAST(CASE WHEN ${seedAs("nodes.")}
                                THEN ${3L * scale} // (20*ns.n) ELSE 0 END
                           + (17 * coalesce(c$i.s, 0)) // 20 AS BIGINT) AS rank_i
                  FROM nodes CROSS JOIN ns
                       LEFT JOIN c$i ON nodes.node = c$i.node)"""
    }.mkString
    head + iters +
      s"""
         SELECT node, rank_i,
                (round((rank_i / $scale.0e0)*1e4)/1e4 + 0.0e0) AS rank
         FROM r5"""
  }

  /** Portable MinHash-LSH candidate SQL, shared by q122 (the candidate
    * set itself) and q128 (candidates → Levenshtein verify). */
  private lazy val minhashPortableSql: String = {
    val pa = (0 until 32).map(i =>
      graft.functions.PortableHash.lehmerLong(i + 1L)).mkString(",")
    val pb = (0 until 32).map(i =>
      graft.functions.PortableHash.lehmerLong(10000L + i)).mkString(",")
    s"""WITH sh AS (
           SELECT doc_id, list_distinct([
             list_reduce([ord(text[i+j:i+j])::BIGINT FOR j IN range(0,4)],
                         (a,x) -> (a*31+x) % 1000000007)
             FOR i IN range(1, len(text)-2)]) AS hs
           FROM documents WHERE len(text) >= 4),
         sig AS (
           SELECT doc_id,
             [list_min([ ([$pa][i+1]*h + [$pb][i+1]) % 2147483647 FOR h IN hs ])
              FOR i IN range(0,32)] AS sg
           FROM sh),
         bands AS (
           SELECT doc_id, b,
                  list_reduce(sg[b*4+1:b*4+4], (a,x) -> (a*31+x) % 1000000007) AS bkey
           FROM sig, range(0,8) t(b))
         SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         FROM bands a JOIN bands b2
           ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id"""
  }

  /** Shared oracle for the cosine near-dup family (q107/q218): the
    * deterministic hyperplane literals embed into the SQL, sign bits
    * come from the ROUNDED dot product, and only the verify threshold
    * varies. */
  private def embedNearDupesSql(threshold: String): String = {
    val sigTerms = (0 until 16).map { p =>
      val lits = graft.sim.Similarity.hyperplane(p, 64, 42L).mkString(", ")
      s"(CASE WHEN (round(list_dot_product(v, [$lits]::DOUBLE[])*1e4)/1e4 + 0.0e0) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n                + ")
    val bandSelects = (0 until 8).map(b =>
      s"SELECT vec_id, $b AS band, (sig // ${1 << (b * 2)}) % 4 AS bucket FROM sg")
      .mkString("\n                UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
           sg AS (SELECT vec_id, $sigTerms AS sig FROM e),
           bd AS ($bandSelects),
           cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM bd a JOIN bd b USING (band, bucket)
                    WHERE a.vec_id < b.vec_id),
           s AS (SELECT cand.id_a, cand.id_b,
                   (round(list_dot_product(ea.v, eb.v)
                     /(sqrt(list_dot_product(ea.v, ea.v))*sqrt(list_dot_product(eb.v, eb.v)))
                     *1e4)/1e4 + 0.0e0) AS cos_sim
                 FROM cand JOIN e ea ON cand.id_a = ea.vec_id
                           JOIN e eb ON cand.id_b = eb.vec_id)
         SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= $threshold"""
  }

  /** q107 oracle: the banded near-dup pipeline, profiled as verified
    * pair counts per threshold — a LEFT join from the literal
    * threshold list guarantees 7 rows even on a corpus with no
    * candidate pairs, so the comparison can never be vacuous. */
  private lazy val embedNearDupesProfileSql: String = {
    val inner = embedNearDupesSql("0.3e0")
    s"""WITH sel AS ($inner)
         SELECT th.threshold,
                CAST(coalesce(sum(CASE WHEN sel.cos_sim >= th.threshold
                                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
         FROM (SELECT unnest([0.3e0,0.4e0,0.5e0,0.6e0,0.7e0,0.8e0,0.9e0]) AS threshold) th
         LEFT JOIN sel ON true
         GROUP BY 1"""
  }

  /** q220 oracle: Platt-scaling Newton recursion unrolled into one CTE
    * pair per step, every sum and state update rounded exactly as the
    * engine rounds (the q204 fixed-iteration recipe). */
  private lazy val plattSql: String = {
    def step(k: Int): String = {
      val prev = s"s${k - 1}"
      s""",
           m$k AS (SELECT np, nn, tp, tn, a, b,
                     (round(sum(n*f*(p - t))*1e4)/1e4 + 0.0e0) ga,
                     (round(sum(n*(p - t))*1e4)/1e4 + 0.0e0) gb,
                     (round(sum(n*f*f*p*(1.0e0 - p))*1e4)/1e4 + 0.0e0) haa,
                     (round(sum(n*f*p*(1.0e0 - p))*1e4)/1e4 + 0.0e0) hab,
                     (round(sum(n*p*(1.0e0 - p))*1e4)/1e4 + 0.0e0) hbb
                   FROM (SELECT g.n, g.f, s.np, s.nn, s.tp, s.tn, s.a, s.b,
                           1.0e0/(1.0e0 + exp(-(s.a*g.f + s.b))) AS p,
                           CASE WHEN g.y THEN s.tp ELSE s.tn END AS t
                         FROM grain g, $prev s)
                   GROUP BY 1,2,3,4,5,6),
           s$k AS (SELECT np, nn, tp, tn,
                     (round((CASE WHEN abs(haa*hbb - hab*hab) >= 1e-12
                        THEN a - (hbb*ga - hab*gb)/(haa*hbb - hab*hab)
                        ELSE a END)*1e4)/1e4 + 0.0e0) AS a,
                     (round((CASE WHEN abs(haa*hbb - hab*hab) >= 1e-12
                        THEN b - (haa*gb - hab*ga)/(haa*hbb - hab*hab)
                        ELSE b END)*1e4)/1e4 + 0.0e0) AS b
                   FROM m$k)"""
    }
    s"""WITH scored AS (SELECT
             (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4 + 0.0e0) AS f,
             (l_returnflag = 'R') AS y
           FROM lineitem),
           grain AS (SELECT f, y, CAST(count(*) AS DOUBLE) n
                     FROM scored GROUP BY 1,2),
           cls AS (SELECT sum(CASE WHEN y THEN n ELSE 0.0e0 END) np,
                          sum(CASE WHEN NOT y THEN n ELSE 0.0e0 END) nn
                   FROM grain),
           s0 AS (SELECT np, nn, (np + 1.0e0)/(np + 2.0e0) tp,
                    1.0e0/(nn + 2.0e0) tn, 0.0e0 a, 0.0e0 b
                  FROM cls)${(1 to 3).map(step).mkString}
         SELECT a AS platt_a, b AS platt_b,
                CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
                (round(tp*1e4)/1e4 + 0.0e0) AS t_pos,
                (round(tn*1e4)/1e4 + 0.0e0) AS t_neg
         FROM s3"""
  }

  /** q221 oracle: the 1-parameter temperature-scaling Newton recursion,
    * unrolled like [[plattSql]]. */
  private lazy val temperatureSql: String = {
    def step(k: Int): String = {
      val prev = s"s${k - 1}"
      s""",
           m$k AS (SELECT np, nn, b,
                     (round(sum(n*z*(p - t))*1e4)/1e4 + 0.0e0) g,
                     (round(sum(n*z*z*p*(1.0e0 - p))*1e4)/1e4 + 0.0e0) h
                   FROM (SELECT g.n, g.z, s.np, s.nn, s.b,
                           1.0e0/(1.0e0 + exp(-(s.b*g.z))) AS p,
                           CASE WHEN g.y THEN 1.0e0 ELSE 0.0e0 END AS t
                         FROM grain g, $prev s)
                   GROUP BY 1,2,3),
           s$k AS (SELECT np, nn,
                     (round((CASE WHEN h >= 1e-12 THEN b - g/h ELSE b END)*1e4)/1e4 + 0.0e0) AS b
                   FROM m$k)"""
    }
    s"""WITH scored AS (SELECT
             (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4 + 0.0e0) AS pred,
             (l_returnflag = 'R') AS y
           FROM lineitem),
           mp AS (SELECT sum(CAST(round(pred*1e4) AS BIGINT))/1e4/count(*) m
                  FROM scored),
           zt AS (SELECT (round((pred - m)*1e4)/1e4 + 0.0e0) AS z, y
                  FROM scored, mp),
           grain AS (SELECT z, y, CAST(count(*) AS DOUBLE) n FROM zt GROUP BY 1,2),
           cls AS (SELECT sum(CASE WHEN y THEN n ELSE 0.0e0 END) np,
                          sum(CASE WHEN NOT y THEN n ELSE 0.0e0 END) nn
                   FROM grain),
           s0 AS (SELECT np, nn, 1.0e0 b FROM cls)${(1 to 3).map(step).mkString}
         SELECT b AS temp_beta,
                (round((1.0e0/b)*1e4)/1e4 + 0.0e0) AS temp_t,
                CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         FROM s3"""
  }

  /** q222 oracle: the q74 Holt recursion picks each series' last
    * state; the damping sums embed as the SAME driver-computed
    * literals the engine multiplies (no cross-engine pow()). */
  private lazy val dampedHoltSql: String = {
    val damps = graft.seq.SequentialKernels.dampSums(0.9, 4).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST($d AS DOUBLE))" }.mkString(", ")
    s"""WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (
             SELECT l_partkey, l_suppkey, ws, rn, q,
               q AS lvl, CAST(NULL AS DOUBLE) AS tr, q AS lastx
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.q,
               0.3e0*t.q + (1e0-0.3e0)*e.lvl,
               CASE WHEN e.tr IS NULL THEN t.q - e.lastx
                    ELSE 0.1e0*(t.q - e.lastx) + (1e0-0.1e0)*e.tr END,
               t.q
             FROM t JOIN e ON t.l_partkey = e.l_partkey
               AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           last AS (SELECT l_partkey, l_suppkey,
                      (round(lvl*1e4)/1e4 + 0.0e0) l,
                      (round(tr*1e4)/1e4 + 0.0e0) b
                    FROM (SELECT e.*, row_number() OVER (PARTITION BY
                            l_partkey, l_suppkey ORDER BY rn DESC) rd FROM e)
                    WHERE rd = 1 AND tr IS NOT NULL)
         SELECT l_partkey, l_suppkey, CAST(d.step AS BIGINT) AS step,
                (round((l + b*d.damp)*1e4)/1e4 + 0.0e0) AS holt_forecast
         FROM last, (VALUES $damps) d(step, damp)"""
  }

  /** Shared unrolled portable-Lloyd CTE prefix (nlist=8, iters=2 — the
    * q204 recipe): defines `e` (vectors), `x` (exploded dims), the
    * lowest-id seeds, centroid rounds cc0..cc2 and assignment rounds
    * d1/a1..d3/a3; consumers append their tail after `a3`. Distance is
    * kept in the SAME expanded shape as Similarity.assignCells
    * (v·v − 2·v·c + c·c over in-order list_dot_product) — the
    * algebraically-equal Σ(x−c)² form diverges beyond summation ulps
    * under cancellation near dist≈0, which could straddle the rounding
    * boundary and flip a cell assignment. */
  private lazy val lloydCellsSql: String = {
    def distCte(n: Int, ccPrev: String) =
      s"""
         d$n AS (SELECT e.vec_id, c.cell,
                   (round((list_dot_product(e.v, e.v)
                      - 2.0*list_dot_product(e.v, c.cv)
                      + list_dot_product(c.cv, c.cv))*1e4)/1e4 + 0.0e0) AS dist
                 FROM e, (SELECT cell, list(cv ORDER BY i) AS cv
                          FROM $ccPrev GROUP BY cell) c),
         a$n AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) rn
                   FROM d$n) WHERE rn = 1)"""
    def centCte(n: Int) =
      s""",
         cc$n AS (SELECT a$n.cell, x.i, (round(avg(x.xi)*1e4)/1e4 + 0.0e0) AS cv
                  FROM a$n JOIN x USING (vec_id) GROUP BY 1,2)"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         x AS (SELECT vec_id, i, v[i + 1] AS xi
               FROM e, unnest(range(0, len(v))) t(i)),
         seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
                  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
         cc0 AS (SELECT seed.cell, x.i, (round(x.xi*1e4)/1e4 + 0.0e0) AS cv
                 FROM seed JOIN x USING (vec_id)),${distCte(1, "cc0")}${centCte(1)},${distCte(2, "cc1")}${centCte(2)},${distCte(3, "cc2")}"""
  }

  /** q147 oracle: the BPE training loop unrolled — 24 merge iterations,
    * each as a CTE block over the word vocabulary: adjacent-pair counts,
    * the (count desc, left asc, right asc) argmax (0 or 1 rows — empty
    * once no pair occurs twice, which freezes the vocab exactly like the
    * Scala early-stop), and the greedy non-overlapping left-to-right
    * merge pass. The pass is positional: a position STARTS a merge iff
    * it matches (a,b) and the previous position does not start one;
    * consecutive matches only arise when a = b, where greedy takes every
    * other one — i.e. the odd ranks within each island of consecutive
    * matches (gaps-and-islands + parity, no recursion). `AS MATERIALIZED`
    * on t/v is load-bearing: each iteration references its predecessor
    * twice, so DuckDB's default CTE inlining would expand the 24-level
    * chain exponentially. Encoding needs no second loop: encode applies
    * the same merges in rank order per word, so a corpus word's pieces
    * ARE its final vocab symbols — one join from exploded doc words. */
  private lazy val bpeSql: String = {
    val numMerges = 24
    def iterCte(n: Int) =
      s""",
         p$n AS (SELECT syms[j] AS a, syms[j+1] AS b, sum(freq) AS cnt
                 FROM v$n, unnest(range(1, len(syms))) u(j)
                 GROUP BY 1, 2),
         t$n AS MATERIALIZED (SELECT a, b FROM p$n WHERE cnt >= 2
                 ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         e$n AS (SELECT w, freq, j, syms[j] AS s, t.a AS ta, t.b AS tb,
                   (t.a IS NOT NULL AND j < len(syms)
                    AND syms[j] = t.a AND syms[j+1] = t.b) AS m
                 FROM v$n LEFT JOIN t$n t ON TRUE,
                      unnest(range(1, len(syms) + 1)) u(j)),
         g$n AS (SELECT *, CASE WHEN m THEN
                   (row_number() OVER (PARTITION BY w, j - mrn ORDER BY j) % 2 = 1)
                   ELSE FALSE END AS start
                 FROM (SELECT *, CASE WHEN m THEN row_number()
                         OVER (PARTITION BY w, m ORDER BY j) END AS mrn
                       FROM e$n)),
         r$n AS (SELECT *, coalesce(lag(start) OVER (PARTITION BY w ORDER BY j),
                   FALSE) AS consumed
                 FROM g$n),
         v${n + 1} AS MATERIALIZED (SELECT w, freq,
                   list(CASE WHEN start THEN ta || tb ELSE s END ORDER BY j) AS syms
                 FROM r$n WHERE NOT consumed
                 GROUP BY w, freq)"""
    s"""WITH v0 AS (
         SELECT w, count(*) AS freq,
                [w[i] FOR i IN range(1, len(w) + 1)] AS syms
         FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
               FROM documents)
         GROUP BY w)${(0 until numMerges).map(iterCte).mkString},
         dw AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                FROM documents),
         fin AS (SELECT w, len(syms) AS np FROM v$numMerges)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(np) AS BIGINT) AS n_pieces
       FROM dw JOIN fin USING (w) WHERE w <> ''
       GROUP BY 1"""
  }

  /** q283 oracle: the rank-2 explicit ALS unrolled — per half-step, the
    * exact micro-int sufficient statistics (squares on the 1e-8 grid,
    * rating·factor on the 1e-4 grid — ratings are integral counts), the
    * IDENTICALLY-parenthesized Cramer solve, the ±9 overflow clamp,
    * and the 4dp rounding of each factor, so every arithmetic input is
    * bit-equal cross-engine.
    * The final cross-score + per-user top-5 mirrors the Spark tail. */
  /** q288 oracle: the quality-classifier fit unrolled — 6 gradient
    * steps on the 1e-6 micro-int grid, rational squash (no exp), bias
    * as the constant feature in bucket 16. Every cross-row sum is an
    * exact BIGINT sum; every division is one double op followed by an
    * away-from-zero round — replaying graft.text.QualityClassifier
    * term for term. */
  private lazy val qualityClassifierSql: String = {
    def score(k: Int, prev: String) =
      s""",
         s$k AS MATERIALIZED (
           SELECT f.doc_id, any_value(f.y) AS y,
                  CAST(round(CAST(sum(w.wi*f.xi) AS DOUBLE)/1e6) AS BIGINT) AS sm
           FROM feat f JOIN $prev w ON f.b = w.b GROUP BY f.doc_id)"""
    val iterCtes = (1 to 6).map { k =>
      score(k, s"w${k - 1}") +
        s""",
         r$k AS (SELECT doc_id,
                   CAST(round((0.5e0 + (sm/1e6)/(2.0e0*(1.0e0 + abs(sm/1e6))))*1e6) AS BIGINT)
                     - y*1000000 AS rm
                 FROM s$k),
         w$k AS MATERIALIZED (
           SELECT w.b,
                  w.wi - CAST(round(0.5e0*round(CAST(coalesce(g.gs, 0) AS DOUBLE)/1e6/nd.n)) AS BIGINT) AS wi
           FROM w${k - 1} w
           LEFT JOIN (SELECT f.b, sum(f.xi*r.rm) AS gs
                      FROM feat f JOIN r$k r USING (doc_id) GROUP BY f.b) g
             ON w.b = g.b, nd)"""
    }.mkString
    s"""WITH tok AS (SELECT doc_id,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                FROM documents),
         tk AS (SELECT doc_id, y,
                  list_reduce([ord(w[i:i])::BIGINT FOR i IN range(1, len(w)+1)],
                              (a,x) -> (a*31+x) % 1000000007) % 16 AS b
                FROM tok WHERE w <> ''),
         nt AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY 1),
         cb AS (SELECT t.doc_id, any_value(t.y) AS y, t.b, count(*) AS cnt
                FROM tk t GROUP BY t.doc_id, t.b),
         feat AS MATERIALIZED (
           SELECT cb.doc_id, cb.y, CAST(cb.b AS INT) AS b,
                  CAST(round(cnt*1.0e0/nt.n*1e6) AS BIGINT) AS xi
           FROM cb JOIN nt USING (doc_id)
           UNION ALL
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                  16 AS b, CAST(1000000 AS BIGINT) AS xi
           FROM documents),
         nd AS (SELECT count(*) AS n FROM documents),
         w0 AS (SELECT CAST(b.b AS INT) AS b, CAST(0 AS BIGINT) AS wi
                FROM unnest(range(0, 17)) b(b))$iterCtes${score(7, "w6")}
       SELECT doc_id, y AS label, (sm/1e6 + 0.0e0) AS score,
              (CAST(round((0.5e0 + (sm/1e6)/(2.0e0*(1.0e0 + abs(sm/1e6))))*1e6) AS BIGINT)/1e6
                + 0.0e0) AS prob,
              CASE WHEN CAST(round((0.5e0 + (sm/1e6)/(2.0e0*(1.0e0 + abs(sm/1e6))))*1e6) AS BIGINT)
                     >= 500000 THEN 1 ELSE 0 END AS pred
       FROM s7"""
  }

  /** q289 oracle: the greedy MMR trajectory unrolled — pick round k is
    * one argmax CTE over the survivors, the max-sim penalty column is
    * updated incrementally with one rounded cosine per round (the same
    * incremental formulation as the engine), ties on ascending id. */
  private lazy val mmrSelectSql: String = {
    def cos(a: String, b: String) =
      s"""(round(list_dot_product($a, $b)
             /(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b)))*1e4)/1e4 + 0.0e0)"""
    val rounds = (1 to 8).map { k =>
      s""",
         p$k AS MATERIALIZED (
           SELECT vec_id, cv, rel,
                  (round((0.5e0*rel - 0.5e0*ms)*1e4)/1e4 + 0.0e0) AS mmr
           FROM m${k - 1} ORDER BY mmr DESC, vec_id ASC LIMIT 1),
         m$k AS MATERIALIZED (
           SELECT c.vec_id, c.cv, c.rel,
                  greatest(c.ms, ${cos("c.cv", "p.cv")}) AS ms
           FROM m${k - 1} c, p$k p WHERE c.vec_id <> p.vec_id)"""
    }.mkString
    val sel = (1 to 8).map(k =>
      s"SELECT $k AS rank, vec_id, rel, mmr AS mmr_score FROM p$k")
      .mkString("\n         UNION ALL ")
    s"""WITH q AS (SELECT embedding::DOUBLE[] qv FROM embeddings WHERE vec_id = 0),
         cr AS (SELECT vec_id, embedding::DOUBLE[] cv,
                  ${cos("embedding::DOUBLE[]", "qv")} AS rel
                FROM embeddings, q WHERE vec_id <> 0),
         ct AS (SELECT vec_id, cv, rel,
                  row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
                FROM cr),
         m0 AS MATERIALIZED (SELECT vec_id, cv, rel, 0.0e0 AS ms
                FROM ct WHERE rn <= 40)$rounds
       $sel"""
  }

  /** q294 oracle: the Morton interleave replayed with integer
    * division/modulo terms — bit-exact by construction. */
  private lazy val zorderSql: String = {
    val terms = (0 until 21).map(j =>
      s"((l_partkey // ${1L << j}) % 2) * ${1L << (2 * j)} + " +
        s"((l_suppkey // ${1L << j}) % 2) * ${1L << (2 * j + 1)}")
      .mkString(" +\n                 ")
    s"""WITH z AS (SELECT l_partkey, l_suppkey,
                  ($terms) AS zv
                FROM lineitem)
       SELECT zv // ${1L << 16} AS z_bucket, count(*) AS n_rows,
              CAST(min(l_partkey) AS BIGINT) AS x_min,
              CAST(max(l_partkey) AS BIGINT) AS x_max,
              CAST(min(l_suppkey) AS BIGINT) AS y_min,
              CAST(max(l_suppkey) AS BIGINT) AS y_max
       FROM z GROUP BY 1"""
  }

  /** q291 oracle: the LSH search CTE (annLshSql) re-ranked against
    * same-label ground truth; DCG/IDCG are exact integer sums over the
    * SAME micro-int discount literals the engine embeds
    * (RankingMetrics.discountsMicro), AP terms per-row-rounded. */
  private lazy val rankingMetricsSql: String = {
    val dt = graft.metrics.RankingMetrics.discountsMicro(10).zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    val pt = graft.metrics.RankingMetrics.idcgPrefixMicro(10).zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    s"""WITH ap0 AS ($annLshSql),
         dt AS (SELECT * FROM (VALUES $dt) AS t(i, dm)),
         pt AS (SELECT * FROM (VALUES $pt) AS t(i, pm)),
         ql AS (SELECT vec_id AS query_id, label AS qlab FROM embeddings
                WHERE vec_id < 5),
         nl AS (SELECT vec_id AS neighbor_id, label AS nlab FROM embeddings),
         lc AS (SELECT label, count(*) AS c FROM embeddings GROUP BY 1),
         nr AS (SELECT q.query_id, lc.c - 1 AS n_rel
                FROM ql q JOIN lc ON lc.label = q.qlab),
         rl AS (SELECT a.query_id, a.rank,
                  CASE WHEN nl.nlab = ql.qlab THEN 1 ELSE 0 END AS rel
                FROM ap0 a JOIN ql USING (query_id) JOIN nl USING (neighbor_id)
                WHERE a.rank <= 10),
         cm AS (SELECT query_id, rank, rel,
                  sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cum
                FROM rl),
         ag AS (SELECT c.query_id,
                  sum(c.rel * dt.dm) AS dcgm,
                  sum(CASE WHEN c.rel = 1
                        THEN CAST(round(CAST(c.cum AS DOUBLE)/c.rank*1e6) AS BIGINT)
                        ELSE 0 END) AS apm,
                  min(CASE WHEN c.rel = 1 THEN c.rank END) AS minrank
                FROM cm c JOIN dt ON dt.i = c.rank GROUP BY 1)
       SELECT a.query_id, CAST(n.n_rel AS BIGINT) AS n_rel,
              (round(coalesce(1.0e0/a.minrank, 0.0e0)*1e4)/1e4 + 0.0e0) AS mrr,
              (round((CASE WHEN least(n.n_rel, 10) > 0
                 THEN CAST(a.apm AS DOUBLE)/1e6/least(n.n_rel, 10)
                 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS ap,
              (round((CASE WHEN n.n_rel > 0 THEN CAST(a.dcgm AS DOUBLE)/pt.pm
                 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS ndcg
       FROM ag a JOIN nr n USING (query_id)
       JOIN pt ON pt.i = least(greatest(n.n_rel, 1), 10)"""
  }

  private lazy val alsPortableSql: String = {
    val lam = "0.1e0"
    def s8(e: String) =
      s"CAST(sum(CAST(round(($e)*1e8) AS HUGEINT)) AS DOUBLE)/1e8"
    def s4(e: String) =
      s"CAST(sum(CAST(round(($e)*1e4) AS HUGEINT)) AS DOUBLE)/1e4"
    def solveCte(n: Int, srcFac: String, joinKey: String, outKey: String,
                 agg: String, out: String) =
      s""",
         $agg AS (SELECT $outKey,
                    ${s8("f1*f1")} AS a11, ${s8("f1*f2")} AS a12,
                    ${s8("f2*f2")} AS a22,
                    ${s4("rv*f1")} AS b1, ${s4("rv*f2")} AS b2
                  FROM rt JOIN $srcFac USING ($joinKey) GROUP BY 1),
         $out AS (SELECT $outKey,
                    (round(least(greatest(((a22 + $lam)*b1 - a12*b2)
                      /((a11 + $lam)*(a22 + $lam) - a12*a12), -9.0e0), 9.0e0)*1e4)/1e4 + 0.0e0) AS f1,
                    (round(least(greatest(((a11 + $lam)*b2 - a12*b1)
                      /((a11 + $lam)*(a22 + $lam) - a12*a12), -9.0e0), 9.0e0)*1e4)/1e4 + 0.0e0) AS f2
                  FROM $agg)"""
    val iters = (1 to 2).map { n =>
      solveCte(n, s"y${n - 1}", "i", "u", s"ua$n", s"u$n") +
        solveCte(n, s"u$n", "u", "i", s"ia$n", s"y$n")
    }.mkString
    s"""WITH rt AS (SELECT o_custkey AS u, l_partkey AS i,
                      CAST(count(*) AS DOUBLE) AS rv
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
         y0 AS (SELECT i,
                  (round((0.1e0 + (i % 7)/10.0)*1e4)/1e4 + 0.0e0) AS f1,
                  (round((0.1e0 + (i % 11)/10.0)*1e4)/1e4 + 0.0e0) AS f2
                FROM (SELECT DISTINCT i FROM rt))$iters,
         sc AS (SELECT u2.u, y2.i,
                  (round((u2.f1*y2.f1 + u2.f2*y2.f2)*1e4)/1e4 + 0.0e0) AS score
                FROM u2, y2 WHERE u2.u % 20 = 0),
         rk AS (SELECT *, row_number() OVER (PARTITION BY u
                  ORDER BY score DESC, i ASC) AS rank FROM sc)
       SELECT u AS "user", i AS item, score, rank FROM rk WHERE rank <= 5"""
  }

  /** The exact-SSE aggregate on the 1e-8 grid (sqSum's SQL mirror) —
    * shared by the champion members and the extended-order blocks. */
  private def sq(e: String): String =
    s"(round((CAST(sum(CAST(round(($e)*($e)*1e8) AS HUGEINT)) AS DOUBLE)/1e8)*1e4)/1e4 + 0.0e0)"

  /** The q214 nine-sums → Cramer → rounded-coefs block, parameterized
    * on the source CTE (value column y, lag columns b1/b2) — shared by
    * the champion members (ar2/ari) and the extended sari member. */
  private def arBlock(src: String, y: String, p: String): String =
      s"""${p}s AS (SELECT l_suppkey,
                   CAST(count(*) AS DOUBLE) n,
                   (CAST(sum(CAST(round($y*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) sy,
                   (CAST(sum(CAST(round(b1*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s1,
                   (CAST(sum(CAST(round(b2*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s2,
                   (CAST(sum(CAST(round($y*1e4) AS BIGINT)*CAST(round(b1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy1,
                   (CAST(sum(CAST(round($y*1e4) AS BIGINT)*CAST(round(b2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy2,
                   (CAST(sum(CAST(round(b1*1e4) AS BIGINT)*CAST(round(b1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s11,
                   (CAST(sum(CAST(round(b2*1e4) AS BIGINT)*CAST(round(b2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s22,
                   (CAST(sum(CAST(round(b1*1e4) AS BIGINT)*CAST(round(b2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s12
                 FROM $src WHERE b2 IS NOT NULL GROUP BY 1),
           ${p}d AS (SELECT l_suppkey, n, sy,
                   n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
                   sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2) + s2*(sy1*s12 - s11*sy2) AS detc,
                   n*(sy1*s22 - s12*sy2) - sy*(s1*s22 - s12*s2) + s2*(s1*sy2 - sy1*s2) AS detp1,
                   n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2) + sy*(s1*s12 - s11*s2) AS detp2
                 FROM ${p}s),
           ${p}c AS (SELECT l_suppkey,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detc/det ELSE sy/n END)*1e4)/1e4 + 0.0e0) AS c,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp1/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p1,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp2/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p2
                 FROM ${p}d)"""

  /** q259 oracle: every family member's fit/SSE/forecast replayed at
    * the supplier-week grain, the rounded-AIC scoreboard, the
    * (aic, member-rank) argmin, and the winner's forecast rows. The
    * member fragments are the already-green q214/q217/q249/q253/q255/
    * q257/q213/q256/q74/q222 recipes re-keyed to l_suppkey; the damped
    * sums embed the engine's own iteratively-computed doubles (the
    * q222 convention). */
  private lazy val championMembersSql: String = {
    val damps = graft.seq.SequentialKernels.dampSums(0.9, 4).zipWithIndex
      .map { case (dv, i) => s"(${i + 1}, CAST($dv AS DOUBLE))" }.mkString(", ")
    s"""WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                   sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2),
           cnt AS (SELECT l_suppkey, count(*) AS n FROM w GROUP BY 1),
           t AS (SELECT *,
                   row_number() OVER (PARTITION BY l_suppkey ORDER BY ws) rn,
                   lag(q, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) b1,
                   lag(q, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) b2,
                   lag(q, 13) OVER (PARTITION BY l_suppkey ORDER BY ws) lm
                 FROM w),
           muq AS (SELECT l_suppkey,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM w GROUP BY 1),
           mur AS (SELECT l_suppkey, (round(mu*1e4)/1e4 + 0.0e0) AS mu FROM muq),
           steps AS (SELECT unnest([1,2,3,4]) AS step),
           mean_sc AS (SELECT w.l_suppkey, 'mean_naive' AS model, 0 AS mrank, 1.0e0 AS k,
                   ${sq("w.q - mur.mu")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM w JOIN mur USING (l_suppkey) GROUP BY 1),
           mean_fc AS (SELECT l_suppkey, 'mean_naive' AS model,
                   CAST(step AS BIGINT) AS step, mu AS forecast
                 FROM mur CROSS JOIN steps),
           sn_sc AS (SELECT l_suppkey, 'snaive' AS model, 1 AS mrank, 0.0e0 AS k,
                   ${sq("q - lm")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM t WHERE lm IS NOT NULL GROUP BY 1),
           sn_fc AS (SELECT t.l_suppkey, 'snaive' AS model,
                   CAST(t.rn - (cnt.n - 13) AS BIGINT) AS step,
                   (round(t.q*1e4)/1e4 + 0.0e0) AS forecast
                 FROM t JOIN cnt USING (l_suppkey)
                 WHERE t.rn > cnt.n - 13 AND t.rn <= cnt.n - 13 + 4),
           ${arBlock("t", "q", "ar")},
           arfit AS (SELECT t.l_suppkey, t.q,
                   (round((arc.c + arc.p1*t.b1 + arc.p2*t.b2)*1e4)/1e4 + 0.0e0) AS f
                 FROM t JOIN arc USING (l_suppkey) WHERE t.b2 IS NOT NULL),
           ar_sc AS (SELECT l_suppkey, 'ar2' AS model, 2 AS mrank, 3.0e0 AS k,
                   ${sq("q - f")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM arfit GROUP BY 1 HAVING count(*) >= 3),
           arlv AS (SELECT l_suppkey,
                   max(CASE WHEN rd = 1 THEN q END) xn,
                   max(CASE WHEN rd = 2 THEN q END) xn1
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY ws DESC) rd FROM w)
                 GROUP BY 1
                 HAVING max(CASE WHEN rd = 2 THEN q END) IS NOT NULL),
           are AS (SELECT a.l_suppkey, 1 AS step,
                   (round((c.c + c.p1*a.xn + c.p2*a.xn1)*1e4)/1e4 + 0.0e0) AS f,
                   a.xn AS fprev, c.c, c.p1, c.p2
                 FROM arlv a JOIN arc c USING (l_suppkey)
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0), f, c, p1, p2
                 FROM are WHERE step < 4),
           ar_fc AS (SELECT l_suppkey, 'ar2' AS model, CAST(step AS BIGINT) AS step,
                   f AS forecast FROM are),
           d0 AS (SELECT *, q - lag(q, 1) OVER (PARTITION BY l_suppkey
                     ORDER BY ws) AS dq FROM w),
           dd AS (SELECT l_suppkey, ws, dq FROM d0 WHERE dq IS NOT NULL),
           ddt AS (SELECT *,
                   lag(dq, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) b1,
                   lag(dq, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) b2
                 FROM dd),
           ${arBlock("ddt", "dq", "ari")},
           difit AS (SELECT ddt.l_suppkey, ddt.dq,
                   (round((aric.c + aric.p1*ddt.b1 + aric.p2*ddt.b2)*1e4)/1e4 + 0.0e0) AS f
                 FROM ddt JOIN aric USING (l_suppkey) WHERE ddt.b2 IS NOT NULL),
           ari_sc AS (SELECT l_suppkey, 'ari' AS model, 3 AS mrank, 3.0e0 AS k,
                   ${sq("dq - f")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM difit GROUP BY 1 HAVING count(*) >= 3),
           dilv AS (SELECT l_suppkey,
                   max(CASE WHEN rd = 1 THEN dq END) xn,
                   max(CASE WHEN rd = 2 THEN dq END) xn1
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY ws DESC) rd FROM dd)
                 GROUP BY 1
                 HAVING max(CASE WHEN rd = 2 THEN dq END) IS NOT NULL),
           yl AS (SELECT l_suppkey, max(CASE WHEN rd = 1 THEN q END) yn
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY ws DESC) rd FROM w)
                 GROUP BY 1),
           arie AS (SELECT v.l_suppkey, 1 AS step,
                   (round((c.c + c.p1*v.xn + c.p2*v.xn1)*1e4)/1e4 + 0.0e0) AS f,
                   v.xn AS fprev, c.c, c.p1, c.p2, y.yn,
                   (round((c.c + c.p1*v.xn + c.p2*v.xn1)*1e4)/1e4 + 0.0e0) AS cum
                 FROM dilv v JOIN aric c USING (l_suppkey)
                   JOIN yl y USING (l_suppkey)
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0), f, c, p1, p2, yn,
                   cum + (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0)
                 FROM arie WHERE step < 4),
           ari_fc AS (SELECT l_suppkey, 'ari' AS model, CAST(step AS BIGINT) AS step,
                   (round((yn + cum)*1e4)/1e4 + 0.0e0) AS forecast FROM arie),
           mat AS (SELECT w.l_suppkey, w.ws, w.q - muq.mu AS xc,
                   row_number() OVER (PARTITION BY w.l_suppkey ORDER BY w.ws) rn
                 FROM w JOIN muq USING (l_suppkey)),
           mag AS (SELECT unnest([-0.8e0,-0.4e0,0.0e0,0.4e0,0.8e0]) AS theta),
           mae AS (SELECT mt.l_suppkey, g.theta, mt.rn,
                   mt.xc - g.theta*0.0e0 AS e,
                   0.0e0 + (mt.xc - g.theta*0.0e0)*(mt.xc - g.theta*0.0e0) AS sse
                 FROM mat mt CROSS JOIN mag g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.theta, mt.rn,
                   mt.xc - e.theta*e.e,
                   e.sse + (mt.xc - e.theta*e.e)*(mt.xc - e.theta*e.e)
                 FROM mat mt JOIN mae e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           mafin AS (SELECT l_suppkey, theta, sse, e AS eps
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey, theta
                         ORDER BY rn DESC) rd FROM mae)
                 WHERE rd = 1),
           mapick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, theta) rn2 FROM mafin),
           ma_sc AS (SELECT p.l_suppkey, 'ma1' AS model, 4 AS mrank, 2.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(cnt.n AS DOUBLE) AS neff
                 FROM mapick p JOIN cnt USING (l_suppkey)
                 WHERE p.rn2 = 1 AND cnt.n >= 2),
           ma_fc AS (SELECT p.l_suppkey, 'ma1' AS model, CAST(s.step AS BIGINT) AS step,
                   CASE WHEN s.step = 1
                     THEN (round((muq.mu + p.theta*p.eps)*1e4)/1e4 + 0.0e0)
                     ELSE (round(muq.mu*1e4)/1e4 + 0.0e0) END AS forecast
                 FROM mapick p JOIN muq USING (l_suppkey) CROSS JOIN steps s
                 WHERE p.rn2 = 1),
           armg AS (SELECT p.phi, th.theta
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi) p
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta) th),
           arme AS (SELECT mt.l_suppkey, g.phi, g.theta, mt.rn,
                   mt.xc AS xcprev, 0.0e0 AS e, 0.0e0 AS sse
                 FROM mat mt CROSS JOIN armg g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.phi, e.theta, mt.rn, mt.xc,
                   mt.xc - e.phi*e.xcprev - e.theta*e.e,
                   e.sse + (mt.xc - e.phi*e.xcprev - e.theta*e.e)
                         * (mt.xc - e.phi*e.xcprev - e.theta*e.e)
                 FROM mat mt JOIN arme e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           armfin AS (SELECT l_suppkey, phi, theta, sse, e AS eps, xcprev AS xcl
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey, phi,
                         theta ORDER BY rn DESC) rd FROM arme)
                 WHERE rd = 1),
           armpick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, phi, theta) rn2 FROM armfin),
           arm_sc AS (SELECT p.l_suppkey, 'arma11' AS model, 5 AS mrank, 3.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(cnt.n - 1 AS DOUBLE) AS neff
                 FROM armpick p JOIN cnt USING (l_suppkey)
                 WHERE p.rn2 = 1 AND cnt.n >= 3),
           armf AS (SELECT p.l_suppkey, 1 AS step,
                   (round((muq.mu + p.phi*p.xcl + p.theta*p.eps)*1e4)/1e4 + 0.0e0) AS fc,
                   muq.mu, p.phi
                 FROM armpick p JOIN muq USING (l_suppkey) WHERE p.rn2 = 1
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   (round((mu + phi*(fc - mu))*1e4)/1e4 + 0.0e0), mu, phi
                 FROM armf WHERE step < 4),
           arm_fc AS (SELECT l_suppkey, 'arma11' AS model, CAST(step AS BIGINT) AS step,
                   fc AS forecast FROM armf),
           ths AS (SELECT l_suppkey, count(*) AS n, sum(rn) AS st,
                   sum(CAST(round(q*1e4) AS BIGINT)) AS sxm,
                   sum(rn*rn) AS stt,
                   sum(rn*CAST(round(q*1e4) AS BIGINT)) AS stxm
                 FROM t GROUP BY 1),
           thc AS (SELECT l_suppkey,
                   (round((CASE WHEN n > 1
                      THEN CAST(n*stxm - st*sxm AS DOUBLE)/1e4
                           /CAST(n*stt - st*st AS DOUBLE)
                      ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS b,
                   n, st, sxm
                 FROM ths),
           thc2 AS (SELECT l_suppkey, b,
                   (round(((CAST(sxm AS DOUBLE)/1e4 - b*CAST(st AS DOUBLE))
                           /CAST(n AS DOUBLE))*1e4)/1e4 + 0.0e0) AS a
                 FROM thc),
           tht AS (SELECT t.l_suppkey, t.rn, t.q, c2.a, c2.b,
                   (round((2e0*t.q - (c2.a + c2.b*CAST(t.rn AS DOUBLE)))*1e4)/1e4 + 0.0e0) AS z
                 FROM t JOIN thc2 c2 USING (l_suppkey)),
           thse AS (SELECT l_suppkey, rn, q, a, b, z AS y FROM tht WHERE rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, mt.rn, mt.q, mt.a, mt.b,
                   0.3e0*mt.z + (1e0-0.3e0)*e.y
                 FROM tht mt JOIN thse e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           thfit AS (SELECT l_suppkey, rn, q, b,
                   (round((0.5e0*(a + b*CAST(rn AS DOUBLE)) + 0.5e0*y)*1e4)/1e4 + 0.0e0) AS f
                 FROM thse),
           thpred AS (SELECT l_suppkey, rn, q, b,
                   lag(f) OVER (PARTITION BY l_suppkey ORDER BY rn) pf
                 FROM thfit),
           th_sc AS (SELECT l_suppkey, 'theta' AS model, 6 AS mrank, 2.0e0 AS k,
                   ${sq("q - (round((pf + b/2)*1e4)/1e4 + 0.0e0)")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM thpred WHERE pf IS NOT NULL GROUP BY 1),
           thlast AS (SELECT l_suppkey, a, b, y, rn
                 FROM (SELECT thse.*, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY rn DESC) rd FROM thse)
                 WHERE rd = 1),
           th_fc AS (SELECT l_suppkey, 'theta' AS model, CAST(s.step AS BIGINT) AS step,
                   (round((0.5e0*(a + b*CAST(rn + s.step AS DOUBLE)) + 0.5e0*y)*1e4)/1e4 + 0.0e0)
                     AS forecast
                 FROM thlast CROSS JOIN steps s),
           he AS (SELECT l_suppkey, rn, q, q AS lvl,
                   CAST(NULL AS DOUBLE) AS tr, q AS lastx
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, mt.rn, mt.q,
                   0.3e0*mt.q + (1e0-0.3e0)*e.lvl,
                   CASE WHEN e.tr IS NULL THEN mt.q - e.lastx
                        ELSE 0.1e0*(mt.q - e.lastx) + (1e0-0.1e0)*e.tr END,
                   mt.q
                 FROM t mt JOIN he e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           hlag AS (SELECT l_suppkey, rn, q,
                   lag(lvl) OVER (PARTITION BY l_suppkey ORDER BY rn) pl,
                   lag(tr) OVER (PARTITION BY l_suppkey ORDER BY rn) pt
                 FROM he),
           h_sc AS (SELECT l_suppkey, 'holt_damped' AS model, 7 AS mrank, 2.0e0 AS k,
                   ${sq("q - (round((pl + 0.9e0*pt)*1e4)/1e4 + 0.0e0)")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM hlag WHERE pt IS NOT NULL GROUP BY 1),
           hlast AS (SELECT l_suppkey, (round(lvl*1e4)/1e4 + 0.0e0) l,
                   (round(tr*1e4)/1e4 + 0.0e0) b
                 FROM (SELECT he.*, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY rn DESC) rd FROM he)
                 WHERE rd = 1 AND tr IS NOT NULL),
           h_fc AS (SELECT l_suppkey, 'holt_damped' AS model,
                   CAST(d.step AS BIGINT) AS step,
                   (round((l + b*d.damp)*1e4)/1e4 + 0.0e0) AS forecast
                 FROM hlast, (VALUES $damps) d(step, damp)),
           scb AS (SELECT * FROM mean_sc UNION ALL SELECT * FROM sn_sc
                 UNION ALL SELECT * FROM ar_sc UNION ALL SELECT * FROM ari_sc
                 UNION ALL SELECT * FROM ma_sc UNION ALL SELECT * FROM arm_sc
                 UNION ALL SELECT * FROM th_sc UNION ALL SELECT * FROM h_sc),
           aics AS (SELECT l_suppkey, model, mrank,
                   (round((neff*ln(greatest(sse, 1e-8)/neff) + 2.0e0*k)*1e4)/1e4 + 0.0e0) AS aic
                 FROM scb WHERE sse IS NOT NULL AND neff >= 1),
           fcs AS (SELECT * FROM mean_fc UNION ALL SELECT * FROM sn_fc
                 UNION ALL SELECT * FROM ar_fc UNION ALL SELECT * FROM ari_fc
                 UNION ALL SELECT * FROM ma_fc UNION ALL SELECT * FROM arm_fc
                 UNION ALL SELECT * FROM th_fc UNION ALL SELECT * FROM h_fc)"""
  }

  /** q259 tail: deterministic argmin over the shared member CTEs. */
  private lazy val championSql: String =
    s"""$championMembersSql,
           champ AS (SELECT l_suppkey, model, aic
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY aic, mrank) rk FROM aics)
                 WHERE rk = 1)
         SELECT c.l_suppkey, c.model AS champion, c.aic, f.step, f.forecast
         FROM champ c JOIN fcs f ON c.l_suppkey = f.l_suppkey
           AND c.model = f.model"""

  /** q286 tail: the scoreboard itself — every aics row joined back to
    * its scb sufficient statistics, ranked by (aic, member order). */
  private lazy val orderSearchSql: String =
    s"""$championMembersSql,
           rk AS (SELECT l_suppkey, model, aic,
                   row_number() OVER (PARTITION BY l_suppkey
                     ORDER BY aic, mrank) AS rank
                 FROM aics)
         SELECT s.l_suppkey, s.model, s.k, s.sse, s.neff AS n_eff,
                r2.aic, r2.rank
         FROM scb s JOIN rk r2 ON s.l_suppkey = r2.l_suppkey
           AND s.model = r2.model"""

  /** Shared extended-order CTEs (q297/q298/q299/q300/q307/q308/q310):
    * ARMA(2,1) and ARMA(2,2) on the first differences, MA(1) on the
    * second differences, and MA(1) plus joint ARMA(1,1) on the
    * seasonal differences,
    * mirroring SequentialKernels.fitArma21Full / fitArma22Full /
    * OrderSearch.arima021Full / OrderSearch.sarima011Full /
    * OrderSearch.sarma11Full term for term. Rides on championMembersSql's w/dd/yl/steps/mag CTEs;
    * DuckDB's optimizer prunes the member CTEs a consumer doesn't
    * reference. */
  private lazy val extOrderBlocksSql: String =
    s"""dmu AS (SELECT l_suppkey,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu,
                   count(*) AS nd
                 FROM dd GROUP BY 1),
           dmt AS (SELECT dd.l_suppkey, dd.dq - dmu.mu AS xc,
                   row_number() OVER (PARTITION BY dd.l_suppkey ORDER BY dd.ws) rn
                 FROM dd JOIN dmu USING (l_suppkey)),
           a2g AS (SELECT p1.phi1, p2.phi2, th.theta
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi1) p1
                 CROSS JOIN (SELECT unnest([-0.3e0,0.0e0,0.3e0]) AS phi2) p2
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta) th),
           a2e AS (SELECT mt.l_suppkey, g.phi1, g.phi2, g.theta, mt.rn,
                   mt.xc AS xp1, 0.0e0 AS xp2, 0.0e0 AS e, 0.0e0 AS sse
                 FROM dmt mt CROSS JOIN a2g g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.phi1, e.phi2, e.theta, mt.rn,
                   mt.xc, e.xp1,
                   CASE WHEN mt.rn <= 2 THEN 0.0e0
                        ELSE mt.xc - e.phi1*e.xp1 - e.phi2*e.xp2 - e.theta*e.e END,
                   CASE WHEN mt.rn <= 2 THEN 0.0e0
                        ELSE e.sse + (mt.xc - e.phi1*e.xp1 - e.phi2*e.xp2 - e.theta*e.e)
                                   * (mt.xc - e.phi1*e.xp1 - e.phi2*e.xp2 - e.theta*e.e) END
                 FROM dmt mt JOIN a2e e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           a2fin AS (SELECT l_suppkey, phi1, phi2, theta, sse, e AS eps,
                   xp1 AS xcl, xp2 AS xcp
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey,
                         phi1, phi2, theta ORDER BY rn DESC) rd FROM a2e)
                 WHERE rd = 1),
           a2pick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, phi1, phi2, theta) rn2 FROM a2fin),
           a2_sc AS (SELECT p.l_suppkey, 'arima211' AS model, 9 AS mrank, 4.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(d.nd - 2 AS DOUBLE) AS neff
                 FROM a2pick p JOIN dmu d USING (l_suppkey)
                 WHERE p.rn2 = 1 AND d.nd >= 4),
           a2f AS (SELECT p.l_suppkey, 1 AS step,
                   (round((d.mu + p.phi1*p.xcl + p.phi2*p.xcp + p.theta*p.eps)*1e4)/1e4 + 0.0e0) AS fc,
                   0.0e0 AS fprev, d.mu, p.phi1, p.phi2, p.xcl, p.theta,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS msse
                 FROM a2pick p JOIN dmu d USING (l_suppkey) WHERE p.rn2 = 1
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   CASE WHEN step = 1
                     THEN (round((mu + phi1*(fc - mu) + phi2*xcl)*1e4)/1e4 + 0.0e0)
                     ELSE (round((mu + phi1*(fc - mu) + phi2*(fprev - mu))*1e4)/1e4 + 0.0e0) END,
                   fc, mu, phi1, phi2, xcl, theta, msse
                 FROM a2f WHERE step < 4),
           a2int AS (SELECT f.l_suppkey, f.phi1, f.phi2, f.theta, f.msse, f.step,
                   (round((y.yn + sum(f.fc) OVER (PARTITION BY f.l_suppkey
                      ORDER BY f.step))*1e4)/1e4 + 0.0e0) AS forecast
                 FROM a2f f JOIN yl y USING (l_suppkey)),
           a22g AS (SELECT p1.phi1, p2.phi2, t1.theta1, t2.theta2
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi1) p1
                 CROSS JOIN (SELECT unnest([-0.3e0,0.0e0,0.3e0]) AS phi2) p2
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta1) t1
                 CROSS JOIN (SELECT unnest([-0.3e0,0.0e0,0.3e0]) AS theta2) t2),
           a22e AS (SELECT mt.l_suppkey, g.phi1, g.phi2, g.theta1, g.theta2,
                   mt.rn, mt.xc AS xp1, 0.0e0 AS xp2,
                   0.0e0 AS e, 0.0e0 AS ep, 0.0e0 AS sse
                 FROM dmt mt CROSS JOIN a22g g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.phi1, e.phi2, e.theta1, e.theta2, mt.rn,
                   mt.xc, e.xp1,
                   CASE WHEN mt.rn <= 2 THEN 0.0e0
                        ELSE mt.xc - e.phi1*e.xp1 - e.phi2*e.xp2
                             - e.theta1*e.e - e.theta2*e.ep END,
                   CASE WHEN mt.rn <= 2 THEN 0.0e0 ELSE e.e END,
                   CASE WHEN mt.rn <= 2 THEN 0.0e0
                        ELSE e.sse + (mt.xc - e.phi1*e.xp1 - e.phi2*e.xp2
                                      - e.theta1*e.e - e.theta2*e.ep)
                                   * (mt.xc - e.phi1*e.xp1 - e.phi2*e.xp2
                                      - e.theta1*e.e - e.theta2*e.ep) END
                 FROM dmt mt JOIN a22e e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           a22fin AS (SELECT l_suppkey, phi1, phi2, theta1, theta2, sse,
                   e AS eps, ep AS epsp, xp1 AS xcl, xp2 AS xcp
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey,
                         phi1, phi2, theta1, theta2 ORDER BY rn DESC) rd FROM a22e)
                 WHERE rd = 1),
           a22pick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, phi1, phi2, theta1, theta2) rn2 FROM a22fin),
           a22_sc AS (SELECT p.l_suppkey, 'arima212' AS model, 11 AS mrank, 5.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(d.nd - 2 AS DOUBLE) AS neff
                 FROM a22pick p JOIN dmu d USING (l_suppkey)
                 WHERE p.rn2 = 1 AND d.nd >= 4),
           a22f AS (SELECT p.l_suppkey, 1 AS step,
                   (round((d.mu + p.phi1*p.xcl + p.phi2*p.xcp
                      + p.theta1*p.eps + p.theta2*p.epsp)*1e4)/1e4 + 0.0e0) AS fc,
                   0.0e0 AS fprev, d.mu, p.phi1, p.phi2, p.xcl,
                   p.theta1, p.theta2, p.eps,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS msse
                 FROM a22pick p JOIN dmu d USING (l_suppkey) WHERE p.rn2 = 1
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   CASE WHEN step = 1
                     THEN (round((mu + phi1*(fc - mu) + phi2*xcl
                            + theta2*eps)*1e4)/1e4 + 0.0e0)
                     ELSE (round((mu + phi1*(fc - mu) + phi2*(fprev - mu))*1e4)/1e4 + 0.0e0) END,
                   fc, mu, phi1, phi2, xcl, theta1, theta2, eps, msse
                 FROM a22f WHERE step < 4),
           a22int AS (SELECT f.l_suppkey, f.phi1, f.phi2, f.theta1, f.theta2,
                   f.msse, f.step,
                   (round((y.yn + sum(f.fc) OVER (PARTITION BY f.l_suppkey
                      ORDER BY f.step))*1e4)/1e4 + 0.0e0) AS forecast
                 FROM a22f f JOIN yl y USING (l_suppkey)),
           d2s AS (SELECT l_suppkey, ws,
                   dq - lag(dq, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) AS ddq
                 FROM dd),
           d2v AS (SELECT l_suppkey, ws, ddq FROM d2s WHERE ddq IS NOT NULL),
           d2mu AS (SELECT l_suppkey,
                   (CAST(sum(CAST(round(ddq*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu,
                   count(*) AS n2
                 FROM d2v GROUP BY 1),
           d2mt AS (SELECT v.l_suppkey, v.ddq - m.mu AS xc,
                   row_number() OVER (PARTITION BY v.l_suppkey ORDER BY v.ws) rn
                 FROM d2v v JOIN d2mu m USING (l_suppkey)),
           d2e AS (SELECT mt.l_suppkey, g.theta, mt.rn,
                   mt.xc - g.theta*0.0e0 AS e,
                   0.0e0 + (mt.xc - g.theta*0.0e0)*(mt.xc - g.theta*0.0e0) AS sse
                 FROM d2mt mt CROSS JOIN mag g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.theta, mt.rn,
                   mt.xc - e.theta*e.e,
                   e.sse + (mt.xc - e.theta*e.e)*(mt.xc - e.theta*e.e)
                 FROM d2mt mt JOIN d2e e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           d2fin AS (SELECT l_suppkey, theta, sse, e AS eps
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey, theta
                         ORDER BY rn DESC) rd FROM d2e)
                 WHERE rd = 1),
           d2pick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, theta) rn2 FROM d2fin),
           d2_sc AS (SELECT p.l_suppkey, 'arima021' AS model, 8 AS mrank, 2.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(m.n2 AS DOUBLE) AS neff
                 FROM d2pick p JOIN d2mu m USING (l_suppkey)
                 WHERE p.rn2 = 1 AND m.n2 >= 2),
           dlv2 AS (SELECT l_suppkey, dq AS dn
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY ws DESC) rd FROM dd)
                 WHERE rd = 1),
           d2fc AS (SELECT p.l_suppkey, p.theta,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS msse, s.step,
                   CASE WHEN s.step = 1
                     THEN (round((m.mu + p.theta*p.eps)*1e4)/1e4 + 0.0e0)
                     ELSE (round(m.mu*1e4)/1e4 + 0.0e0) END AS f2
                 FROM d2pick p JOIN d2mu m USING (l_suppkey) CROSS JOIN steps s
                 WHERE p.rn2 = 1),
           d2i AS (SELECT f.l_suppkey, f.theta, f.msse, f.step,
                   (round((v.dn + sum(f.f2) OVER (PARTITION BY f.l_suppkey
                      ORDER BY f.step))*1e4)/1e4 + 0.0e0) AS dhat
                 FROM d2fc f JOIN dlv2 v USING (l_suppkey)),
           d2y AS (SELECT i.l_suppkey, i.theta, i.msse, i.step,
                   (round((y.yn + sum(i.dhat) OVER (PARTITION BY i.l_suppkey
                      ORDER BY i.step))*1e4)/1e4 + 0.0e0) AS forecast
                 FROM d2i i JOIN yl y USING (l_suppkey)),
           sdd AS (SELECT l_suppkey, ws,
                   q - lag(q, 13) OVER (PARTITION BY l_suppkey ORDER BY ws) AS sdq
                 FROM w),
           sdv AS (SELECT l_suppkey, ws, sdq FROM sdd WHERE sdq IS NOT NULL),
           sdt AS (SELECT *,
                   lag(sdq, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) b1,
                   lag(sdq, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) b2
                 FROM sdv),
           ${arBlock("sdt", "sdq", "sar")},
           sarfit AS (SELECT sdt.l_suppkey, sdt.sdq,
                   (round((sarc.c + sarc.p1*sdt.b1 + sarc.p2*sdt.b2)*1e4)/1e4 + 0.0e0) AS f
                 FROM sdt JOIN sarc USING (l_suppkey) WHERE sdt.b2 IS NOT NULL),
           sar_sc AS (SELECT l_suppkey, 'sari' AS model, 10 AS mrank, 3.0e0 AS k,
                   ${sq("sdq - f")} AS sse,
                   CAST(count(*) AS DOUBLE) AS neff
                 FROM sarfit GROUP BY 1 HAVING count(*) >= 3),
           sarlv AS (SELECT l_suppkey,
                   max(CASE WHEN rd = 1 THEN sdq END) xn,
                   max(CASE WHEN rd = 2 THEN sdq END) xn1
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY ws DESC) rd FROM sdv)
                 GROUP BY 1
                 HAVING max(CASE WHEN rd = 2 THEN sdq END) IS NOT NULL),
           sarbv AS (SELECT l_suppkey, CAST(13 - rd + 1 AS BIGINT) AS step, q AS base
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY ws DESC) rd FROM w)
                 WHERE rd <= 13 AND rd > 9),
           sare AS (SELECT lv.l_suppkey, 1 AS step,
                   (round((c.c + c.p1*lv.xn + c.p2*lv.xn1)*1e4)/1e4 + 0.0e0) AS f,
                   lv.xn AS fprev, c.c, c.p1, c.p2
                 FROM sarlv lv JOIN sarc c USING (l_suppkey)
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0), f, c, p1, p2
                 FROM sare WHERE step < 4),
           sar_fc AS (SELECT e.l_suppkey, 'sari' AS model,
                   CAST(e.step AS BIGINT) AS step,
                   (round((b.base + e.f)*1e4)/1e4 + 0.0e0) AS forecast
                 FROM sare e JOIN sarbv b ON e.l_suppkey = b.l_suppkey
                   AND e.step = b.step),
           smamu AS (SELECT l_suppkey,
                   (CAST(sum(CAST(round(sdq*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu,
                   count(*) AS ns
                 FROM sdv GROUP BY 1),
           smat AS (SELECT v.l_suppkey, v.sdq - m.mu AS xc,
                   row_number() OVER (PARTITION BY v.l_suppkey ORDER BY v.ws) rn
                 FROM sdv v JOIN smamu m USING (l_suppkey)),
           smae AS (SELECT mt.l_suppkey, g.theta, mt.rn,
                   mt.xc - g.theta*0.0e0 AS e,
                   0.0e0 + (mt.xc - g.theta*0.0e0)*(mt.xc - g.theta*0.0e0) AS sse
                 FROM smat mt CROSS JOIN mag g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.theta, mt.rn,
                   mt.xc - e.theta*e.e,
                   e.sse + (mt.xc - e.theta*e.e)*(mt.xc - e.theta*e.e)
                 FROM smat mt JOIN smae e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           smafin AS (SELECT l_suppkey, theta, sse, e AS eps
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey, theta
                         ORDER BY rn DESC) rd FROM smae)
                 WHERE rd = 1),
           smapick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, theta) rn2 FROM smafin),
           sma_sc AS (SELECT p.l_suppkey, 'sma' AS model, 12 AS mrank, 2.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(m.ns AS DOUBLE) AS neff
                 FROM smapick p JOIN smamu m USING (l_suppkey)
                 WHERE p.rn2 = 1 AND m.ns >= 2),
           smaf AS (SELECT p.l_suppkey, p.theta,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS msse, s.step,
                   CASE WHEN s.step = 1
                     THEN (round((m.mu + p.theta*p.eps)*1e4)/1e4 + 0.0e0)
                     ELSE (round(m.mu*1e4)/1e4 + 0.0e0) END AS f
                 FROM smapick p JOIN smamu m USING (l_suppkey) CROSS JOIN steps s
                 WHERE p.rn2 = 1),
           smaint AS (SELECT f.l_suppkey, f.theta, f.msse,
                   CAST(f.step AS BIGINT) AS step,
                   (round((b.base + f.f)*1e4)/1e4 + 0.0e0) AS forecast
                 FROM smaf f JOIN sarbv b ON f.l_suppkey = b.l_suppkey
                   AND f.step = b.step),
           smg AS (SELECT p.phi, th.theta
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi) p
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta) th),
           smge AS (SELECT mt.l_suppkey, g.phi, g.theta, mt.rn,
                   mt.xc AS xcprev, 0.0e0 AS e, 0.0e0 AS sse
                 FROM smat mt CROSS JOIN smg g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.phi, e.theta, mt.rn, mt.xc,
                   mt.xc - e.phi*e.xcprev - e.theta*e.e,
                   e.sse + (mt.xc - e.phi*e.xcprev - e.theta*e.e)
                         * (mt.xc - e.phi*e.xcprev - e.theta*e.e)
                 FROM smat mt JOIN smge e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           smgfin AS (SELECT l_suppkey, phi, theta, sse, e AS eps, xcprev AS xcl
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey, phi,
                         theta ORDER BY rn DESC) rd FROM smge)
                 WHERE rd = 1),
           smgpick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, phi, theta) rn2 FROM smgfin),
           sarma_sc AS (SELECT p.l_suppkey, 'sarma' AS model, 13 AS mrank, 3.0e0 AS k,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(m.ns - 1 AS DOUBLE) AS neff
                 FROM smgpick p JOIN smamu m USING (l_suppkey)
                 WHERE p.rn2 = 1 AND m.ns >= 3),
           sarmaf AS (SELECT p.l_suppkey, p.phi, p.theta,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS msse, 1 AS step,
                   (round((m.mu + p.phi*p.xcl + p.theta*p.eps)*1e4)/1e4 + 0.0e0) AS f,
                   m.mu
                 FROM smgpick p JOIN smamu m USING (l_suppkey) WHERE p.rn2 = 1
                 UNION ALL
                 SELECT l_suppkey, phi, theta, msse, step + 1,
                   (round((mu + phi*(f - mu))*1e4)/1e4 + 0.0e0), mu
                 FROM sarmaf WHERE step < 4),
           sarmaint AS (SELECT f.l_suppkey, f.phi, f.theta, f.msse,
                   CAST(f.step AS BIGINT) AS step,
                   (round((b.base + f.f)*1e4)/1e4 + 0.0e0) AS forecast
                 FROM sarmaf f JOIN sarbv b ON f.l_suppkey = b.l_suppkey
                   AND f.step = b.step),
           sarma_fc AS (SELECT l_suppkey, 'sarma' AS model, step, forecast
                 FROM sarmaint),
           d2_fc AS (SELECT l_suppkey, 'arima021' AS model,
                   CAST(step AS BIGINT) AS step, forecast FROM d2y),
           a2_fc AS (SELECT l_suppkey, 'arima211' AS model,
                   CAST(step AS BIGINT) AS step, forecast FROM a2int),
           a22_fc AS (SELECT l_suppkey, 'arima212' AS model,
                   CAST(step AS BIGINT) AS step, forecast FROM a22int),
           sma_fc AS (SELECT l_suppkey, 'sma' AS model, step, forecast
                 FROM smaint)"""

  /** q297 oracle: the ARMA(2,1)-on-diffs recursion, winner triple by
    * (sse, φ₁, φ₂, θ), integrated forecast — mirrors arima211ForecastFrom. */
  private lazy val arima211Sql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql
         SELECT l_suppkey, phi1, phi2, theta, msse AS sse,
                CAST(step AS BIGINT) AS step, forecast
         FROM a2int"""

  /** q298 oracle: the MA(1)-on-second-diffs recursion, doubly
    * integrated — mirrors OrderSearch.arima021ForecastFrom. */
  private lazy val arima021Sql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql
         SELECT l_suppkey, theta, msse AS sse,
                CAST(step AS BIGINT) AS step, forecast
         FROM d2y"""

  /** q307 oracle: the ARMA(2,2)-on-diffs recursion, winner quadruple
    * by (sse, φ₁, φ₂, θ₁, θ₂), integrated forecast — mirrors
    * SequentialKernels.arima212ForecastFrom. */
  private lazy val arima212Sql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql
         SELECT l_suppkey, phi1, phi2, theta1, theta2, msse AS sse,
                CAST(step AS BIGINT) AS step, forecast
         FROM a22int"""

  /** q308 oracle: the MA(1)-on-seasonal-diffs recursion, seasonally
    * integrated against the observed last season — mirrors
    * OrderSearch.sarima011ForecastFrom. */
  private lazy val sarima011Sql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql
         SELECT l_suppkey, theta, msse AS sse, step, forecast
         FROM smaint"""

  /** q310 oracle: the ARMA(1,1)-on-seasonal-diffs recursion (the joint
    * seasonal member), winner pair by (sse, φ, θ), seasonally
    * integrated against the observed last season — mirrors
    * OrderSearch.sarma11ForecastFrom. */
  private lazy val sarma11Sql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql
         SELECT l_suppkey, phi, theta, msse AS sse, step, forecast
         FROM sarmaint"""

  /** q311 oracle: the MA(3) θ³-grid recursion on the centered weekly
    * series (rides championMembersSql's mat/muq/steps CTEs), winner by
    * (sse, θ₁, θ₂, θ₃), three-step memory-drain forecast — mirrors
    * SequentialKernels.fitMa3Full / ma3ForecastFrom. */
  /** MA(3) fit CTE chain (grid cross, CLS recursion, per-series pick)
    * over championMembersSql's `mat`/`muq` — shared by the q311 probe
    * and the sixteen-member full board (q336/q337). */
  private lazy val ma3BlocksSql: String =
    s"""m3g AS (SELECT a.t1, b.t2, c.t3
                 FROM (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS t1) a
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS t2) b
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS t3) c),
           m3e AS (SELECT mt.l_suppkey, g.t1, g.t2, g.t3, mt.rn,
                   mt.xc AS e, 0.0e0 AS ep, 0.0e0 AS epp,
                   mt.xc*mt.xc AS sse
                 FROM mat mt CROSS JOIN m3g g WHERE mt.rn = 1
                 UNION ALL
                 SELECT mt.l_suppkey, e.t1, e.t2, e.t3, mt.rn,
                   mt.xc - e.t1*e.e - e.t2*e.ep - e.t3*e.epp,
                   e.e, e.ep,
                   e.sse + (mt.xc - e.t1*e.e - e.t2*e.ep - e.t3*e.epp)
                         * (mt.xc - e.t1*e.e - e.t2*e.ep - e.t3*e.epp)
                 FROM mat mt JOIN m3e e ON mt.l_suppkey = e.l_suppkey
                   AND mt.rn = e.rn + 1),
           m3fin AS (SELECT l_suppkey, t1, t2, t3, sse,
                   e AS eps, ep AS epsp, epp AS epspp
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey,
                         t1, t2, t3 ORDER BY rn DESC) rd FROM m3e)
                 WHERE rd = 1),
           m3pick AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY sse, t1, t2, t3) rn2 FROM m3fin)"""

  /** MA(3) forecast tail over the pick — q311's oracle body. */
  private lazy val ma3FcSql: String =
    s"""m3f AS (SELECT p.l_suppkey, p.t1 AS theta1, p.t2 AS theta2,
                   p.t3 AS theta3,
                   (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(s.step AS BIGINT) AS step,
                   (CASE s.step
                      WHEN 1 THEN round((m.mu + p.t1*p.eps + p.t2*p.epsp
                                         + p.t3*p.epspp)*1e4)/1e4
                      WHEN 2 THEN round((m.mu + p.t2*p.eps + p.t3*p.epsp)*1e4)/1e4
                      WHEN 3 THEN round((m.mu + p.t3*p.eps)*1e4)/1e4
                      ELSE round(m.mu*1e4)/1e4 END + 0.0e0) AS forecast
                 FROM m3pick p JOIN muq m USING (l_suppkey) CROSS JOIN steps s
                 WHERE p.rn2 = 1)"""

  private lazy val ma3ProbeSql: String =
    s"""$championMembersSql,
           $ma3BlocksSql,
           $ma3FcSql
         SELECT l_suppkey, theta1, theta2, theta3, sse, step, forecast
         FROM m3f"""

  /** Guarded denominator, the YuleWalker.sden twin. */
  private def ywsd(v: String) = s"(CASE WHEN abs($v) >= 1e-12 THEN $v ELSE 1.0e0 END)"

  /** Shared q313/q314 CTE core: centered micro-int weekly series,
    * autocovariance product sums, Levinson–Durbin chain through k₅ and
    * the `ok` gate (graft.seq.YuleWalker.prep mirrored verbatim). */
  private lazy val ywCoreSql: String =
    s"""$championMembersSql,
           $ywChainSql"""

  /** The yw chain WITHOUT the champion prefix — composable into the
    * full-board oracle next to the ext/ma3 blocks. */
  private lazy val ywChainSql: String = {
    def sd(v: String) = ywsd(v)
    s"""ywt AS (SELECT w.l_suppkey, w.ws,
                   CAST(round((w.q - muq.mu)*1e4) AS BIGINT) AS xi,
                   row_number() OVER (PARTITION BY w.l_suppkey
                     ORDER BY w.ws DESC) rd
                 FROM w JOIN muq USING (l_suppkey)),
           ywl AS (SELECT *,
                   lag(xi, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) i1,
                   lag(xi, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) i2,
                   lag(xi, 3) OVER (PARTITION BY l_suppkey ORDER BY ws) i3,
                   lag(xi, 4) OVER (PARTITION BY l_suppkey ORDER BY ws) i4,
                   lag(xi, 5) OVER (PARTITION BY l_suppkey ORDER BY ws) i5
                 FROM ywt),
           yws AS (SELECT l_suppkey,
                   CAST(count(*) AS DOUBLE) n,
                   CAST(count(i5) AS DOUBLE) np5,
                   (CAST(sum(CAST(xi AS HUGEINT)*xi) AS DOUBLE)/1e8 + 0.0e0) p0,
                   (CAST(sum(CAST(xi AS HUGEINT)*i1) AS DOUBLE)/1e8 + 0.0e0) p1,
                   (CAST(sum(CAST(xi AS HUGEINT)*i2) AS DOUBLE)/1e8 + 0.0e0) p2,
                   (CAST(sum(CAST(xi AS HUGEINT)*i3) AS DOUBLE)/1e8 + 0.0e0) p3,
                   (CAST(sum(CAST(xi AS HUGEINT)*i4) AS DOUBLE)/1e8 + 0.0e0) p4,
                   (CAST(sum(CAST(xi AS HUGEINT)*i5) AS DOUBLE)/1e8 + 0.0e0) p5,
                   max(CASE WHEN rd = 1 THEN xi END) x1i,
                   max(CASE WHEN rd = 2 THEN xi END) x2i,
                   max(CASE WHEN rd = 3 THEN xi END) x3i,
                   max(CASE WHEN rd = 4 THEN xi END) x4i,
                   max(CASE WHEN rd = 5 THEN xi END) x5i
                 FROM ywl GROUP BY 1 HAVING count(i5) >= 3),
           ywc AS (SELECT *, p0/n c0, p1/n c1, p2/n c2, p3/n c3,
                   p4/n c4, p5/n c5 FROM yws),
           ywk1 AS (SELECT *, c1/${sd("c0")} k1 FROM ywc),
           ywv1 AS (SELECT *, c0*(1.0e0 - k1*k1) v1 FROM ywk1),
           ywk2 AS (SELECT *, (c2 - k1*c1)/${sd("v1")} k2 FROM ywv1),
           ywv2 AS (SELECT *, k1 - k2*k1 AS a21,
                   v1*(1.0e0 - k2*k2) AS v2 FROM ywk2),
           ywk3 AS (SELECT *, (c3 - a21*c2 - k2*c1)/${sd("v2")} k3 FROM ywv2),
           ywv3 AS (SELECT *, a21 - k3*k2 AS a31, k2 - k3*a21 AS a32,
                   v2*(1.0e0 - k3*k3) AS v3 FROM ywk3),
           ywk4 AS (SELECT *, (c4 - a31*c3 - a32*c2 - k3*c1)/${sd("v3")} k4
                 FROM ywv3),
           ywv4 AS (SELECT *, a31 - k4*k3 AS a41, a32 - k4*a32 AS a42,
                   k3 - k4*a31 AS a43, v3*(1.0e0 - k4*k4) AS v4 FROM ywk4),
           ywk5 AS (SELECT *,
                   (c5 - a41*c4 - a42*c3 - a43*c2 - k4*c1)/${sd("v4")} k5,
                   (c0 >= 1e-8 AND abs(v1) >= 1e-12 AND abs(v2) >= 1e-12
                    AND abs(v3) >= 1e-12 AND abs(v4) >= 1e-12) AS ok
                 FROM ywv4)"""
  }

  /** q313 oracle tail: rounded φ's, conditioned-row SSE, and the
    * rounded-feedback 4-step forecast over the shared core. */
  /** AR(5) coefficient + conditioned-SSE blocks over the yw chain —
    * shared by the q313 probe and the sixteen-member full board. */
  private lazy val ywFitSql: String =
    s"""ywf AS (SELECT l_suppkey, x1i, x2i, x3i, x4i, x5i,
                   (round((CASE WHEN ok THEN a41 - k5*k4 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) phi1,
                   (round((CASE WHEN ok THEN a42 - k5*a43 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) phi2,
                   (round((CASE WHEN ok THEN a43 - k5*a42 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) phi3,
                   (round((CASE WHEN ok THEN k4 - k5*a41 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) phi4,
                   (round((CASE WHEN ok THEN k5 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) phi5
                 FROM ywk5),
           ywr AS (SELECT l.l_suppkey,
                   ${sq("(l.xi/1e4 + 0.0e0) - (f.phi1*(l.i1/1e4 + 0.0e0) + f.phi2*(l.i2/1e4 + 0.0e0) + f.phi3*(l.i3/1e4 + 0.0e0) + f.phi4*(l.i4/1e4 + 0.0e0) + f.phi5*(l.i5/1e4 + 0.0e0))")} AS sse
                 FROM ywl l JOIN ywf f ON l.l_suppkey = f.l_suppkey
                 WHERE l.i5 IS NOT NULL GROUP BY 1)"""

  /** AR(5) forecast chain (rounded-feedback recursion) — q313's
    * oracle tail and the full-board forecast leg. */
  private lazy val ywFcSql: String =
    s"""ywg AS (SELECT f.l_suppkey, f.phi1, f.phi2, f.phi3, f.phi4,
                   f.phi5, r.sse, m.mu,
                   (f.x1i/1e4 + 0.0e0) x1, (f.x2i/1e4 + 0.0e0) x2,
                   (f.x3i/1e4 + 0.0e0) x3, (f.x4i/1e4 + 0.0e0) x4,
                   (f.x5i/1e4 + 0.0e0) x5
                 FROM ywf f JOIN ywr r USING (l_suppkey)
                   JOIN muq m USING (l_suppkey)),
           ywg1 AS (SELECT *, (round((phi1*x1 + phi2*x2 + phi3*x3
                     + phi4*x4 + phi5*x5)*1e4)/1e4 + 0.0e0) g1 FROM ywg),
           ywg2 AS (SELECT *, (round((phi1*g1 + phi2*x1 + phi3*x2
                     + phi4*x3 + phi5*x4)*1e4)/1e4 + 0.0e0) g2 FROM ywg1),
           ywg3 AS (SELECT *, (round((phi1*g2 + phi2*g1 + phi3*x1
                     + phi4*x2 + phi5*x3)*1e4)/1e4 + 0.0e0) g3 FROM ywg2),
           ywg4 AS (SELECT *, (round((phi1*g3 + phi2*g2 + phi3*g1
                     + phi4*x1 + phi5*x2)*1e4)/1e4 + 0.0e0) g4 FROM ywg3)"""

  private lazy val ywProbeSql: String =
    s"""$ywCoreSql,
           $ywFitSql,
           $ywFcSql
         SELECT l_suppkey, phi1, phi2, phi3, phi4, phi5, sse,
                CAST(s.step AS BIGINT) AS step,
                (CASE s.step WHEN 1 THEN round((mu + g1)*1e4)/1e4
                             WHEN 2 THEN round((mu + g2)*1e4)/1e4
                             WHEN 3 THEN round((mu + g3)*1e4)/1e4
                             ELSE round((mu + g4)*1e4)/1e4 END + 0.0e0) AS forecast
         FROM ywg4 CROSS JOIN steps s"""

  /** q314 oracle tail: rounded ACF cₖ/c₀ and PACF kₖ with the same
    * ok-gate/zero-fallback as the φ's, straight off the shared core. */
  private lazy val ywAcfSql: String = {
    def a(k: Int) =
      s"(round((CASE WHEN ok THEN c$k/${ywsd("c0")} ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) acf$k"
    def p(k: Int) =
      s"(round((CASE WHEN ok THEN k$k ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) pacf$k"
    s"""$ywCoreSql
         SELECT l_suppkey,
                ${(1 to 5).map(a).mkString(",\n                ")},
                ${(1 to 5).map(p).mkString(",\n                ")},
                np5 AS n_eff
         FROM ywk5"""
  }

  /** q320 oracle tail: Ljung–Box Q at h = 5 over the ROUNDED sample
    * autocorrelations (exactly the q314 values), same ok-gate. */
  private lazy val ywLbSql: String = {
    def rk(k: Int) =
      s"(round((CASE WHEN ok THEN c$k/${ywsd("c0")} ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0)"
    val terms = (1 to 5).map(k => s"${rk(k)}*${rk(k)}/(n-$k)").mkString(" + ")
    s"""$ywCoreSql
         SELECT l_suppkey, n AS n_obs,
                (round((CASE WHEN ok THEN n*(n+2)*($terms) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS lb_q
         FROM ywk5"""
  }

  /** q309 oracle: the q267 Akaike-blend arithmetic over the
    * fourteen-member scoreboard and forecast unions. */
  private lazy val blendExtSql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql,
           scbx AS (SELECT * FROM scb UNION ALL SELECT * FROM d2_sc
                 UNION ALL SELECT * FROM a2_sc UNION ALL SELECT * FROM a22_sc
                 UNION ALL SELECT * FROM sar_sc UNION ALL SELECT * FROM sma_sc
                 UNION ALL SELECT * FROM sarma_sc),
           aicsx AS (SELECT l_suppkey, model, mrank,
                   (round((neff*ln(greatest(sse, 1e-8)/neff) + 2.0e0*k)*1e4)/1e4 + 0.0e0) AS aic
                 FROM scbx WHERE sse IS NOT NULL AND neff >= 1),
           fcsx AS (SELECT * FROM fcs UNION ALL SELECT * FROM d2_fc
                 UNION ALL SELECT * FROM a2_fc UNION ALL SELECT * FROM a22_fc
                 UNION ALL SELECT * FROM sar_fc UNION ALL SELECT * FROM sma_fc
                 UNION ALL SELECT * FROM sarma_fc),
           aminx AS (SELECT l_suppkey, min(aic) AS am FROM aicsx GROUP BY 1),
           wtsx AS (SELECT a.l_suppkey, a.model,
                   (round(exp((m.am - a.aic)/2e0)*1e4)/1e4 + 0.0e0) AS w
                 FROM aicsx a JOIN aminx m ON a.l_suppkey = m.l_suppkey),
           blx AS (SELECT f.l_suppkey, f.step,
                   (CAST(sum(CAST(round(w.w*1e4) AS BIGINT)
                      * CAST(round(f.forecast*1e4) AS BIGINT)) AS DOUBLE)/1e8) AS num,
                   (CAST(sum(CAST(round(w.w*1e4) AS BIGINT)) AS DOUBLE)/1e4) AS den,
                   count(*) AS n_members
                 FROM fcsx f JOIN wtsx w ON f.l_suppkey = w.l_suppkey
                   AND f.model = w.model
                 GROUP BY 1,2)
         SELECT l_suppkey, step,
                (round((num/den)*1e4)/1e4 + 0.0e0) AS blend_forecast, n_members
         FROM blx"""

  /** q299 oracle: the fourteen-member scoreboard — the family's scb
    * rows unioned with the six extended members, AIC recomputed by
    * the identical closed form, re-ranked by (aic, member order). */
  private lazy val orderSearchExtSql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql,
           scbx AS (SELECT * FROM scb UNION ALL SELECT * FROM d2_sc
                 UNION ALL SELECT * FROM a2_sc UNION ALL SELECT * FROM a22_sc
                 UNION ALL SELECT * FROM sar_sc UNION ALL SELECT * FROM sma_sc
                 UNION ALL SELECT * FROM sarma_sc),
           aicsx AS (SELECT l_suppkey, model, mrank, k, sse, neff,
                   (round((neff*ln(greatest(sse, 1e-8)/neff) + 2.0e0*k)*1e4)/1e4 + 0.0e0) AS aic
                 FROM scbx WHERE sse IS NOT NULL AND neff >= 1),
           rkx AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY aic, mrank) AS rank FROM aicsx)
         SELECT l_suppkey, model, k, sse, neff AS n_eff, aic, rank
         FROM rkx"""

  /** q300 oracle: the fourteen-member argmin, winner's forecast
    * joined from the family fcs union plus the six extended
    * forecasters — mirrors OrderSearch.extendedFrom + pickFrom. */
  private lazy val championExtSql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql,
           scbx AS (SELECT * FROM scb UNION ALL SELECT * FROM d2_sc
                 UNION ALL SELECT * FROM a2_sc UNION ALL SELECT * FROM a22_sc
                 UNION ALL SELECT * FROM sar_sc UNION ALL SELECT * FROM sma_sc
                 UNION ALL SELECT * FROM sarma_sc),
           aicsx AS (SELECT l_suppkey, model, mrank, k, sse, neff,
                   (round((neff*ln(greatest(sse, 1e-8)/neff) + 2.0e0*k)*1e4)/1e4 + 0.0e0) AS aic
                 FROM scbx WHERE sse IS NOT NULL AND neff >= 1),
           champx AS (SELECT l_suppkey, model, aic
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY aic, mrank) rk2 FROM aicsx)
                 WHERE rk2 = 1),
           fcsx AS (SELECT * FROM fcs UNION ALL SELECT * FROM d2_fc
                 UNION ALL SELECT * FROM a2_fc UNION ALL SELECT * FROM a22_fc
                 UNION ALL SELECT * FROM sar_fc UNION ALL SELECT * FROM sma_fc
                 UNION ALL SELECT * FROM sarma_fc)
         SELECT c.l_suppkey, c.model AS champion, c.aic, f.step, f.forecast
         FROM champx c JOIN fcsx f ON c.l_suppkey = f.l_suppkey
           AND c.model = f.model"""

  /** q336 oracle: the SIXTEEN-member scoreboard — the fourteen of q299
    * plus the promoted ma3 (MA(3) CLS grid, mrank 14, k = 4, n_eff = n,
    * entry n >= 4) and ar5 (Levinson AR(5), mrank 15, k = 6, n_eff =
    * the lag-5-conditioned row count) members, AIC by the identical
    * closed form, re-ranked by (aic, member order). */
  private lazy val orderSearchFullSql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql,
           $ma3BlocksSql,
           $ywChainSql,
           $ywFitSql,
           m3_sc AS (SELECT p.l_suppkey, 'ma3' AS model, 14 AS mrank,
                   4.0e0 AS k, (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(c.n AS DOUBLE) AS neff
                 FROM m3pick p JOIN cnt c USING (l_suppkey)
                 WHERE p.rn2 = 1 AND c.n >= 4),
           y5_sc AS (SELECT r.l_suppkey, 'ar5' AS model, 15 AS mrank,
                   6.0e0 AS k, r.sse AS sse, y.np5 AS neff
                 FROM ywr r JOIN ywk5 y USING (l_suppkey)
                 WHERE y.np5 >= 1),
           scbf AS (SELECT * FROM scb UNION ALL SELECT * FROM d2_sc
                 UNION ALL SELECT * FROM a2_sc UNION ALL SELECT * FROM a22_sc
                 UNION ALL SELECT * FROM sar_sc UNION ALL SELECT * FROM sma_sc
                 UNION ALL SELECT * FROM sarma_sc
                 UNION ALL SELECT * FROM m3_sc UNION ALL SELECT * FROM y5_sc),
           aicsf AS (SELECT l_suppkey, model, mrank, k, sse, neff,
                   (round((neff*ln(greatest(sse, 1e-8)/neff) + 2.0e0*k)*1e4)/1e4 + 0.0e0) AS aic
                 FROM scbf WHERE sse IS NOT NULL AND neff >= 1),
           rkf AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY aic, mrank) AS rank FROM aicsf)
         SELECT l_suppkey, model, k, sse, neff AS n_eff, aic, rank
         FROM rkf"""

  /** q337 oracle: the sixteen-member argmin with the winner's forecast
    * joined from the full forecast union (ext six + ma3 + ar5 legs). */
  private lazy val championFullSql: String =
    s"""$championMembersSql,
           $extOrderBlocksSql,
           $ma3BlocksSql,
           $ma3FcSql,
           $ywChainSql,
           $ywFitSql,
           $ywFcSql,
           m3_sc AS (SELECT p.l_suppkey, 'ma3' AS model, 14 AS mrank,
                   4.0e0 AS k, (round(p.sse*1e4)/1e4 + 0.0e0) AS sse,
                   CAST(c.n AS DOUBLE) AS neff
                 FROM m3pick p JOIN cnt c USING (l_suppkey)
                 WHERE p.rn2 = 1 AND c.n >= 4),
           y5_sc AS (SELECT r.l_suppkey, 'ar5' AS model, 15 AS mrank,
                   6.0e0 AS k, r.sse AS sse, y.np5 AS neff
                 FROM ywr r JOIN ywk5 y USING (l_suppkey)
                 WHERE y.np5 >= 1),
           scbf AS (SELECT * FROM scb UNION ALL SELECT * FROM d2_sc
                 UNION ALL SELECT * FROM a2_sc UNION ALL SELECT * FROM a22_sc
                 UNION ALL SELECT * FROM sar_sc UNION ALL SELECT * FROM sma_sc
                 UNION ALL SELECT * FROM sarma_sc
                 UNION ALL SELECT * FROM m3_sc UNION ALL SELECT * FROM y5_sc),
           aicsf AS (SELECT l_suppkey, model, mrank, k, sse, neff,
                   (round((neff*ln(greatest(sse, 1e-8)/neff) + 2.0e0*k)*1e4)/1e4 + 0.0e0) AS aic
                 FROM scbf WHERE sse IS NOT NULL AND neff >= 1),
           champf AS (SELECT l_suppkey, model, aic
                 FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                         ORDER BY aic, mrank) rk2 FROM aicsf)
                 WHERE rk2 = 1),
           m3_fc AS (SELECT l_suppkey, 'ma3' AS model, step, forecast FROM m3f),
           y5_fc AS (SELECT l_suppkey, 'ar5' AS model,
                   CAST(s.step AS BIGINT) AS step,
                   (CASE s.step WHEN 1 THEN round((mu + g1)*1e4)/1e4
                                WHEN 2 THEN round((mu + g2)*1e4)/1e4
                                WHEN 3 THEN round((mu + g3)*1e4)/1e4
                                ELSE round((mu + g4)*1e4)/1e4 END + 0.0e0) AS forecast
                 FROM ywg4 CROSS JOIN steps s),
           fcsf AS (SELECT * FROM fcs UNION ALL SELECT * FROM d2_fc
                 UNION ALL SELECT * FROM a2_fc UNION ALL SELECT * FROM a22_fc
                 UNION ALL SELECT * FROM sar_fc UNION ALL SELECT * FROM sma_fc
                 UNION ALL SELECT * FROM sarma_fc
                 UNION ALL SELECT * FROM m3_fc UNION ALL SELECT * FROM y5_fc)
         SELECT c.l_suppkey, c.model AS champion, c.aic, f.step, f.forecast
         FROM champf c JOIN fcsf f ON c.l_suppkey = f.l_suppkey
           AND c.model = f.model"""

  /** q267 tail: Akaike weights w ∝ exp(−Δ/2) rounded to the 4dp grid,
    * blend = Σ(w·f)/Σw as exact micro-int sums — mirrors
    * Champion.blendForecast term for term. */
  private lazy val championBlendSql: String =
    s"""$championMembersSql,
           amin AS (SELECT l_suppkey, min(aic) AS am FROM aics GROUP BY 1),
           wts AS (SELECT a.l_suppkey, a.model,
                   (round(exp((m.am - a.aic)/2e0)*1e4)/1e4 + 0.0e0) AS w
                 FROM aics a JOIN amin m ON a.l_suppkey = m.l_suppkey),
           bl AS (SELECT f.l_suppkey, f.step,
                   (CAST(sum(CAST(round(w.w*1e4) AS BIGINT)
                      * CAST(round(f.forecast*1e4) AS BIGINT)) AS DOUBLE)/1e8) AS num,
                   (CAST(sum(CAST(round(w.w*1e4) AS BIGINT)) AS DOUBLE)/1e4) AS den,
                   count(*) AS n_members
                 FROM fcs f JOIN wts w ON f.l_suppkey = w.l_suppkey
                   AND f.model = w.model
                 GROUP BY 1,2)
         SELECT l_suppkey, step,
                (round((num/den)*1e4)/1e4 + 0.0e0) AS blend_forecast, n_members
         FROM bl"""

  /** q261 oracle: the keyed-replicate bootstrap with the engine's own
    * threshold literal (M31·frac truncated) and the q114 Lehmer twin.
    * The band percentiles embed the ENGINE'S computed (1±alpha)/2
    * doubles ((1-0.9)/2 = 0.049999999999999996, not 0.05 — a literal
    * 0.05 shifts the interpolation position one ulp and flips 4dp
    * rounding on knife-edge replicate means). */
  private lazy val bootstrapSql: String = {
    val thr = (graft.functions.PortableHash.M31 * 0.8).toLong
    val bs = (1 to 20).mkString(",")
    val pLo = (1 - 0.9) / 2
    val pHi = 1 - pLo
    s"""WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                   sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2),
           rk AS (SELECT l_suppkey, q,
                   l_suppkey*100000 + date_diff('day', DATE '1970-01-01', ws) AS rk
                 FROM w),
           rep AS (SELECT l_suppkey, b.b, q
                 FROM rk CROSS JOIN (SELECT unnest([$bs]) AS b) b
                 WHERE (((rk*20 + b.b) % 2147483647) * 48271 % 2147483647)
                       * 48271 % 2147483647 * 48271 % 2147483647 < $thr),
           m AS (SELECT l_suppkey, b,
                   (round((CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS m
                 FROM rep GROUP BY 1,2),
           agg AS (SELECT l_suppkey, count(*) AS n_reps,
                   CAST(count(*) AS DOUBLE) AS n,
                   (CAST(sum(CAST(round(m*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) AS s,
                   (CAST(sum(CAST(round(m*1e4) AS BIGINT)*CAST(round(m*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) AS ss,
                   (round((CAST(sum(CAST(round(m*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS boot_mean,
                   list_sort(list(m)) AS arr
                 FROM m GROUP BY 1),
           -- Spark's exact percentile computes position = p*(n-1) and
           -- interpolates (ceil(pos) - pos)*lower + (pos - floor(pos))*upper
           -- (quantile_cont's (1-d)*lower + d*upper is one ulp apart at a
           -- rounding knife edge), so replay Spark's exact formula
           fin AS (SELECT *, CAST($pLo AS DOUBLE)*(n - 1e0) AS plo,
                   CAST($pHi AS DOUBLE)*(n - 1e0) AS phi
                 FROM agg)
         SELECT l_suppkey, n_reps, boot_mean,
                (round((CASE WHEN n > 1
                   THEN sqrt(greatest((n*ss - s*s)/(n*(n - 1)), 0.0e0)) END)*1e4)/1e4 + 0.0e0) AS boot_sd,
                (round((CASE WHEN ceil(plo) = floor(plo) THEN arr[CAST(plo AS INT) + 1]
                   ELSE (ceil(plo) - plo)*arr[CAST(floor(plo) AS INT) + 1]
                        + (plo - floor(plo))*arr[CAST(floor(plo) AS INT) + 2]
                   END)*1e4)/1e4 + 0.0e0) AS boot_lo,
                (round((CASE WHEN ceil(phi) = floor(phi) THEN arr[CAST(phi AS INT) + 1]
                   ELSE (ceil(phi) - phi)*arr[CAST(floor(phi) AS INT) + 1]
                        + (phi - floor(phi))*arr[CAST(floor(phi) AS INT) + 2]
                   END)*1e4)/1e4 + 0.0e0) AS boot_hi
         FROM fin"""
  }

  /** q262 oracle: the fixed-8-round IRLS pinball fit replayed as a
    * chain of generated sum/coefficient CTE pairs — identical micro-int
    * weighted sums, identical rounded (a, b) hand-off per round. */
  private lazy val quantileRegSql: String = {
    val iters = 8
    def sums(name: String, w: String, join: String): String =
      s"""$name AS (SELECT bt.g, bt.tau,
                   CAST(sum(CAST(round(($w)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sw,
                   CAST(sum(CAST(round(($w)*1e4) AS HUGEINT)*CAST(round(bt.x*1e4) AS BIGINT)) AS DOUBLE)/1e8 AS swx,
                   CAST(sum(CAST(round(($w)*1e4) AS HUGEINT)*CAST(round(bt.x*1e4) AS BIGINT)*CAST(round(bt.x*1e4) AS BIGINT)) AS DOUBLE)/1e12 AS swxx,
                   CAST(sum(CAST(round(($w)*1e4) AS HUGEINT)*CAST(round(bt.y*1e4) AS BIGINT)) AS DOUBLE)/1e8 AS swy,
                   CAST(sum(CAST(round(($w)*1e4) AS HUGEINT)*CAST(round(bt.x*1e4) AS BIGINT)*CAST(round(bt.y*1e4) AS BIGINT)) AS DOUBLE)/1e12 AS swxy
                 FROM bt$join GROUP BY 1,2)"""
    def coefs(name: String, src: String): String =
      s"""$name AS (SELECT g, tau, b,
                   (round(((swy - b*swx)/sw)*1e4)/1e4 + 0.0e0) AS a
                 FROM (SELECT g, tau, sw, swx, swy,
                         (round((CASE WHEN abs(sw*swxx - swx*swx) >= 1e-8
                            THEN (sw*swxy - swx*swy)/(sw*swxx - swx*swx)
                            ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS b
                       FROM $src) t)"""
    def wexpr(p: String): String = {
      val res = s"bt.y - $p.a - $p.b*bt.x"
      s"(round((CASE WHEN $res > 0 THEN bt.tau/greatest(abs($res), 0.01e0) " +
        s"ELSE (1e0 - bt.tau)/greatest(abs($res), 0.01e0) END)*1e4)/1e4 + 0.0e0)"
    }
    val chain = (1 to iters).map { k =>
      sums(s"s$k", wexpr("p"),
        s" JOIN i${k - 1} p ON bt.g = p.g AND bt.tau = p.tau") + ",\n           " +
        coefs(s"i$k", s"s$k")
    }.mkString(",\n           ")
    s"""WITH base AS (SELECT l_returnflag AS g, l_discount AS x, l_quantity AS y
                 FROM lineitem),
           bt AS (SELECT base.*, t.tau
                 FROM base CROSS JOIN (SELECT unnest([0.25e0,0.5e0,0.75e0]) AS tau) t),
           ${sums("s0", "1.0e0", "")},
           ${coefs("i0", "s0")},
           $chain
         SELECT bt.g AS l_returnflag, bt.tau, max(p.a) AS qr_a, max(p.b) AS qr_b,
                (round((CAST(sum(CAST(round((round((greatest(bt.tau*(bt.y - p.a - p.b*bt.x),
                    (bt.tau - 1)*(bt.y - p.a - p.b*bt.x)))*1e4)/1e4 + 0.0e0)*1e4) AS HUGEINT)) AS DOUBLE)
                  /1e4/count(*))*1e4)/1e4 + 0.0e0) AS pinball
         FROM bt JOIN i$iters p ON bt.g = p.g AND bt.tau = p.tau
         GROUP BY 1,2"""
  }

  def oracleSql: Map[String, String] = Map(
    "q220_platt" -> plattSql,
    "q221_temperature" -> temperatureSql,
    "q222_damped_holt" -> dampedHoltSql,
    "q259_champion" -> championSql,
    "q267_champion_blend" -> championBlendSql,
    "q286_order_search" -> orderSearchSql,
    "q297_arima211" -> arima211Sql,
    "q298_arima021" -> arima021Sql,
    "q299_order_search_ext" -> orderSearchExtSql,
    "q336_order_search_full" -> orderSearchFullSql,
    "q337_champion_full" -> championFullSql,
    "q300_champion_ext" -> championExtSql,
    "q307_arima212" -> arima212Sql,
    "q308_sarima011" -> sarima011Sql,
    "q310_sarma11" -> sarma11Sql,
    "q311_ma3_probe" -> ma3ProbeSql,
    "q313_ar5_probe" -> ywProbeSql,
    "q314_acf_pacf" -> ywAcfSql,
    "q320_ljung_box" -> ywLbSql,
    "q309_blend_ext" -> blendExtSql,
    // corpus-frequency boilerplate scrub (q124's span explode, census
    // by distinct (doc, span), delete-all at df >= 5, ordered rebuild)
    "q312_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         ch AS (SELECT doc_id,
                       unnest([{'no': i, 'chunk': array_to_string(ws[((i-1)*3+1):(i*3)], ' ')}
                               FOR i IN range(1, CAST(ceil(len(ws)/3.0) AS BIGINT)+1)]) AS c
                FROM w),
         fl AS (SELECT doc_id, c.no AS span_no, c.chunk AS span FROM ch),
         cen AS (SELECT span, count(*) AS span_df
                 FROM (SELECT DISTINCT doc_id, span FROM fl) GROUP BY 1)
         SELECT fl.doc_id,
                count(*) AS n_spans,
                CAST(sum(CASE WHEN cen.span_df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                coalesce(string_agg(CASE WHEN cen.span_df < 5 THEN fl.span END,
                                    ' ' ORDER BY fl.span_no), '') AS clean_text
         FROM fl JOIN cen USING (span)
         GROUP BY 1""",
    "q261_bootstrap" -> bootstrapSql,
    "q262_quantile_reg" -> quantileRegSql,
    "q263_pq_codes" -> pqCodesSql,
    "q264_pq_adc" -> pqAdcSql,
    // ntile bins of the per-(part,supp) qty stddev (sufficient-sum
    // form), per-bin mean uncertainty vs mean WMAPE contribution
    "q260_wmape_calibration" ->
      """WITH g AS (SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
                      l_quantity,
                      (round((avg(l_quantity) OVER pw)*1e4)/1e4 + 0.0e0) AS pred,
                      CAST(count(*) OVER pw AS DOUBLE) AS n,
                      sum(l_quantity) OVER pw AS sq,
                      sum(l_quantity*l_quantity) OVER pw AS sqq
                    FROM lineitem
                    WINDOW pw AS (PARTITION BY l_partkey, l_suppkey)),
              u AS (SELECT *,
                      (round((CASE WHEN n > 1
                         THEN sqrt((n*sqq - sq*sq)/(n*(n - 1))) END)*1e4)/1e4 + 0.0e0) AS unc
                    FROM g),
              bb AS (SELECT l_returnflag, pred, l_quantity, unc,
                      CAST(ntile(10) OVER (PARTITION BY l_returnflag
                        ORDER BY unc, l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS bin
                    FROM u WHERE unc IS NOT NULL)
         SELECT l_returnflag, bin, count(*) AS n_rows,
                (round(avg(unc)*1e4)/1e4 + 0.0e0) AS bin_uncertainty,
                (round(avg(abs(l_quantity - pred)/(abs(l_quantity) + 1e-8))*1e4)/1e4 + 0.0e0) AS bin_wmape
         FROM bb GROUP BY 1,2""",
    "q225_changepoint" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                           l_partkey, l_suppkey, sum(l_quantity) AS qty_sum
                    FROM lineitem GROUP BY 1,2,3),
              c AS (SELECT l_partkey, l_suppkey, week_start,
                           row_number() OVER ord AS i,
                           sum(qty_sum) OVER cum AS cs,
                           sum(qty_sum*qty_sum) OVER cum AS css,
                           count(*) OVER al AS n,
                           sum(qty_sum) OVER al AS s,
                           sum(qty_sum*qty_sum) OVER al AS ss
                    FROM w
                    WINDOW ord AS (PARTITION BY l_partkey, l_suppkey ORDER BY week_start),
                           cum AS (PARTITION BY l_partkey, l_suppkey ORDER BY week_start
                                   ROWS UNBOUNDED PRECEDING),
                           al AS (PARTITION BY l_partkey, l_suppkey)),
              k AS (SELECT *,
                           (round(((css - cs*cs/i) + ((ss - css) - (s - cs)*(s - cs)/(n - i)))*1e4)/1e4
                            + 0.0e0) AS cost
                    FROM c WHERE i < n),
              p AS (SELECT *, row_number() OVER
                      (PARTITION BY l_partkey, l_suppkey ORDER BY cost, i) AS rn
                    FROM k)
         SELECT l_partkey, l_suppkey, week_start AS cp_at, i AS n_left, n AS n_points,
                (round((cs/i)*1e4)/1e4 + 0.0e0) AS mean_left,
                (round(((s - cs)/(n - i))*1e4)/1e4 + 0.0e0) AS mean_right,
                (round((ss - s*s/n)*1e4)/1e4 + 0.0e0) AS sse_total,
                cost AS sse_split,
                (round(((ss - s*s/n) - cost)*1e4)/1e4 + 0.0e0) AS gain
         FROM p WHERE rn = 1""",
    "q226_target_oof" ->
      """WITH f AS (SELECT l_returnflag,
                           ((l_orderkey*8 + l_linenumber) % 2147483647) * 48271 % 2147483647
                             * 48271 % 2147483647 * 48271 % 2147483647 % 5 AS fold,
                           CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS pos
                    FROM lineitem),
              cell AS (SELECT l_returnflag, fold, count(*) AS n_fold,
                              CAST(sum(pos) AS BIGINT) AS pos_f
                       FROM f GROUP BY 1,2),
              t AS (SELECT *,
                           CAST(sum(n_fold) OVER cat AS BIGINT) AS n,
                           CAST(sum(pos_f) OVER cat AS BIGINT) AS pos
                    FROM cell WINDOW cat AS (PARTITION BY l_returnflag)),
              pr AS (SELECT CAST(sum(pos_f) AS BIGINT) / CAST(sum(n_fold) AS BIGINT) AS prior
                     FROM cell)
         SELECT l_returnflag, fold, n_fold,
                (round(((pos - pos_f + 10.0e0*prior) / (n - n_fold + 10.0e0))*1e4)/1e4
                 + 0.0e0) AS enc_oof
         FROM t, pr""",
    "q227_modularity" ->
      """WITH e AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2 + 1 AS dst
                    FROM lineitem),
              c AS (SELECT p_partkey*2 AS node, p_size % 5 AS community FROM part
                    UNION ALL
                    SELECT s_suppkey*2 + 1 AS node, s_nationkey % 5 AS community
                    FROM supplier),
              t AS (SELECT cs.community AS comm_s, cd.community AS comm_d
                    FROM e JOIN c cs ON e.src = cs.node
                           JOIN c cd ON e.dst = cd.node),
              m AS (SELECT count(*) AS m FROM e),
              deg AS (SELECT community, count(*) AS deg_sum FROM (
                        SELECT comm_s AS community FROM t
                        UNION ALL SELECT comm_d FROM t) u GROUP BY 1),
              intra AS (SELECT comm_s AS community, count(*) AS intra_edges
                        FROM t WHERE comm_s = comm_d GROUP BY 1)
         SELECT d.community, coalesce(i.intra_edges, 0) AS intra_edges, d.deg_sum,
                (round((coalesce(i.intra_edges, 0)/m.m
                        - (d.deg_sum/(2.0e0*m.m))*(d.deg_sum/(2.0e0*m.m)))*1e4)/1e4
                 + 0.0e0) AS contribution
         FROM deg d LEFT JOIN intra i USING (community), m""",
    "q228_dbscan" ->
      """WITH p AS (SELECT c_custkey AS pid,
                           (c_custkey * 53 % 17000)/100.0e0 - 85.0e0 AS p_lat,
                           (c_custkey * 29 % 36000)/100.0e0 - 180.0e0 AS p_lon
                    FROM customer WHERE c_custkey % 3 = 0),
              pr AS (SELECT a.pid, b.pid AS qid,
                            (round((2*6371.0e0*asin(sqrt(
                               sin(radians(b.p_lat - a.p_lat)/2)*sin(radians(b.p_lat - a.p_lat)/2)
                               + cos(radians(a.p_lat))*cos(radians(b.p_lat))
                                 *sin(radians(b.p_lon - a.p_lon)/2)*sin(radians(b.p_lon - a.p_lon)/2))))*1e4)/1e4
                             + 0.0e0) AS dist_km
                     FROM p a, p b WHERE a.pid <> b.pid),
              nb AS (SELECT pid, count(*) + 1 AS n_within_eps FROM pr
                     WHERE dist_km <= 300.0e0 GROUP BY 1),
              cl AS (SELECT p.pid, p.p_lat, p.p_lon,
                            coalesce(nb.n_within_eps, 1) AS n_within_eps,
                            coalesce(nb.n_within_eps, 1) >= 4 AS is_core
                     FROM p LEFT JOIN nb USING (pid)),
              nc AS (SELECT DISTINCT pr.pid FROM pr
                     JOIN cl c2 ON pr.qid = c2.pid
                     WHERE pr.dist_km <= 300.0e0 AND c2.is_core)
         SELECT cl.pid, cl.p_lat, cl.p_lon, cl.n_within_eps,
                CASE WHEN cl.is_core THEN 'core'
                     WHEN nc.pid IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS cls
         FROM cl LEFT JOIN nc USING (pid)""",
    "q232_pmi" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
                    FROM documents),
              bg AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
                     FROM d WHERE len(t) >= 2),
              bc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
              t2 AS (SELECT *,
                            CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS c1,
                            CAST(sum(cnt) OVER (PARTITION BY w2) AS BIGINT) AS c2
                     FROM bc),
              nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bc)
         SELECT w1, w2, cnt,
                (round(ln((cnt * nn.n) / (1.0e0 * c1 * c2))*1e4)/1e4 + 0.0e0) AS pmi
         FROM t2, nn WHERE cnt >= 5""",
    "q233_dominant_period" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                           l_suppkey, sum(l_quantity) AS qty_sum
                    FROM lineitem GROUP BY 1,2),
              ix AS (SELECT l_suppkey, qty_sum,
                            row_number() OVER (PARTITION BY l_suppkey
                                               ORDER BY week_start) AS rn
                     FROM w),
              cand AS (SELECT ix.*, pp.p, (rn - 1) % pp.p AS phase
                       FROM ix CROSS JOIN (SELECT unnest([4,13,26]) AS p) pp),
              ph AS (SELECT l_suppkey, p, phase, count(*) AS np,
                            sum(qty_sum) AS sp, sum(qty_sum*qty_sum) AS ssp
                     FROM cand GROUP BY 1,2,3),
              per AS (SELECT l_suppkey, p,
                             CAST(sum(np) AS BIGINT) AS n,
                             CAST(count(*) AS BIGINT) AS k,
                             sum(sp) AS s, sum(ssp) AS ss,
                             sum(ssp - sp*sp/np) AS sse_within
                      FROM ph GROUP BY 1,2),
              sc AS (SELECT *,
                            CASE WHEN n > k AND n > 1 THEN
                              (round((1.0e0 - (sse_within/(n - k)) /
                                      ((ss - s*s/n)/(n - 1) + 1e-8))*1e4)/1e4 + 0.0e0)
                            ELSE -1.0e0 END AS r2
                     FROM per),
              pk AS (SELECT *, row_number() OVER
                       (PARTITION BY l_suppkey ORDER BY r2 DESC, p) AS rn2
                     FROM sc)
         SELECT l_suppkey, p AS best_period, n AS n_points, r2
         FROM pk WHERE rn2 = 1""",
    "q234_rfm" ->
      """WITH pc AS (SELECT o_custkey,
                            CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                                           DATE '1998-12-31') AS BIGINT) AS recency_days,
                            count(*) AS frequency,
                            (round((sum(o_totalprice))*1e4)/1e4 + 0.0e0) AS monetary
                     FROM orders GROUP BY 1),
              sc AS (SELECT *,
                            CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
                                 AS BIGINT) AS r_score,
                            CAST(ntile(5) OVER (ORDER BY frequency, o_custkey)
                                 AS BIGINT) AS f_score,
                            CAST(ntile(5) OVER (ORDER BY monetary, o_custkey)
                                 AS BIGINT) AS m_score
                     FROM pc)
         SELECT o_custkey, recency_days, frequency, monetary,
                r_score, f_score, m_score,
                CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                     WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                     WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
                     WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                     ELSE 'hibernating' END AS segment
         FROM sc""",
    "q235_gini" ->
      """WITH sp AS (SELECT o_custkey,
                            (round((sum(o_totalprice))*1e4)/1e4 + 0.0e0) AS spend
                     FROM orders GROUP BY 1),
              sg AS (SELECT sp.*, c_mktsegment
                     FROM sp JOIN customer ON o_custkey = c_custkey),
              rk AS (SELECT *, CAST(row_number() OVER
                       (PARTITION BY c_mktsegment ORDER BY spend, o_custkey)
                       AS BIGINT) AS i
                     FROM sg),
              ag AS (SELECT c_mktsegment, count(*) AS n,
                            (round((sum(spend))*1e4)/1e4 + 0.0e0) AS total,
                            sum(i*spend) AS ix
                     FROM rk GROUP BY 1)
         SELECT c_mktsegment, n, total,
                (round(((2.0e0*ix - (n + 1)*total) / (n*total))*1e4)/1e4
                 + 0.0e0) AS gini
         FROM ag""",
    "q236_benford" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100.0e0) AS BIGINT) AS c
                    FROM lineitem),
              d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                           count(*) AS n
                    FROM c WHERE c > 0 GROUP BY 1),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM d),
              p AS (SELECT digit, n, n / t.t AS share,
                           ln(1.0e0 + 1.0e0/digit)/ln(10.0e0) AS expected,
                           t.t AS t
                    FROM d, t)
         SELECT digit, n,
                (round(share*1e4)/1e4 + 0.0e0) AS share,
                (round(expected*1e4)/1e4 + 0.0e0) AS expected,
                (round((t * (share - expected) * (share - expected) / expected)*1e4)/1e4
                 + 0.0e0) AS chi2_contrib
         FROM p""",
    "q237_baselines" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS ws,
                           l_suppkey, sum(l_quantity) AS q
                    FROM lineitem GROUP BY 1,2),
              ix AS (SELECT l_suppkey, q,
                            CAST(row_number() OVER (PARTITION BY l_suppkey
                                                    ORDER BY ws) AS BIGINT) AS rn,
                            count(*) OVER (PARTITION BY l_suppkey) AS n
                     FROM w),
              per AS (SELECT l_suppkey, max(n) AS n,
                             max(CASE WHEN rn = 1 THEN q END) AS fv,
                             max(CASE WHEN rn = n THEN q END) AS lv,
                             (round((avg(q))*1e4)/1e4 + 0.0e0) AS mean_fc
                      FROM ix GROUP BY 1),
              st AS (SELECT per.*, s.step, n - 13 + (step - 1) % 13 + 1 AS target
                     FROM per CROSS JOIN (SELECT unnest([1,2,3,4]) AS step) s),
              j AS (SELECT st.*, ix2.q AS sv FROM st LEFT JOIN ix ix2
                    ON st.l_suppkey = ix2.l_suppkey AND st.target = ix2.rn)
         SELECT l_suppkey, step, lv AS naive_fc,
                coalesce(sv, lv) AS snaive_fc,
                CASE WHEN n > 1 THEN
                  (round((lv + step * (lv - fv) / (n - 1))*1e4)/1e4 + 0.0e0)
                ELSE lv END AS drift_fc,
                mean_fc
         FROM j""",
    "q238_adaptive_snaive" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS ws,
                           l_suppkey, sum(l_quantity) AS q
                    FROM lineitem GROUP BY 1,2),
              ix AS (SELECT l_suppkey, q,
                            CAST(row_number() OVER (PARTITION BY l_suppkey
                                                    ORDER BY ws) AS BIGINT) AS rn,
                            count(*) OVER (PARTITION BY l_suppkey) AS n
                     FROM w),
              cand AS (SELECT ix.l_suppkey, ix.q, ix.rn, pp.p,
                              (rn - 1) % pp.p AS phase
                       FROM ix CROSS JOIN (SELECT unnest([4,13,26]) AS p) pp),
              ph AS (SELECT l_suppkey, p, phase, count(*) AS np,
                            sum(q) AS sp, sum(q*q) AS ssp
                     FROM cand GROUP BY 1,2,3),
              per AS (SELECT l_suppkey, p,
                             CAST(sum(np) AS BIGINT) AS n,
                             CAST(count(*) AS BIGINT) AS k,
                             sum(sp) AS s, sum(ssp) AS ss,
                             sum(ssp - sp*sp/np) AS sse_within
                      FROM ph GROUP BY 1,2),
              sc AS (SELECT *,
                            CASE WHEN n > k AND n > 1 THEN
                              (round((1.0e0 - (sse_within/(n - k)) /
                                      ((ss - s*s/n)/(n - 1) + 1e-8))*1e4)/1e4 + 0.0e0)
                            ELSE -1.0e0 END AS r2
                     FROM per),
              pk AS (SELECT *, row_number() OVER
                       (PARTITION BY l_suppkey ORDER BY r2 DESC, p) AS rn2
                     FROM sc),
              bp AS (SELECT l_suppkey, p AS period FROM pk WHERE rn2 = 1),
              fin AS (SELECT l_suppkey, max(n) AS n,
                             max(CASE WHEN rn = n THEN q END) AS lv
                      FROM ix GROUP BY 1),
              st AS (SELECT fin.l_suppkey, fin.n, fin.lv, bp.period, s.step,
                            fin.n - bp.period + (s.step - 1) % bp.period + 1 AS target
                     FROM fin JOIN bp USING (l_suppkey)
                          CROSS JOIN (SELECT unnest([1,2,3,4]) AS step) s)
         SELECT st.l_suppkey, st.step, st.period,
                coalesce(ix2.q, st.lv) AS snaive_fc
         FROM st LEFT JOIN ix ix2
           ON st.l_suppkey = ix2.l_suppkey AND st.target = ix2.rn""",
    "q239_dsir_score" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
                           unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
                    FROM documents),
              tf AS (SELECT * FROM t WHERE length(w) > 0),
              c AS (SELECT w, count(*) AS cc,
                           CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
                    FROM tf GROUP BY 1),
              tot AS (SELECT CAST(sum(cc) AS BIGINT) AS tc,
                             CAST(sum(ct) AS BIGINT) AS tt,
                             count(*) AS v
                      FROM c),
              lr AS (SELECT w,
                            CAST(round(ln(((ct + 0.5e0)/(tt + 0.5e0*v)) /
                                          ((cc + 0.5e0)/(tc + 0.5e0*v)))*1e6)
                                 AS BIGINT) AS lr
                     FROM c, tot)
         SELECT doc_id, count(*) AS n_tokens,
                (round((CAST(sum(lr) AS BIGINT)/1e6/count(*))*1e4)/1e4
                 + 0.0e0) AS dsir_score
         FROM tf JOIN lr USING (w) GROUP BY 1""",
    "q240_weighted_median" ->
      """WITH c AS (SELECT l_returnflag, l_extendedprice,
                           sum(l_quantity) OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cw,
                           sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw,
                           count(*) OVER (PARTITION BY l_returnflag) AS n,
                           l_orderkey, l_linenumber
                    FROM lineitem),
              p AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
                    FROM c WHERE cw * 2 >= tw)
         SELECT l_returnflag, l_extendedprice AS weighted_median,
                (round(tw*1e4)/1e4 + 0.0e0) AS total_weight, n AS n_rows
         FROM p WHERE rn = 1""",
    // the q240 walk shared across a literal q-list: same lower-pick
    // convention, cw >= q*tw mirrored as the identical IEEE multiply
    "q252_weighted_quantiles" ->
      """WITH c AS (SELECT l_returnflag, l_extendedprice,
                           sum(l_quantity) OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cw,
                           sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw,
                           count(*) OVER (PARTITION BY l_returnflag) AS n,
                           l_orderkey, l_linenumber
                    FROM lineitem),
              x AS (SELECT c.*, q.q FROM c
                    CROSS JOIN (SELECT unnest([0.1e0,0.25e0,0.5e0,0.75e0,0.9e0]) AS q) q
                    WHERE cw >= q.q * tw),
              p AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag, q
                      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
                    FROM x)
         SELECT l_returnflag, q, l_extendedprice AS weighted_quantile,
                (round(tw*1e4)/1e4 + 0.0e0) AS total_weight, n AS n_rows
         FROM p WHERE rn = 1""",
    "q248_key_skew" ->
      """WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
         SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS total_rows,
                max(c) AS max_cnt,
                (round((avg(c))*1e4)/1e4 + 0.0e0) AS mean_cnt,
                (round((quantile_cont(c, 0.99))*1e4)/1e4 + 0.0e0) AS p99_cnt,
                (round((max(c)/avg(c))*1e4)/1e4 + 0.0e0) AS skew_factor,
                (round((stddev(c)/avg(c))*1e4)/1e4 + 0.0e0) AS cv
         FROM c""",
    // DOUBLED ranks (2·rank + ties − 1) are exact integers, so the
    // sufficient sums are exact (HUGEINT here, decimal(38,0) in the
    // engine); the 2× scale cancels in the correlation
    "q247_spearman" ->
      """WITH rk AS (SELECT l_returnflag,
                       CAST(2*rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                         + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS BIGINT) AS rx,
                       CAST(2*rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                         + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS BIGINT) AS ry
                     FROM lineitem),
              s AS (SELECT l_returnflag, count(*) AS n,
                           sum(rx) AS sx, sum(ry) AS sy, sum(rx*ry) AS sxy,
                           sum(rx*rx) AS sxx, sum(ry*ry) AS syy
                    FROM rk GROUP BY 1)
         SELECT l_returnflag, n,
                (round((CAST(n*sxy - sx*sy AS DOUBLE) /
                        (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                         sqrt(CAST(n*syy - sy*sy AS DOUBLE))))*1e4)/1e4
                 + 0.0e0) AS spearman
         FROM s""",
    "q246_plan_inventory" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS ws,
                           l_suppkey, sum(l_quantity) AS q
                    FROM lineitem GROUP BY 1,2),
              ix AS (SELECT l_suppkey, q,
                            CAST(row_number() OVER (PARTITION BY l_suppkey
                                                    ORDER BY ws) AS BIGINT) AS rn,
                            count(*) OVER (PARTITION BY l_suppkey) AS n
                     FROM w),
              per AS (SELECT l_suppkey, max(n) AS n,
                             max(CASE WHEN rn = n THEN q END) AS lv
                      FROM ix GROUP BY 1),
              st AS (SELECT per.*, s.step, n - 13 + (s.step - 1) % 13 + 1 AS target
                     FROM per CROSS JOIN (SELECT unnest([1,2]) AS step) s),
              j AS (SELECT st.l_suppkey, coalesce(ix2.q, st.lv) AS fc
                    FROM st LEFT JOIN ix ix2
                    ON st.l_suppkey = ix2.l_suppkey AND st.target = ix2.rn),
              ld AS (SELECT l_suppkey,
                            (round((sum(fc))*1e4)/1e4 + 0.0e0) AS lead_demand
                     FROM j GROUP BY 1),
              a AS (SELECT l_suppkey, count(*) AS n, sum(q) AS s,
                           sum(q*q) AS ss
                    FROM w GROUP BY 1),
              b AS (SELECT l_suppkey, n, (round((s/n)*1e4)/1e4 + 0.0e0) AS mu,
                           CASE WHEN n > 1 THEN
                             (round(sqrt((ss - s*s/n)/(n - 1))*1e4)/1e4 + 0.0e0)
                           ELSE 0.0e0 END AS sigma
                    FROM a),
              c AS (SELECT l_suppkey, n, mu, sigma,
                           (round((1.645e0 * sigma * 1.4142135623730951e0)*1e4)/1e4
                            + 0.0e0) AS safety_stock
                    FROM b)
         SELECT c.l_suppkey, c.n, c.mu, c.sigma, ld.lead_demand, c.safety_stock,
                (round((ld.lead_demand + c.safety_stock)*1e4)/1e4
                 + 0.0e0) AS order_target
         FROM ld JOIN c USING (l_suppkey)""",
    "q245_rolling_iqr" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
                           (round((quantile_cont(l_quantity, 0.25) OVER w)*1e4)/1e4
                            + 0.0e0) AS p25,
                           (round((quantile_cont(l_quantity, 0.75) OVER w)*1e4)/1e4
                            + 0.0e0) AS p75
                    FROM lineitem
                    WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         SELECT l_orderkey, l_linenumber, p25, p75,
                (l_quantity < p25 - 0.5e0*(p75 - p25)
                 OR l_quantity > p75 + 0.5e0*(p75 - p25)) AS is_outlier
         FROM t""",
    "q244_changepoint_seg2" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                           l_suppkey, sum(l_quantity) AS qty_sum
                    FROM lineitem GROUP BY 1,2),
              c1 AS (SELECT l_suppkey, week_start, qty_sum,
                            row_number() OVER ord AS i,
                            sum(qty_sum) OVER cum AS cs,
                            sum(qty_sum*qty_sum) OVER cum AS css,
                            count(*) OVER al AS n,
                            sum(qty_sum) OVER al AS s,
                            sum(qty_sum*qty_sum) OVER al AS ss
                     FROM w
                     WINDOW ord AS (PARTITION BY l_suppkey ORDER BY week_start),
                            cum AS (PARTITION BY l_suppkey ORDER BY week_start
                                    ROWS UNBOUNDED PRECEDING),
                            al AS (PARTITION BY l_suppkey)),
              k1 AS (SELECT *,
                            (round(((css - cs*cs/i) + ((ss - css) - (s - cs)*(s - cs)/(n - i)))*1e4)/1e4
                             + 0.0e0) AS cost
                     FROM c1 WHERE i < n),
              p1 AS (SELECT *, row_number() OVER
                       (PARTITION BY l_suppkey ORDER BY cost, i) AS rn
                     FROM k1),
              cp1 AS (SELECT l_suppkey, week_start AS cp_at FROM p1 WHERE rn = 1),
              lab AS (SELECT w.l_suppkey, w.week_start, w.qty_sum,
                             CASE WHEN w.week_start <= cp1.cp_at
                                  THEN 'L' ELSE 'R' END AS segment
                      FROM w JOIN cp1 USING (l_suppkey)),
              c2 AS (SELECT l_suppkey, segment, week_start, qty_sum,
                            row_number() OVER ord2 AS i,
                            sum(qty_sum) OVER cum2 AS cs,
                            sum(qty_sum*qty_sum) OVER cum2 AS css,
                            count(*) OVER al2 AS n,
                            sum(qty_sum) OVER al2 AS s,
                            sum(qty_sum*qty_sum) OVER al2 AS ss
                     FROM lab
                     WINDOW ord2 AS (PARTITION BY l_suppkey, segment ORDER BY week_start),
                            cum2 AS (PARTITION BY l_suppkey, segment ORDER BY week_start
                                     ROWS UNBOUNDED PRECEDING),
                            al2 AS (PARTITION BY l_suppkey, segment)),
              k2 AS (SELECT *,
                            (round(((css - cs*cs/i) + ((ss - css) - (s - cs)*(s - cs)/(n - i)))*1e4)/1e4
                             + 0.0e0) AS cost
                     FROM c2 WHERE i < n),
              p2 AS (SELECT *, row_number() OVER
                       (PARTITION BY l_suppkey, segment ORDER BY cost, i) AS rn
                     FROM k2)
         SELECT l_suppkey, segment, week_start AS cp_at, i AS n_left, n AS n_points,
                (round((cs/i)*1e4)/1e4 + 0.0e0) AS mean_left,
                (round(((s - cs)/(n - i))*1e4)/1e4 + 0.0e0) AS mean_right,
                (round((ss - s*s/n)*1e4)/1e4 + 0.0e0) AS sse_total,
                cost AS sse_split,
                (round(((ss - s*s/n) - cost)*1e4)/1e4 + 0.0e0) AS gain
         FROM p2 WHERE rn = 1""",
    "q243_ks_drift" ->
      """WITH s AS (SELECT l_returnflag, l_extendedprice AS score,
                      sum(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01'
                               THEN 1 ELSE 0 END) np,
                      sum(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01'
                               THEN 0 ELSE 1 END) nn
                    FROM lineitem GROUP BY 1,2),
              d AS (SELECT *, sum(np) OVER c AS cp, sum(nn) OVER c AS cn,
                      sum(np) OVER a AS tp, sum(nn) OVER a AS tn
                    FROM s
                    WINDOW c AS (PARTITION BY l_returnflag ORDER BY score
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                           a AS (PARTITION BY l_returnflag
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
              d2 AS (SELECT *, abs(cp/tp - cn/tn) AS diff FROM d),
              d3 AS (SELECT *, max(diff) OVER (PARTITION BY l_returnflag) AS mx FROM d2)
         SELECT l_returnflag, min(score) AS ks_score,
                (round(max(diff)*1e4)/1e4 + 0.0e0) AS ks
         FROM d3 WHERE diff = mx GROUP BY 1""",
    "q241_safety_stock" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS ws,
                           l_partkey, l_suppkey, sum(l_quantity) AS qty_sum
                    FROM lineitem GROUP BY 1,2,3),
              a AS (SELECT l_partkey, l_suppkey, count(*) AS n,
                           sum(qty_sum) AS s, sum(qty_sum*qty_sum) AS ss
                    FROM w GROUP BY 1,2),
              b AS (SELECT l_partkey, l_suppkey, n,
                           (round((s/n)*1e4)/1e4 + 0.0e0) AS mu,
                           CASE WHEN n > 1 THEN
                             (round(sqrt((ss - s*s/n)/(n - 1))*1e4)/1e4 + 0.0e0)
                           ELSE 0.0e0 END AS sigma
                    FROM a)
         SELECT l_partkey, l_suppkey, n, mu, sigma,
                (round((1.645e0 * sigma * 1.4142135623730951e0)*1e4)/1e4
                 + 0.0e0) AS safety_stock,
                (round((mu * 2.0e0 + 1.645e0 * sigma * 1.4142135623730951e0)*1e4)/1e4
                 + 0.0e0) AS order_up_to
         FROM b""",
    "q242_price_opt" ->
      """WITH pc AS (SELECT p_partkey,
                            (round((p_retailprice * 0.6e0)*1e4)/1e4 + 0.0e0) AS cost
                     FROM part),
              rx AS (SELECT l_partkey,
                            CAST(round(ln((round((l_extendedprice / l_quantity)*1e4)/1e4
                                           + 0.0e0))*1e6) AS BIGINT) AS x,
                            CAST(round(ln(l_quantity)*1e6) AS BIGINT) AS y,
                            cost
                     FROM lineitem JOIN pc ON l_partkey = p_partkey
                     WHERE (round((l_extendedprice / l_quantity)*1e4)/1e4 + 0.0e0) > 0
                       AND l_quantity > 0),
              s AS (SELECT l_partkey, count(*) AS n, max(cost) AS cost,
                           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x*y) AS BIGINT) AS sxy,
                           CAST(sum(x*x) AS BIGINT) AS sxx
                    FROM rx GROUP BY 1),
              e AS (SELECT *, CASE WHEN n*sxx - sx*sx > 0 THEN
                      (round(((n*sxy - sx*sy) / (1.0e0 * (n*sxx - sx*sx)))*1e4)/1e4
                       + 0.0e0)
                    END AS elasticity FROM s)
         SELECT l_partkey, n, elasticity, cost,
                CASE WHEN elasticity < -1 THEN
                  (round((cost * elasticity / (1.0e0 + elasticity))*1e4)/1e4 + 0.0e0)
                END AS p_star
         FROM e""",
    "q229_clustering_coeff" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                     WHERE l_partkey % 100 = 0),
              e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
                    FROM ps a JOIN ps b
                    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
              deg AS (SELECT node, count(*) AS deg FROM (
                        SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
                      GROUP BY 1),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                           JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
              tn AS (SELECT node, count(*) AS n_triangles FROM (
                       SELECT x AS node FROM tri
                       UNION ALL SELECT y FROM tri
                       UNION ALL SELECT z FROM tri) u GROUP BY 1)
         SELECT d.node, d.deg, coalesce(tn.n_triangles, 0) AS n_triangles,
                (round((CASE WHEN d.deg >= 2
                             THEN 2.0e0 * coalesce(tn.n_triangles, 0)
                                  / (d.deg * (d.deg - 1))
                             ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS clustering_coeff
         FROM deg d LEFT JOIN tn USING (node)""",
    "q230_geo_nearest" ->
      """WITH s AS (SELECT s_suppkey,
                      (s_suppkey * 37 % 17000)/100.0e0 - 85.0e0 s_lat,
                      (s_suppkey * 91 % 36000)/100.0e0 - 180.0e0 s_lon
                    FROM supplier),
              c AS (SELECT c_custkey,
                      (c_custkey * 53 % 17000)/100.0e0 - 85.0e0 c_lat,
                      (c_custkey * 29 % 36000)/100.0e0 - 180.0e0 c_lon
                    FROM customer),
              d AS (SELECT c_custkey, s_suppkey,
                      (round((2*6371.0e0*asin(sqrt(
                         sin(radians(s_lat - c_lat)/2)*sin(radians(s_lat - c_lat)/2)
                         + cos(radians(c_lat))*cos(radians(s_lat))
                           *sin(radians(s_lon - c_lon)/2)*sin(radians(s_lon - c_lon)/2))))*1e4)/1e4
                       + 0.0e0) AS dist_km
                    FROM c, s),
              k AS (SELECT *, row_number() OVER
                      (PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rn
                    FROM d WHERE dist_km <= 1000.0e0)
         SELECT c_custkey, s_suppkey, dist_km FROM k WHERE rn = 1""",
    "q231_assortativity" ->
      """WITH e AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2 + 1 AS dst
                    FROM lineitem),
              sym AS (SELECT src AS a, dst AS b FROM e
                      UNION ALL SELECT dst AS a, src AS b FROM e),
              deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY 1),
              xy AS (SELECT da.deg AS dx, db.deg AS dy
                     FROM sym JOIN deg da ON sym.a = da.node
                              JOIN deg db ON sym.b = db.node),
              st AS (SELECT count(*) AS n,
                            CAST(sum(dx) AS BIGINT) AS sx,
                            CAST(sum(dy) AS BIGINT) AS sy,
                            CAST(sum(dx*dy) AS BIGINT) AS sxy,
                            CAST(sum(dx*dx) AS BIGINT) AS sxx,
                            CAST(sum(dy*dy) AS BIGINT) AS syy
                     FROM xy)
         SELECT n AS n_directed_edges,
                (round(((n*sxy - sx*sy) /
                        (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))*1e4)/1e4
                 + 0.0e0) AS assortativity
         FROM st""",
    "q223_geo_distance" ->
      """WITH s AS (SELECT s_suppkey,
                      (s_suppkey * 37 % 17000)/100.0e0 - 85.0e0 s_lat,
                      (s_suppkey * 91 % 36000)/100.0e0 - 180.0e0 s_lon
                    FROM supplier),
              c AS (SELECT c_custkey,
                      (c_custkey * 53 % 17000)/100.0e0 - 85.0e0 c_lat,
                      (c_custkey * 29 % 36000)/100.0e0 - 180.0e0 c_lon
                    FROM customer),
              d AS (SELECT c_custkey, s_suppkey,
                      (round((2*6371.0e0*asin(sqrt(
                         sin(radians(s_lat - c_lat)/2)*sin(radians(s_lat - c_lat)/2)
                         + cos(radians(c_lat))*cos(radians(s_lat))
                           *sin(radians(s_lon - c_lon)/2)*sin(radians(s_lon - c_lon)/2))))*1e4)/1e4
                       + 0.0e0) AS dist_km
                    FROM c, s)
         SELECT c_custkey, s_suppkey, dist_km FROM d
         WHERE dist_km <= 500.0e0""",
    "q224_geo_grid" ->
      """WITH p AS (SELECT c_custkey,
                      (c_custkey * 41 % 19000)/100.0e0 - 95.0e0 lat,
                      (c_custkey * 23 % 38000)/100.0e0 - 190.0e0 lon
                    FROM customer),
              v AS (SELECT * FROM p
                    WHERE lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
                      AND NOT (lat = 0 AND lon = 0))
         SELECT CAST(floor((lat + 90.0e0)/10.0e0) AS BIGINT) cell_row,
                CAST(floor((lon + 180.0e0)/10.0e0) AS BIGINT) cell_col,
                count(*) n_points,
                (round(avg(lat)*1e4)/1e4 + 0.0e0) lat_mean,
                (round(avg(lon)*1e4)/1e4 + 0.0e0) lon_mean
         FROM v GROUP BY 1,2""",
    "q01_clean_filter" ->
      """SELECT l_returnflag, count(*) AS n_rows, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem WHERE l_quantity > 0
           AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
         GROUP BY l_returnflag""",
    "q02_quantile_range" ->
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                           quantile_cont(l_extendedprice, 0.99) AS hi FROM lineitem)
         SELECT count(*) AS n_rows, (round((avg(l_extendedprice))*1e4)/1e4 + 0.0e0) AS avg_price
         FROM lineitem, b WHERE l_extendedprice BETWEEN lo AND hi""",
    "q03_zscore_cap" ->
      """WITH s AS (SELECT avg(l_quantity) mu, stddev(l_quantity) sd FROM lineitem)
         SELECT (round((sum(q))*1e4)/1e4 + 0.0e0) AS sum_qty, (round((max(q))*1e4)/1e4 + 0.0e0) AS max_qty, (round((min(q))*1e4)/1e4 + 0.0e0) AS min_qty
         FROM (SELECT greatest(least(l_quantity, mu+3*sd), greatest(mu-3*sd, 0.0)) q
               FROM lineitem, s)""",
    "q04_dedup_keep_first" ->
      """SELECT count(*) AS n_rows, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
                 ORDER BY l_linenumber, l_quantity, l_extendedprice) rn FROM lineitem)
         WHERE rn = 1""",
    "q05_rare_categories" ->
      """SELECT CASE WHEN cnt < 10 THEN 'Other' ELSE p_type END AS p_type, count(*) AS n_parts
         FROM (SELECT p_type, count(*) OVER (PARTITION BY p_type) AS cnt FROM part)
         GROUP BY 1""",
    "q06_orphans" ->
      """SELECT count(*) AS n_orphans, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty FROM lineitem
         WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size <= 25)""",
    "q07_quality_report" ->
      """SELECT CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
                count(DISTINCT l_quantity) AS l_quantity_distinct,
                CAST(sum(CASE WHEN l_quantity = 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_zeros,
                CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_discount_nulls,
                count(DISTINCT l_discount) AS l_discount_distinct,
                CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_discount_zeros,
                count(*) AS total_rows
         FROM lineitem""",
    "q08_range_violations" ->
      """SELECT CAST(sum(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_qty,
                CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty,
                CAST(sum(CASE WHEN l_extendedprice > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS big_price,
                count(*) AS total_rows
         FROM lineitem""",
    "q09_key_stats" ->
      """SELECT l_returnflag, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_sum,
                (round((avg(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_mean,
                (round((quantile_cont(l_quantity, 0.5))*1e4)/1e4 + 0.0e0) AS qty_median,
                (round((stddev(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_std,
                (round((min(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_min, (round((max(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_max,
                count(l_quantity) AS qty_count, (round((var_samp(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_var,
                count(DISTINCT l_partkey) AS n_parts
         FROM lineitem GROUP BY l_returnflag""",
    "q10_share_of_total" ->
      """SELECT p_brand, (round((volume)*1e4)/1e4 + 0.0e0) AS volume,
                (round((volume/sum(volume) OVER ())*1e4)/1e4 + 0.0e0) AS share
         FROM (SELECT p_brand, sum(l_quantity) AS volume FROM lineitem
               LEFT JOIN part ON l_partkey = p_partkey GROUP BY p_brand)""",
    "q11_entropy" ->
      """WITH i AS (SELECT p_brand, l_partkey, sum(l_quantity) v FROM lineitem
                    LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1,2),
              p AS (SELECT p_brand, v / sum(v) OVER (PARTITION BY p_brand) pr FROM i)
         SELECT p_brand,
                (round((-sum(CASE WHEN pr > 0 THEN pr * ln(pr) ELSE 0 END))*1e4)/1e4 + 0.0e0) AS entropy
         FROM p GROUP BY p_brand""",
    "q12_top5_share" ->
      """WITH i AS (SELECT l_suppkey, l_partkey, sum(l_quantity) v FROM lineitem GROUP BY 1,2),
              rk AS (SELECT l_suppkey, v, row_number() OVER (PARTITION BY l_suppkey
                       ORDER BY v DESC, l_partkey ASC) rn FROM i)
         SELECT l_suppkey,
                (round((sum(CASE WHEN rn <= 5 THEN v ELSE 0 END) / sum(v))*1e4)/1e4 + 0.0e0) AS top5_share
         FROM rk GROUP BY l_suppkey""",
    "q13_monthly_slope" ->
      """WITH m AS (SELECT l_suppkey,
                      CAST((year(l_shipdate)-1995)*12 + month(l_shipdate) AS DOUBLE) x,
                      sum(l_quantity) y
                    FROM lineitem GROUP BY 1,2),
              s AS (SELECT l_suppkey, CAST(count(*) AS DOUBLE) n, sum(x) sx, sum(y) sy,
                      sum(x*y) sxy, sum(x*x) sxx FROM m GROUP BY 1)
         SELECT l_suppkey,
                (round((CASE WHEN n*sxx - sx*sx > 0
                  THEN (n*sxy - sx*sy)/(n*sxx - sx*sx) END)*1e4)/1e4 + 0.0e0) AS trend_slope
         FROM s""",
    "q14_hierarchy_rollup" ->
      """SELECT p_brand, p_type, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS level_sum,
                (round((avg(l_quantity))*1e4)/1e4 + 0.0e0) AS level_avg, count(*) AS level_count
         FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
         GROUP BY GROUPING SETS ((p_brand),(p_type))""",
    "q15_market_share_rank" ->
      """WITH a AS (SELECT p_brand, sum(l_quantity) volume FROM lineitem
                    LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1),
              rk AS (SELECT p_brand, volume, volume/sum(volume) OVER () AS share,
                       row_number() OVER (ORDER BY volume DESC, p_brand ASC) AS rnk,
                       count(*) OVER () AS n FROM a)
         SELECT p_brand, (round((volume)*1e4)/1e4 + 0.0e0) AS volume, (round((share)*1e4)/1e4 + 0.0e0) AS share,
                rnk, CAST(rnk <= 100 AS INT) AS is_top100,
                CAST(rnk > n*0.8 AS INT) AS is_long_tail
         FROM rk""",
    "q16_hhi" ->
      """WITH i AS (SELECT p_brand, l_partkey, sum(l_quantity) v FROM lineitem
                    LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1,2),
              p AS (SELECT p_brand, v / sum(v) OVER (PARTITION BY p_brand) pr FROM i)
         SELECT p_brand, (round((sum(pr*pr))*1e4)/1e4 + 0.0e0) AS hhi FROM p GROUP BY p_brand""",
    "q17_percent_rank" ->
      """SELECT l_orderkey, l_linenumber,
                (round((percent_rank() OVER (PARTITION BY l_returnflag
                  ORDER BY l_quantity, l_orderkey, l_linenumber))*1e4)/1e4 + 0.0e0) AS qty_prank
         FROM lineitem""",
    "q18_price_elasticity" ->
      """SELECT l_partkey,
                (round((corr(l_extendedprice/l_quantity, l_quantity))*1e4)/1e4 + 0.0e0) AS price_qty_corr,
                count(*) AS n_obs,
                CASE WHEN count(*) <= 5 OR corr(l_extendedprice/l_quantity, l_quantity) IS NULL
                       THEN 'unknown'
                     WHEN corr(l_extendedprice/l_quantity, l_quantity) < -0.1 THEN 'elastic'
                     WHEN corr(l_extendedprice/l_quantity, l_quantity) > 0.1 THEN 'premium'
                     ELSE 'inelastic' END AS elasticity_class
         FROM lineitem GROUP BY l_partkey""",
    "q19_discount_lift" ->
      """SELECT l_returnflag,
                (round((avg(CASE WHEN l_discount > 0 THEN l_quantity END))*1e4)/1e4 + 0.0e0) AS avg_qty_discounted,
                (round((avg(CASE WHEN l_discount <= 0 THEN l_quantity END))*1e4)/1e4 + 0.0e0) AS avg_qty_full,
                (round((avg(CASE WHEN l_discount > 0 THEN l_quantity END)
                      /(avg(CASE WHEN l_discount <= 0 THEN l_quantity END) + 1e-8))*1e4)/1e4 + 0.0e0)
                  AS discount_lift
         FROM lineitem GROUP BY l_returnflag""",
    "q20_zero_demand" ->
      """SELECT l_partkey,
                (round((avg(CASE WHEN l_discount <= 0 THEN 1.0 ELSE 0.0 END))*1e4)/1e4 + 0.0e0) AS zero_ratio,
                CAST(sum(CASE WHEN l_discount <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
                count(*) AS n_obs
         FROM lineitem GROUP BY l_partkey""",
    "q21_cooccurrence" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) n FROM items),
              ic AS (SELECT l_partkey item, count(DISTINCT l_orderkey) n FROM items GROUP BY 1),
              pairs AS (SELECT a.l_partkey item_a, b.l_partkey item_b, count(*) pair_count
                        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
                        GROUP BY 1,2 HAVING count(*) >= 3)
         SELECT item_a, item_b, pair_count, ia.n AS n_a, ib.n AS n_b,
                (round(((pair_count/nb.n)/((ia.n/nb.n)*(ib.n/nb.n)))*1e4)/1e4 + 0.0e0) AS lift
         FROM pairs, nb, ic ia, ic ib
         WHERE item_a = ia.item AND item_b = ib.item""",
    "q22_weekly_aggregate" ->
      """SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                l_partkey, l_suppkey, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_sum,
                count(*) AS n_rows
         FROM lineitem GROUP BY 1,2,3""",
    "q23_enrich_join" ->
      """SELECT coalesce(p_brand, 'Unknown') AS p_brand, count(*) AS n_rows,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem LEFT JOIN (SELECT * FROM part WHERE p_size <= 40) p
           ON l_partkey = p_partkey
         GROUP BY 1""",
    "q24_join_loss_check" ->
      """WITH b AS (SELECT count(*) rb, sum(l_quantity) vb FROM lineitem),
              a AS (SELECT count(*) ra, sum(l_quantity) va FROM lineitem
                    LEFT JOIN part ON l_partkey = p_partkey)
         SELECT rb AS rows_before, (round((vb)*1e4)/1e4 + 0.0e0) AS vol_before, ra AS rows_after,
                (round((va)*1e4)/1e4 + 0.0e0) AS vol_after, rb - ra AS rows_lost,
                (round((vb - va)*1e4)/1e4 + 0.0e0) AS vol_lost
         FROM b, a""",
    "q25_derived_ratios" ->
      """WITH a AS (SELECT l_partkey, sum(l_quantity) qs, avg(l_quantity) qm,
                      stddev(l_quantity) qsd, count(DISTINCT l_suppkey) ns
                    FROM lineitem GROUP BY 1),
              t AS (SELECT count(DISTINCT l_suppkey) tot FROM lineitem)
         SELECT l_partkey, (round((qs*ns)*1e4)/1e4 + 0.0e0) AS velocity,
                (round((qm/(qsd+1e-8))*1e4)/1e4 + 0.0e0) AS consistency,
                (round((CAST(ns AS DOUBLE)/tot)*1e4)/1e4 + 0.0e0) AS penetration
         FROM a, t""",
    "q26_modal_share" ->
      """WITH i AS (SELECT l_suppkey, p_brand, sum(l_quantity) v FROM lineitem
                    LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1,2),
              rk AS (SELECT l_suppkey, v, row_number() OVER (PARTITION BY l_suppkey
                       ORDER BY v DESC, p_brand ASC) rn FROM i)
         SELECT l_suppkey,
                (round((sum(CASE WHEN rn = 1 THEN v ELSE 0 END) / sum(v))*1e4)/1e4 + 0.0e0) AS modal_share
         FROM rk GROUP BY l_suppkey""",
    "q27_dominance" ->
      """SELECT p_type, p_brand, (round((volume)*1e4)/1e4 + 0.0e0) AS volume,
                (round((volume / sum(volume) OVER (PARTITION BY p_type))*1e4)/1e4 + 0.0e0) AS dominance
         FROM (SELECT p_type, p_brand, sum(l_quantity) volume FROM lineitem
               LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1,2)""",
    "q28_volume_tiers" ->
      """WITH a AS (SELECT l_partkey, sum(l_quantity) volume FROM lineitem GROUP BY 1),
              w AS (SELECT l_partkey, volume, volume/sum(volume) OVER () weight FROM a)
         SELECT l_partkey, (round((volume)*1e4)/1e4 + 0.0e0) AS volume, (round((weight)*1e4)/1e4 + 0.0e0) AS weight,
                CASE WHEN weight >= 0.001 THEN 'high'
                     WHEN weight >= 0.0005 THEN 'medium' ELSE 'low' END AS tier
         FROM w""",
    "q29_freq_encode" ->
      """SELECT l_orderkey, l_linenumber,
                count(*) OVER (PARTITION BY l_returnflag) AS l_returnflag_freq
         FROM lineitem""",
    "q30_label_encode" ->
      """WITH c AS (SELECT p_brand, count(*) cnt FROM part GROUP BY 1 HAVING count(*) >= 2),
              codes AS (SELECT p_brand,
                          CAST(row_number() OVER (ORDER BY cnt DESC, p_brand ASC) - 1 AS INT)
                            code FROM c)
         SELECT p_partkey, coalesce(code, -1) AS p_brand_code
         FROM part LEFT JOIN codes USING (p_brand)""",
    "q31_daily_rollup" ->
      """SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
                (round((sum(l_extendedprice))*1e4)/1e4 + 0.0e0) AS revenue_sum,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_sum,
                count(DISTINCT l_partkey) AS n_products,
                (round((avg(l_extendedprice))*1e4)/1e4 + 0.0e0) AS avg_tx_value,
                count(*) AS n_tx
         FROM lineitem GROUP BY 1,2""",
    "q32_turnover" ->
      """SELECT l_partkey, (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS qty_sum,
                (round((sum(l_extendedprice))*1e4)/1e4 + 0.0e0) AS rev_sum,
                count(DISTINCT CAST(l_shipdate AS DATE)) AS active_days,
                (round(((round((sum(l_quantity))*1e4)/1e4 + 0.0e0)/count(DISTINCT CAST(l_shipdate AS DATE)))*1e4)/1e4 + 0.0e0)
                  AS qty_turnover,
                (round(((round((sum(l_extendedprice))*1e4)/1e4 + 0.0e0)/count(DISTINCT CAST(l_shipdate AS DATE)))*1e4)/1e4 + 0.0e0)
                  AS rev_turnover
         FROM lineitem GROUP BY 1""",
    "q33_burst_freq" ->
      """WITH m AS (SELECT l_partkey, l_quantity,
                      quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_partkey) med
                    FROM lineitem)
         SELECT l_partkey,
                (round((avg(CASE WHEN l_quantity > med THEN 1.0 ELSE 0.0 END))*1e4)/1e4 + 0.0e0) AS burst_freq,
                count(*) AS n_obs
         FROM m GROUP BY 1""",
    "q34_basket_stats" ->
      """WITH b AS (SELECT l_orderkey, l_suppkey, count(DISTINCT l_partkey) bs
                    FROM lineitem GROUP BY 1,2)
         SELECT l_suppkey, (round((avg(bs))*1e4)/1e4 + 0.0e0) AS avg_basket_size,
                (round((stddev(bs))*1e4)/1e4 + 0.0e0) AS std_basket_size, max(bs) AS max_basket_size,
                count(*) AS n_baskets
         FROM b GROUP BY 1""",
    "q35_substitutes" ->
      """WITH tot AS (SELECT l_partkey, sum(l_quantity) v FROM lineitem GROUP BY 1
                      ORDER BY v DESC, l_partkey ASC LIMIT 50),
              lng AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws,
                        l.l_partkey item, sum(l_quantity) q
                      FROM lineitem l JOIN tot t ON l.l_partkey = t.l_partkey
                      GROUP BY 1,2)
         SELECT a.item AS item_a, b.item AS item_b, (round((corr(a.q, b.q))*1e4)/1e4 + 0.0e0) AS demand_corr,
                count(*) AS n_buckets
         FROM lng a JOIN lng b ON a.ws = b.ws AND a.item < b.item
         GROUP BY 1,2 HAVING corr(a.q, b.q) < -0.2""",
    "q36_global_topn" ->
      """SELECT l_partkey, (round((volume)*1e4)/1e4 + 0.0e0) AS volume
         FROM (SELECT l_partkey, sum(l_quantity) volume FROM lineitem GROUP BY 1
               ORDER BY volume DESC, l_partkey ASC LIMIT 10)""",
    "q37_scorecard" ->
      """WITH t AS (SELECT l_quantity a, avg(l_quantity) OVER (PARTITION BY l_partkey) p
                    FROM lineitem)
         SELECT (round((sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS wmape,
                (round((avg(abs(a-p)/(abs(a)+1e-8))*100)*1e4)/1e4 + 0.0e0) AS mape,
                (round((avg(abs(a-p)/((abs(a)+abs(p))/2 + 1e-8))*100)*1e4)/1e4 + 0.0e0) AS smape,
                (round((avg(abs(a-p)))*1e4)/1e4 + 0.0e0) AS mae,
                (round((sqrt(avg((a-p)*(a-p))))*1e4)/1e4 + 0.0e0) AS rmse,
                (round((avg(p-a))*1e4)/1e4 + 0.0e0) AS bias, count(*) AS n_rows
         FROM t""",
    "q38_wmape_by_group" ->
      """WITH t AS (SELECT l_returnflag, l_quantity a,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p
                    FROM lineitem)
         SELECT l_returnflag, (round((sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS wmape,
                count(*) AS n_rows
         FROM t GROUP BY 1""",
    "q39_lags" ->
      """SELECT l_orderkey, l_linenumber,
                lag(l_quantity, 1) OVER w AS lag1_qty,
                lag(l_quantity, 4) OVER w AS lag4_qty
         FROM lineitem
         WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber)""",
    "q40_rolling_stats" ->
      """SELECT l_orderkey, l_linenumber,
                (round((avg(l_quantity) OVER w)*1e4)/1e4 + 0.0e0) AS roll_avg,
                (round((stddev(l_quantity) OVER w)*1e4)/1e4 + 0.0e0) AS roll_std,
                min(l_quantity) OVER w AS roll_min,
                max(l_quantity) OVER w AS roll_max
         FROM lineitem
         WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",
    "q41_rolling_slope" ->
      """WITH t AS (SELECT *, CAST(row_number() OVER (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DOUBLE) x
                    FROM lineitem),
              f AS (SELECT l_orderkey, l_linenumber,
                      CAST(count(l_quantity) OVER w AS DOUBLE) cnt,
                      sum(x) OVER w sx, sum(l_quantity) OVER w sy,
                      sum(x*l_quantity) OVER w sxy, sum(x*x) OVER w sxx
                    FROM t
                    WINDOW w AS (PARTITION BY l_partkey, l_suppkey ORDER BY x
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
         SELECT l_orderkey, l_linenumber,
                (round((CASE WHEN cnt*sxx - sx*sx > 0
                  THEN (cnt*sxy - sx*sy)/(cnt*sxx - sx*sx) END)*1e4)/1e4 + 0.0e0) AS slope4
         FROM f""",
    "q42_rolling_autocorr" ->
      """WITH t AS (SELECT *, lag(l_quantity,1) OVER (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber) lag1
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                (round((corr(l_quantity, lag1) OVER (PARTITION BY l_partkey, l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))*1e4)/1e4 + 0.0e0) AS ac1
         FROM t""",
    "q43_fourier" ->
      """SELECT day,
                (round((sin(2*pi()*1*t/7))*1e4)/1e4 + 0.0e0) AS sin_7_1, (round((cos(2*pi()*1*t/7))*1e4)/1e4 + 0.0e0) AS cos_7_1,
                (round((sin(2*pi()*2*t/7))*1e4)/1e4 + 0.0e0) AS sin_7_2, (round((cos(2*pi()*2*t/7))*1e4)/1e4 + 0.0e0) AS cos_7_2,
                (round((sin(2*pi()*1*t/365))*1e4)/1e4 + 0.0e0) AS sin_365_1,
                (round((cos(2*pi()*1*t/365))*1e4)/1e4 + 0.0e0) AS cos_365_1,
                (round((sin(2*pi()*2*t/365))*1e4)/1e4 + 0.0e0) AS sin_365_2,
                (round((cos(2*pi()*2*t/365))*1e4)/1e4 + 0.0e0) AS cos_365_2
         FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day,
                 date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS t
               FROM lineitem)""",
    "q44_momentum" ->
      """SELECT l_orderkey, l_linenumber,
                (round((l_quantity/(lag(l_quantity,1) OVER (PARTITION BY l_partkey, l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber) + 1e-8) - 1)*1e4)/1e4 + 0.0e0) AS mom1
         FROM lineitem""",
    "q45_group_stability" ->
      """SELECT DISTINCT l_partkey, l_suppkey,
                (round((avg(l_quantity) OVER g /(stddev(l_quantity) OVER g + 1e-8))*1e4)/1e4 + 0.0e0) AS stability
         FROM lineitem
         WINDOW g AS (PARTITION BY l_partkey, l_suppkey)""",
    "q46_recent_vs_hist" ->
      """WITH t AS (SELECT l_partkey, l_suppkey, l_quantity,
                      ntile(4) OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) q
                    FROM lineitem),
              a AS (SELECT l_partkey, l_suppkey,
                      avg(CASE WHEN q = 4 THEN l_quantity END) rm,
                      avg(CASE WHEN q <> 4 THEN l_quantity END) hm
                    FROM t GROUP BY 1,2)
         SELECT l_partkey, l_suppkey, (round((rm)*1e4)/1e4 + 0.0e0) AS recent_mean, (round((hm)*1e4)/1e4 + 0.0e0) AS hist_mean,
                (round((rm/(hm + 1e-8))*1e4)/1e4 + 0.0e0) AS recent_ratio,
                CAST(rm/(hm + 1e-8) < 0.8 AS INT) AS is_declining
         FROM a""",
    "q47_zero_streaks" ->
      """WITH f AS (SELECT l_partkey, l_suppkey, CAST(l_discount <= 0 AS INT) z,
                      row_number() OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) rn,
                      row_number() OVER (PARTITION BY l_partkey, l_suppkey, (l_discount <= 0)
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) rz
                    FROM lineitem),
              runs AS (SELECT l_partkey, l_suppkey, rn - rz AS island, count(*) streak_len
                       FROM f WHERE z = 1 GROUP BY 1,2,3)
         SELECT l_partkey, l_suppkey, max(streak_len) AS max_zero_streak,
                (round((avg(streak_len))*1e4)/1e4 + 0.0e0) AS avg_zero_streak, count(*) AS n_zero_streaks
         FROM runs GROUP BY 1,2""",
    "q48_purchase_gaps" ->
      """WITH t AS (SELECT l_partkey, l_suppkey, CAST(l_shipdate AS DATE) dd,
                      lag(CAST(l_shipdate AS DATE),1) OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) pd
                    FROM lineitem WHERE l_discount > 0)
         SELECT l_partkey, l_suppkey, (round((avg(date_diff('day', pd, dd)))*1e4)/1e4 + 0.0e0) AS avg_gap,
                max(date_diff('day', pd, dd)) AS max_gap, count(pd) AS n_gaps
         FROM t GROUP BY 1,2""",
    "q49_lifecycle" ->
      """WITH s AS (SELECT l_partkey, l_suppkey, min(CAST(l_shipdate AS DATE)) fd,
                      max(CAST(l_shipdate AS DATE)) ld FROM lineitem GROUP BY 1,2),
              g AS (SELECT max(CAST(l_shipdate AS DATE)) md FROM lineitem)
         SELECT l_partkey, l_suppkey, fd AS first_date, ld AS last_date,
                date_diff('day', fd, ld) AS age_days,
                date_diff('day', ld, md) AS days_since_last,
                CASE WHEN date_diff('day', ld, md) > 90 THEN 'discontinued'
                     WHEN date_diff('day', fd, ld) <= 30 THEN 'new'
                     WHEN date_diff('day', fd, ld) <= 180 THEN 'growth'
                     ELSE 'mature' END AS stage
         FROM s, g""",
    "q50_seasonal_means" ->
      """WITH st AS (SELECT l_returnflag, CAST(isodow(l_shipdate) AS INT) - 1 b,
                       avg(l_quantity) m
                     FROM lineitem GROUP BY 1,2),
              g AS (SELECT avg(l_quantity) gm FROM lineitem)
         SELECT l_orderkey, l_linenumber, (round((coalesce(m, gm))*1e4)/1e4 + 0.0e0) AS dow_mean
         FROM lineitem l CROSS JOIN g
         LEFT JOIN st ON l.l_returnflag = st.l_returnflag
           AND CAST(isodow(l.l_shipdate) AS INT) - 1 = st.b""",
    "q51_growth_cap" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2,3),
              c AS (SELECT ws, l_partkey, l_suppkey, q,
                      lag(q,1) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) pq
                    FROM w)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round((CASE WHEN pq IS NOT NULL AND pq > 0 THEN least(q, pq*2.0)
                      ELSE q END)*1e4)/1e4 + 0.0e0) AS capped_qty
         FROM c""",
    "q52_smoothing" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2,3)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round((avg(q) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))*1e4)/1e4 + 0.0e0) AS smoothed_qty
         FROM w""",
    "q53_tail_slope" ->
      """WITH rev AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) rr
                      FROM lineitem),
              t AS (SELECT l_partkey, l_suppkey, l_quantity,
                      CAST(row_number() OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DOUBLE) x
                    FROM rev WHERE rr <= 8),
              s AS (SELECT l_partkey, l_suppkey, CAST(count(l_quantity) AS DOUBLE) n,
                      sum(x) sx, sum(l_quantity) sy, sum(x*l_quantity) sxy, sum(x*x) sxx
                    FROM t GROUP BY 1,2)
         SELECT l_partkey, l_suppkey,
                (round((CASE WHEN n*sxx - sx*sx > 0
                  THEN (n*sxy - sx*sy)/(n*sxx - sx*sx) END)*1e4)/1e4 + 0.0e0) AS tail8_slope
         FROM s""",
    "q54_date_parts" ->
      """SELECT day, CAST(year(day) AS INT) AS year, CAST(month(day) AS INT) AS month,
                CAST(day(day) AS INT) AS dom, CAST(isodow(day) - 1 AS INT) AS dow,
                CAST(dayofyear(day) AS INT) AS doy, CAST(quarter(day) AS INT) AS quarter,
                CAST(week(day) AS INT) AS week_of_year,
                CAST(isodow(day) - 1 >= 5 AS INT) AS is_weekend,
                CAST(isodow(day) - 1 = 6 AS INT) AS is_sunday,
                CAST(day(day) <= 7 AS INT) AS is_month_start,
                CAST(day(day) >= 24 AS INT) AS is_month_end,
                CAST(floor((day(day) - 1) / 7) + 1 AS INT) AS week_of_month
         FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem)""",
    "q55_cyclical" ->
      """SELECT day,
                (round((sin(month(day) * 2*pi()/12))*1e4)/1e4 + 0.0e0) AS month_sin,
                (round((cos(month(day) * 2*pi()/12))*1e4)/1e4 + 0.0e0) AS month_cos,
                (round((sin((isodow(day)-1) * 2*pi()/7))*1e4)/1e4 + 0.0e0) AS dow_sin,
                (round((cos((isodow(day)-1) * 2*pi()/7))*1e4)/1e4 + 0.0e0) AS dow_cos,
                (round((sin(dayofyear(day) * 2*pi()/365))*1e4)/1e4 + 0.0e0) AS doy_sin,
                (round((cos(dayofyear(day) * 2*pi()/365))*1e4)/1e4 + 0.0e0) AS doy_cos
         FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem)""",
    "q56_seasons" ->
      """SELECT day,
                CAST(month(day) IN (12,1,2) AS INT) AS is_summer,
                CAST(month(day) IN (6,7,8) AS INT) AS is_winter,
                CAST(month(day) NOT IN (1,7,12) AS INT) AS is_school_period,
                CAST(day(day) <= 5 OR day(day) >= 28 AS INT) AS is_payday_window,
                CAST(month(day) = 11 AS INT) AS is_black_friday_season,
                CAST(month(day) = 12 AS INT) AS is_christmas_season
         FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem)""",
    "q57_holidays" ->
      """WITH years AS (SELECT unnest(range(1992, 2006)) y),
              md AS (SELECT unnest(['01-01','04-21','05-01','09-07','10-12','11-02',
                                    '11-15','12-25']) m),
              -- movable feasts (computus-derived, hardcoded per year):
              -- Carnaval = Easter-47d, Good Friday = Easter-2d, Corpus Christi = Easter+60d
              mov AS (SELECT CAST(unnest([
                '1992-03-03','1992-04-17','1992-06-18','1993-02-23','1993-04-09','1993-06-10',
                '1994-02-15','1994-04-01','1994-06-02','1995-02-28','1995-04-14','1995-06-15',
                '1996-02-20','1996-04-05','1996-06-06','1997-02-11','1997-03-28','1997-05-29',
                '1998-02-24','1998-04-10','1998-06-11','1999-02-16','1999-04-02','1999-06-03',
                '2000-03-07','2000-04-21','2000-06-22','2001-02-27','2001-04-13','2001-06-14',
                '2002-02-12','2002-03-29','2002-05-30','2003-03-04','2003-04-18','2003-06-19',
                '2004-02-24','2004-04-09','2004-06-10','2005-02-08','2005-03-25','2005-05-26'
                ]) AS DATE) h),
              hol AS (SELECT DISTINCT h FROM
                (SELECT CAST(y || '-' || m AS DATE) h FROM years, md
                 UNION ALL SELECT h FROM mov)),
              dd AS (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem),
              j AS (SELECT day, CASE WHEN h IS NOT NULL THEN 1 ELSE 0 END is_h
                    FROM dd LEFT JOIN hol ON day = h),
              e AS (SELECT day, is_h,
                      min(CASE WHEN is_h = 1 THEN day END) OVER (ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nh,
                      max(CASE WHEN is_h = 1 THEN day END) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ph
                    FROM j)
         SELECT day, is_h AS is_holiday,
                date_diff('day', day, nh) AS days_to_holiday,
                date_diff('day', ph, day) AS days_since_holiday
         FROM e""",
    "q58_business_round" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(greatest((round((l_quantity*(1-l_discount))*1e0)/1e0 + 0.0e0), 0.0) AS BIGINT)
                  AS rounded_qty
         FROM lineitem""",
    "q59_events_hourly" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hour, event_type,
                count(*) AS n_events, (round((sum(value))*1e4)/1e4 + 0.0e0) AS value_sum
         FROM events GROUP BY 1,2,3""",
    "q60_doc_exact_dedup" ->
      """SELECT doc_id, lang
         FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY text ORDER BY doc_id) rn
               FROM documents)
         WHERE rn = 1""",
    "q61_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
                len(string_split_regex(trim(text), '\s+')) AS n_words,
                len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_unique_words,
                (round((list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                        w -> length(w)))
                      /(len(string_split_regex(trim(text), '\s+')) + 1e-8))*1e4)/1e4 + 0.0e0)
                  AS avg_word_len,
                (round(((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                      /(length(text) + 1e-8))*1e4)/1e4 + 0.0e0) AS punct_ratio,
                (round(((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                      /(length(text) + 1e-8))*1e4)/1e4 + 0.0e0) AS digit_ratio
         FROM documents""",
    "q62_text_quality" ->
      """WITH t AS (SELECT lang, length(text) nc,
                      len(string_split_regex(trim(text), '\s+')) nw,
                      len(list_distinct(string_split_regex(trim(text), '\s+'))) nu,
                      length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) np
                    FROM documents),
              q AS (SELECT lang, nc, nw,
                      0.4 * least(nw/20.0, 1.0)
                      + 0.4 * (nu/(nw + 1e-8))
                      + 0.2 * (1.0 - least(np/(nc + 1e-8)*5.0, 1.0)) AS score
                    FROM t)
         SELECT lang, count(*) AS n_docs, (round((avg(nc))*1e4)/1e4 + 0.0e0) AS avg_chars,
                (round((avg(nw))*1e4)/1e4 + 0.0e0) AS avg_words, (round((avg(score))*1e4)/1e4 + 0.0e0) AS avg_quality
         FROM q GROUP BY 1""",
    "q63_lang_id" ->
      """WITH w AS (SELECT doc_id, lang, text,
                      string_split_regex(trim(lower(text)), '\s+') ws FROM documents),
              sc AS (SELECT doc_id, lang, text,
                       len(list_filter(ws, x -> list_contains(
                         ['der','die','das','und','ist','nicht','mit','ein','zu','den'], x)))
                         s_de,
                       len(list_filter(ws, x -> list_contains(
                         ['the','and','of','to','a','in','is','that','for','with'], x))) s_en,
                       len(list_filter(ws, x -> list_contains(
                         ['el','la','los','y','es','no','por','que','una','con'], x))) s_es,
                       len(list_filter(ws, x -> list_contains(
                         ['le','la','les','et','est','pas','pour','que','une','dans'], x)))
                         s_fr
                     FROM w)
         SELECT doc_id, lang,
                CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                     WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
                     WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND s_en > 0 THEN 'en'
                     WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND s_es > 0 THEN 'es'
                     WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND s_fr > 0 THEN 'fr'
                     ELSE 'unknown' END AS pred_lang
         FROM sc""",
    "q64_ngram_jaccard" ->
      """WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
              sh AS (SELECT doc_id, unnest(list_distinct(
                       CASE WHEN len(w) >= 3
                         THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w)-1)]
                         ELSE [array_to_string(w, ' ')] END)) sh FROM ws),
              sz AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
              inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
                        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                        GROUP BY 1,2)
         SELECT id_a, id_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
                (round((n_common/(sa.sz + sb.sz - n_common))*1e4)/1e4 + 0.0e0) AS jaccard
         FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         WHERE n_common/(sa.sz + sb.sz - n_common) >= 0.8""",
    "q68_ann_brute" -> annBruteSql,
    "q69_ann_lsh" -> annLshSql,
    // q277: recall@10 of the LSH path against the brute-force truth —
    // both searches replayed as subquery CTEs, the metric is one
    // left-join + aggregate over the k-bounded result grids
    "q277_ann_recall" ->
      s"""WITH ex0 AS ($annBruteSql),
              ap0 AS ($annLshSql),
              exk AS (SELECT query_id, neighbor_id FROM ex0 WHERE rank <= 10),
              apk AS (SELECT query_id, neighbor_id, 1 AS hit FROM ap0 WHERE rank <= 10),
              j AS (SELECT exk.query_id, coalesce(apk.hit, 0) AS hit
                    FROM exk LEFT JOIN apk USING (query_id, neighbor_id))
         SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
                CAST(sum(hit) AS BIGINT) AS n_hit,
                (round((CAST(sum(hit) AS DOUBLE)/count(*))*1e4)/1e4 + 0.0e0) AS recall
         FROM j GROUP BY 1""",
    // same embedded-plane recipe as q69, 8 bands of width 2 and a
    // rounded-cosine >= threshold verify (an empty result set is still
    // a byte-exact contract: no false positives in either engine)
    "q107_embed_near_dupes" -> embedNearDupesProfileSql,
    "q218_near_dupes_low" -> embedNearDupesSql("0.4e0"),
    "q70_embed_norms" ->
      """SELECT label, count(*) AS n_vecs,
                (round((avg(sqrt(list_dot_product(embedding::DOUBLE[],
                  embedding::DOUBLE[]))))*1e4)/1e4 + 0.0e0) AS avg_norm
         FROM embeddings GROUP BY 1""",
    "q71_frame_sample" ->
      """SELECT doc_id AS media_id,
                least(CAST(floor(n_chars*40/1000) AS BIGINT) + 1, 100) AS n_frames
         FROM documents""",
    "q73_ewma" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (SELECT l_partkey, l_suppkey, ws, rn, q AS y FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, 0.3*t.q + 0.7*e.y
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey, (round(y*1e4)/1e4 + 0.0e0) AS ewma FROM e""",
    "q75_croston" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey,
                   sum(CASE WHEN l_discount > 0 THEN l_quantity ELSE 0.0 END) dq
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (
             SELECT l_partkey, l_suppkey, ws, rn,
               CASE WHEN dq > 0 THEN dq END z,
               CASE WHEN dq > 0 THEN 1.0e0 END p,
               CASE WHEN dq > 0 THEN 0 END gap,
               CASE WHEN dq > 0 THEN (1e0 - 0.2e0/2)*dq/1.0e0 END f
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn,
               CASE WHEN e.z IS NULL THEN CASE WHEN t.dq > 0 THEN t.dq END
                    WHEN t.dq > 0 THEN 0.2e0*t.dq + (1e0-0.2e0)*e.z
                    ELSE e.z END,
               CASE WHEN e.z IS NULL THEN CASE WHEN t.dq > 0 THEN 1.0e0 END
                    WHEN t.dq > 0 THEN 0.2e0*(e.gap + 1) + (1e0-0.2e0)*e.p
                    ELSE e.p END,
               CASE WHEN e.z IS NULL THEN CASE WHEN t.dq > 0 THEN 0 END
                    WHEN t.dq > 0 THEN 0
                    ELSE e.gap + 1 END,
               CASE WHEN e.z IS NULL
                      THEN CASE WHEN t.dq > 0 THEN (1e0 - 0.2e0/2)*t.dq/1.0e0 END
                    WHEN t.dq > 0
                      THEN (1e0 - 0.2e0/2)*(0.2e0*t.dq + (1e0-0.2e0)*e.z)
                           /(0.2e0*(e.gap + 1) + (1e0-0.2e0)*e.p)
                    ELSE (1e0 - 0.2e0/2)*e.z/e.p END
             FROM t JOIN e ON t.l_partkey = e.l_partkey
               AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(f*1e4)/1e4 + 0.0e0) AS croston_forecast
         FROM e""",
    "q212_robust_mean" ->
      """WITH t AS (SELECT l_returnflag, l_quantity v,
                      percent_rank() OVER (PARTITION BY l_returnflag
                        ORDER BY l_quantity) AS pr
                    FROM lineitem),
           g AS (SELECT l_returnflag, count(*) AS n_rows,
                   avg(CASE WHEN pr >= 0.05e0 AND pr <= 0.95e0 THEN v END) AS tm,
                   min(CASE WHEN pr >= 0.05e0 THEN v END) AS plo,
                   max(CASE WHEN pr <= 0.95e0 THEN v END) AS phi,
                   sum(CASE WHEN pr >= 0.05e0 AND pr <= 0.95e0 THEN v ELSE 0.0e0 END) AS smid,
                   CAST(sum(CASE WHEN pr < 0.05e0 THEN 1 ELSE 0 END) AS BIGINT) AS nlo,
                   CAST(sum(CASE WHEN pr > 0.95e0 THEN 1 ELSE 0 END) AS BIGINT) AS nhi
                 FROM t GROUP BY 1)
         SELECT l_returnflag, n_rows,
                (round(tm*1e4)/1e4 + 0.0e0) AS trimmed_mean,
                (round((smid + plo*nlo + phi*nhi)/n_rows*1e4)/1e4 + 0.0e0) AS winsorized_mean
         FROM g""",
    "q211_clean_text" ->
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(nfc_normalize(text),
                  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'),
                  '\s+', ' ', 'g')) AS clean,
                CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(text),
                  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'),
                  '\s+', ' ', 'g'))) AS BIGINT) AS clean_chars
         FROM documents""",
    "q210_mase" ->
      """WITH t AS (SELECT l_returnflag, l_quantity a,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p,
                      abs(l_quantity - lag(l_quantity, 1) OVER w) AS ne
                    FROM lineitem
                    WINDOW w AS (PARTITION BY l_returnflag
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)),
           g AS (SELECT l_returnflag, avg(abs(a-p)) AS mae, avg(ne) AS nm,
                   count(*) AS n_rows
                 FROM t GROUP BY 1)
         SELECT l_returnflag, (round(mae*1e4)/1e4 + 0.0e0) AS mae,
                (round(nm*1e4)/1e4 + 0.0e0) AS naive_mae,
                (round(mae/(nm + 1e-8)*1e4)/1e4 + 0.0e0) AS mase,
                n_rows
         FROM g""",
    "q214_ar2" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2,3),
              t AS (SELECT *,
                      lag(q, 1) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l1,
                      lag(q, 2) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l2
                    FROM w),
              s AS (SELECT l_partkey, l_suppkey,
                      CAST(count(*) AS DOUBLE) n,
                      (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) sy,
                      (CAST(sum(CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s1,
                      (CAST(sum(CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s2,
                      (CAST(sum(CAST(round(q*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy1,
                      (CAST(sum(CAST(round(q*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy2,
                      (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s11,
                      (CAST(sum(CAST(round(l2*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s22,
                      (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s12
                    FROM t WHERE l2 IS NOT NULL GROUP BY 1,2),
              dets AS (SELECT l_partkey, l_suppkey, n, sy,
                      n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
                      sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2) + s2*(sy1*s12 - s11*sy2) AS detc,
                      n*(sy1*s22 - s12*sy2) - sy*(s1*s22 - s12*s2) + s2*(s1*sy2 - sy1*s2) AS detp1,
                      n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2) + sy*(s1*s12 - s11*s2) AS detp2
                    FROM s),
              c2 AS (SELECT l_partkey, l_suppkey,
                      (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                         THEN detc/det ELSE sy/n END)*1e4)/1e4 + 0.0e0) AS ar_c,
                      (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                         THEN detp1/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS ar_phi1,
                      (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                         THEN detp2/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS ar_phi2
                    FROM dets)
         SELECT t.ws AS week_start, t.l_partkey, t.l_suppkey,
                c2.ar_c, c2.ar_phi1, c2.ar_phi2,
                CASE WHEN t.l2 IS NOT NULL THEN
                  (round((c2.ar_c + c2.ar_phi1*t.l1 + c2.ar_phi2*t.l2)*1e4)/1e4 + 0.0e0)
                END AS ar_fitted
         FROM t LEFT JOIN c2 ON t.l_partkey = c2.l_partkey
           AND t.l_suppkey = c2.l_suppkey""",
    "q216_plausibility" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q FROM lineitem GROUP BY 1,2,3),
              m AS (SELECT l_partkey, l_suppkey, avg(q) p FROM w GROUP BY 1,2),
              g AS (SELECT r.semana, l_suppkey pdv, l_partkey produto,
                      CAST(greatest((round((p)*1e0)/1e0 + 0.0e0), 0.0) AS BIGINT) quantidade
                    FROM m, range(1, 6) r(semana)),
              mw AS (SELECT max(ws) mws FROM w),
              a AS (SELECT CAST(5 - date_diff('day', ws, mws)/7 AS INT) semana,
                      l_suppkey pdv, l_partkey produto, q actual
                    FROM w, mw
                    WHERE 5 - date_diff('day', ws, mws)/7 >= 1),
              wm AS (SELECT count(*) n_matched,
                       (round(sum(abs(a.actual - g.quantidade))/sum(abs(a.actual))*100*1e4)/1e4 + 0.0e0) wmape_pct
                     FROM g JOIN a ON g.semana = a.semana AND g.pdv = a.pdv
                       AND g.produto = a.produto),
              ss AS (SELECT count(*) n_rows,
                       count(DISTINCT quantidade) n_distinct_qty,
                       (round(avg(quantidade)*1e4)/1e4 + 0.0e0) sub_mean FROM g),
              hs AS (SELECT (round(avg(q)*1e4)/1e4 + 0.0e0) hist_mean FROM w),
              base AS (SELECT ss.n_rows, ss.n_distinct_qty, ss.sub_mean,
                         wm.n_matched, wm.wmape_pct, hs.hist_mean,
                         CASE WHEN wm.wmape_pct < 5.0e0 THEN 1.0e0
                              WHEN wm.wmape_pct < 10.0e0 THEN 0.7e0
                              ELSE 0.0e0 END AS leak_risk,
                         (round(abs(ss.sub_mean - hs.hist_mean)/hs.hist_mean*100*1e4)/1e4 + 0.0e0) AS shift_pct
                       FROM ss, wm, hs),
              flags AS (SELECT *,
                          CAST(CASE WHEN shift_pct > 50.0e0 THEN 1 ELSE 0 END AS BIGINT) AS shift_flag,
                          CAST(CASE WHEN n_distinct_qty = 1 THEN 1 ELSE 0 END AS BIGINT) AS constant_flag
                        FROM base)
         SELECT *,
                (round(least(leak_risk*0.6e0 + shift_flag*0.3e0 + constant_flag*0.1e0,
                  1.0e0)*1e4)/1e4 + 0.0e0) AS risk_score
         FROM flags""",
    "q219_theta_seasonal" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q0
                 FROM lineitem GROUP BY 1,2,3),
           w2 AS (SELECT l_partkey, l_suppkey, ws,
                    (round((avg(q0) OVER (PARTITION BY l_partkey, l_suppkey, month(ws))
                       - avg(q0) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4 + 0.0e0) AS seas,
                    q0 FROM w),
           w3 AS (SELECT l_partkey, l_suppkey, ws, seas,
                    (round((q0 - seas)*1e4)/1e4 + 0.0e0) AS q FROM w2),
           t0 AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY ws) rn FROM w3),
           s AS (SELECT l_partkey, l_suppkey,
                   count(*) AS n,
                   sum(rn) AS st,
                   sum(CAST(round(q*1e4) AS BIGINT)) AS sxm,
                   sum(rn*rn) AS stt,
                   sum(rn*CAST(round(q*1e4) AS BIGINT)) AS stxm
                 FROM t0 GROUP BY 1,2),
           c AS (SELECT l_partkey, l_suppkey,
                   (round((CASE WHEN n > 1
                      THEN CAST(n*stxm - st*sxm AS DOUBLE)/1e4
                           /CAST(n*stt - st*st AS DOUBLE)
                      ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS b,
                   n, st, sxm
                 FROM s),
           c2 AS (SELECT l_partkey, l_suppkey, b,
                    (round(((CAST(sxm AS DOUBLE)/1e4 - b*CAST(st AS DOUBLE))
                            /CAST(n AS DOUBLE))*1e4)/1e4 + 0.0e0) AS a
                  FROM c),
           t AS (SELECT t0.l_partkey, t0.l_suppkey, t0.ws, t0.rn, t0.q, t0.seas,
                   c2.a, c2.b,
                   (round((2e0*t0.q - (c2.a + c2.b*CAST(t0.rn AS DOUBLE)))*1e4)/1e4 + 0.0e0) AS z
                 FROM t0 JOIN c2 USING (l_partkey, l_suppkey)),
           e AS (SELECT l_partkey, l_suppkey, ws, rn, seas, a, b, z AS y
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.seas, t.a, t.b,
                   0.3e0*t.z + (1e0-0.3e0)*e.y
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           f AS (SELECT ws, l_partkey, l_suppkey, seas, a, b,
                   (round((0.5e0*(a + b*CAST(rn AS DOUBLE)) + 0.5e0*y)*1e4)/1e4 + 0.0e0)
                     AS theta_fitted
                 FROM e)
         SELECT ws AS week_start, l_partkey, l_suppkey, seas AS seasonal,
                a AS theta_a, b AS theta_b, theta_fitted,
                (round((theta_fitted + seas)*1e4)/1e4 + 0.0e0) AS theta_sfitted
         FROM f""",
    "q215_isotonic" ->
      """WITH scored AS (
           SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber, l_quantity,
                  (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4 + 0.0e0) AS pred
           FROM lineitem),
         b AS (SELECT l_returnflag,
                 CAST(ntile(10) OVER (PARTITION BY l_returnflag ORDER BY pred,
                   l_shipdate, l_orderkey, l_linenumber, l_quantity) AS BIGINT) AS bin,
                 pred, l_quantity
               FROM scored),
         ba AS (SELECT l_returnflag, bin,
                 CAST(count(*) AS DOUBLE) n,
                 (round(sum(l_quantity)*1e4)/1e4 + 0.0e0) sy,
                 min(pred) pred_lo, max(pred) pred_hi,
                 (round(avg(l_quantity)*1e4)/1e4 + 0.0e0) bin_mean
               FROM b GROUP BY 1,2),
         pre AS (SELECT *, sum(n) OVER w cn, sum(sy) OVER w cy
                 FROM ba WINDOW w AS (PARTITION BY l_returnflag ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         pairs AS (SELECT j.l_returnflag, j.bin jb, k.bin kb,
                     (k.cy - (j.cy - j.sy)) / (k.cn - (j.cn - j.n)) AS m
                   FROM pre j JOIN pre k ON j.l_returnflag = k.l_returnflag
                     AND j.bin <= k.bin),
         rm AS (SELECT *, min(m) OVER (PARTITION BY l_returnflag, jb
                  ORDER BY kb DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin
                FROM pairs),
         fit AS (SELECT l_returnflag, kb AS bin,
                   (round(max(rmin)*1e4)/1e4 + 0.0e0) AS iso_fit
                 FROM rm GROUP BY 1,2)
         SELECT ba.l_returnflag, ba.bin, ba.pred_lo, ba.pred_hi,
                CAST(ba.n AS BIGINT) AS n_rows, ba.bin_mean, fit.iso_fit
         FROM ba JOIN fit ON ba.l_returnflag = fit.l_returnflag
           AND ba.bin = fit.bin""",
    "q217_ar2_forecast" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *,
                   lag(q, 1) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l1,
                   lag(q, 2) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l2
                 FROM w),
           s AS (SELECT l_partkey, l_suppkey,
                   CAST(count(*) AS DOUBLE) n,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) sy,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s1,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s2,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy1,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy2,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s11,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s22,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s12
                 FROM t WHERE l2 IS NOT NULL GROUP BY 1,2),
           dets AS (SELECT l_partkey, l_suppkey, n, sy,
                   n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
                   sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2) + s2*(sy1*s12 - s11*sy2) AS detc,
                   n*(sy1*s22 - s12*sy2) - sy*(s1*s22 - s12*s2) + s2*(s1*sy2 - sy1*s2) AS detp1,
                   n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2) + sy*(s1*s12 - s11*s2) AS detp2
                 FROM s),
           c2 AS (SELECT l_partkey, l_suppkey,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detc/det ELSE sy/n END)*1e4)/1e4 + 0.0e0) AS c,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp1/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p1,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp2/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p2
                 FROM dets),
           lv AS (SELECT l_partkey, l_suppkey,
                    max(CASE WHEN rd = 1 THEN q END) xn,
                    max(CASE WHEN rd = 2 THEN q END) xn1
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                          l_suppkey ORDER BY ws DESC) rd FROM w)
                  GROUP BY 1,2
                  HAVING max(CASE WHEN rd = 2 THEN q END) IS NOT NULL),
           base AS (SELECT lv.l_partkey, lv.l_suppkey, lv.xn, lv.xn1,
                      c2.c, c2.p1, c2.p2
                    FROM lv JOIN c2 ON lv.l_partkey = c2.l_partkey
                      AND lv.l_suppkey = c2.l_suppkey),
           e AS (SELECT l_partkey, l_suppkey, 1 AS step,
                   (round((c + p1*xn + p2*xn1)*1e4)/1e4 + 0.0e0) AS f,
                   xn AS fprev, c, p1, p2
                 FROM base
                 UNION ALL
                 SELECT l_partkey, l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0),
                   f, c, p1, p2
                 FROM e WHERE step < 4)
         SELECT l_partkey, l_suppkey, CAST(step AS BIGINT) AS step,
                f AS ar_forecast
         FROM e""",
    // the q217 recipe + in-sample residual variance + the ψ-weight
    // recursion carried through the CTE: Var(h) = s2·Σψ², z literal
    "q251_ar_intervals" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *,
                   lag(q, 1) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l1,
                   lag(q, 2) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l2
                 FROM w),
           s AS (SELECT l_partkey, l_suppkey,
                   CAST(count(*) AS DOUBLE) n,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) sy,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s1,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s2m,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy1,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy2,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s11,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s22,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s12
                 FROM t WHERE l2 IS NOT NULL GROUP BY 1,2),
           dets AS (SELECT l_partkey, l_suppkey, n, sy,
                   n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2m) + s2m*(s1*s12 - s11*s2m) AS det,
                   sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2) + s2m*(sy1*s12 - s11*sy2) AS detc,
                   n*(sy1*s22 - s12*sy2) - sy*(s1*s22 - s12*s2m) + s2m*(s1*sy2 - sy1*s2m) AS detp1,
                   n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2m) + sy*(s1*s12 - s11*s2m) AS detp2
                 FROM s),
           c2 AS (SELECT l_partkey, l_suppkey,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detc/det ELSE sy/n END)*1e4)/1e4 + 0.0e0) AS c,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp1/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p1,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp2/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p2
                 FROM dets),
           fit AS (SELECT t.l_partkey, t.l_suppkey, t.q,
                     (round((c2.c + c2.p1*t.l1 + c2.p2*t.l2)*1e4)/1e4 + 0.0e0) AS f
                   FROM t JOIN c2 ON t.l_partkey = c2.l_partkey
                     AND t.l_suppkey = c2.l_suppkey
                   WHERE t.l2 IS NOT NULL),
           sig AS (SELECT l_partkey, l_suppkey,
                     (round((CAST(sum(CAST(round((q - f)*(q - f)*1e8) AS BIGINT))
                               AS DOUBLE)/1e8/count(*))*1e4)/1e4 + 0.0e0) AS sg2
                   FROM fit GROUP BY 1,2),
           lv AS (SELECT l_partkey, l_suppkey,
                    max(CASE WHEN rd = 1 THEN q END) xn,
                    max(CASE WHEN rd = 2 THEN q END) xn1
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                          l_suppkey ORDER BY ws DESC) rd FROM w)
                  GROUP BY 1,2
                  HAVING max(CASE WHEN rd = 2 THEN q END) IS NOT NULL),
           base AS (SELECT lv.l_partkey, lv.l_suppkey, lv.xn, lv.xn1,
                      c2.c, c2.p1, c2.p2, sig.sg2
                    FROM lv JOIN c2 ON lv.l_partkey = c2.l_partkey
                      AND lv.l_suppkey = c2.l_suppkey
                      JOIN sig ON lv.l_partkey = sig.l_partkey
                      AND lv.l_suppkey = sig.l_suppkey),
           e AS (SELECT l_partkey, l_suppkey, 1 AS step,
                   (round((c + p1*xn + p2*xn1)*1e4)/1e4 + 0.0e0) AS f,
                   xn AS fprev,
                   1.0e0 AS psi, 0.0e0 AS psiprev, 1.0e0 AS cum2,
                   c, p1, p2, sg2
                 FROM base
                 UNION ALL
                 SELECT l_partkey, l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0),
                   f,
                   (round((p1*psi + p2*psiprev)*1e4)/1e4 + 0.0e0),
                   psi,
                   cum2 + (round((p1*psi + p2*psiprev)*1e4)/1e4 + 0.0e0)
                        * (round((p1*psi + p2*psiprev)*1e4)/1e4 + 0.0e0),
                   c, p1, p2, sg2
                 FROM e WHERE step < 4)
         SELECT l_partkey, l_suppkey, CAST(step AS BIGINT) AS step,
                f AS ar_forecast,
                (round((f - 1.959964e0*sqrt(sg2*cum2))*1e4)/1e4 + 0.0e0) AS ar_lo,
                (round((f + 1.959964e0*sqrt(sg2*cum2))*1e4)/1e4 + 0.0e0) AS ar_hi
         FROM e""",
    // the q249 recipe with LAG-13 SEASONAL differences; each step
    // integrates against its own observed base y_{n+s-13} (h ≤ m), so
    // there is no cumulative carry at all
    "q254_sari_forecast" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2),
           d0 AS (SELECT *, q - lag(q, 13) OVER (PARTITION BY l_suppkey
                    ORDER BY ws) AS dq
                  FROM w),
           d AS (SELECT l_suppkey, ws, dq FROM d0 WHERE dq IS NOT NULL),
           t AS (SELECT *,
                   lag(dq, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) l1,
                   lag(dq, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) l2
                 FROM d),
           s AS (SELECT l_suppkey,
                   CAST(count(*) AS DOUBLE) n,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) sy,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s1,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s2,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy1,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy2,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s11,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s22,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s12
                 FROM t WHERE l2 IS NOT NULL GROUP BY 1),
           dets AS (SELECT l_suppkey, n, sy,
                   n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
                   sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2) + s2*(sy1*s12 - s11*sy2) AS detc,
                   n*(sy1*s22 - s12*sy2) - sy*(s1*s22 - s12*s2) + s2*(s1*sy2 - sy1*s2) AS detp1,
                   n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2) + sy*(s1*s12 - s11*s2) AS detp2
                 FROM s),
           c2 AS (SELECT l_suppkey,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detc/det ELSE sy/n END)*1e4)/1e4 + 0.0e0) AS c,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp1/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p1,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp2/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p2
                 FROM dets),
           lv AS (SELECT l_suppkey,
                    max(CASE WHEN rd = 1 THEN dq END) xn,
                    max(CASE WHEN rd = 2 THEN dq END) xn1
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey ORDER BY ws DESC) rd FROM d)
                  GROUP BY 1
                  HAVING max(CASE WHEN rd = 2 THEN dq END) IS NOT NULL),
           bv AS (SELECT l_suppkey,
                    CAST(13 - rd + 1 AS BIGINT) AS step, q AS base
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey ORDER BY ws DESC) rd FROM w)
                  WHERE rd <= 13 AND rd > 9),
           base AS (SELECT lv.l_suppkey, lv.xn, lv.xn1,
                      c2.c, c2.p1, c2.p2
                    FROM lv JOIN c2 ON lv.l_suppkey = c2.l_suppkey),
           e AS (SELECT l_suppkey, 1 AS step,
                   (round((c + p1*xn + p2*xn1)*1e4)/1e4 + 0.0e0) AS f,
                   xn AS fprev, c, p1, p2
                 FROM base
                 UNION ALL
                 SELECT l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0),
                   f, c, p1, p2
                 FROM e WHERE step < 4)
         SELECT e.l_suppkey, CAST(e.step AS BIGINT) AS step,
                (round((bv.base + e.f)*1e4)/1e4 + 0.0e0) AS sari_forecast
         FROM e JOIN bv ON e.l_suppkey = bv.l_suppkey AND e.step = bv.step""",
    // the q217 recipe applied to FIRST DIFFERENCES, then integrated
    // back: cum carries the left-fold of the rounded diff forecasts so
    // both engines run the identical IEEE chain
    "q249_ari_forecast" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           d0 AS (SELECT *, q - lag(q, 1) OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY ws) AS dq
                  FROM w),
           d AS (SELECT l_partkey, l_suppkey, ws, dq FROM d0 WHERE dq IS NOT NULL),
           t AS (SELECT *,
                   lag(dq, 1) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l1,
                   lag(dq, 2) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY ws) l2
                 FROM d),
           s AS (SELECT l_partkey, l_suppkey,
                   CAST(count(*) AS DOUBLE) n,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) sy,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s1,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) s2,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy1,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) sy2,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l1*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s11,
                   (CAST(sum(CAST(round(l2*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s22,
                   (CAST(sum(CAST(round(l1*1e4) AS BIGINT)*CAST(round(l2*1e4) AS BIGINT)) AS DOUBLE)/1e8 + 0.0e0) s12
                 FROM t WHERE l2 IS NOT NULL GROUP BY 1,2),
           dets AS (SELECT l_partkey, l_suppkey, n, sy,
                   n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
                   sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2) + s2*(sy1*s12 - s11*sy2) AS detc,
                   n*(sy1*s22 - s12*sy2) - sy*(s1*s22 - s12*s2) + s2*(s1*sy2 - sy1*s2) AS detp1,
                   n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2) + sy*(s1*s12 - s11*s2) AS detp2
                 FROM s),
           c2 AS (SELECT l_partkey, l_suppkey,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detc/det ELSE sy/n END)*1e4)/1e4 + 0.0e0) AS c,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp1/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p1,
                   (round((CASE WHEN n >= 3 AND abs(det) >= 1e-8
                      THEN detp2/det ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS p2
                 FROM dets),
           lv AS (SELECT l_partkey, l_suppkey,
                    max(CASE WHEN rd = 1 THEN dq END) xn,
                    max(CASE WHEN rd = 2 THEN dq END) xn1
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                          l_suppkey ORDER BY ws DESC) rd FROM d)
                  GROUP BY 1,2
                  HAVING max(CASE WHEN rd = 2 THEN dq END) IS NOT NULL),
           yl AS (SELECT l_partkey, l_suppkey,
                    max(CASE WHEN rd = 1 THEN q END) yn
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                          l_suppkey ORDER BY ws DESC) rd FROM w)
                  GROUP BY 1,2),
           base AS (SELECT lv.l_partkey, lv.l_suppkey, lv.xn, lv.xn1,
                      c2.c, c2.p1, c2.p2, yl.yn
                    FROM lv JOIN c2 ON lv.l_partkey = c2.l_partkey
                      AND lv.l_suppkey = c2.l_suppkey
                      JOIN yl ON lv.l_partkey = yl.l_partkey
                      AND lv.l_suppkey = yl.l_suppkey),
           e AS (SELECT l_partkey, l_suppkey, 1 AS step,
                   (round((c + p1*xn + p2*xn1)*1e4)/1e4 + 0.0e0) AS f,
                   xn AS fprev, c, p1, p2, yn,
                   (round((c + p1*xn + p2*xn1)*1e4)/1e4 + 0.0e0) AS cum
                 FROM base
                 UNION ALL
                 SELECT l_partkey, l_suppkey, step + 1,
                   (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0),
                   f, c, p1, p2, yn,
                   cum + (round((c + p1*f + p2*fprev)*1e4)/1e4 + 0.0e0)
                 FROM e WHERE step < 4)
         SELECT l_partkey, l_suppkey, CAST(step AS BIGINT) AS step,
                (round((yn + cum)*1e4)/1e4 + 0.0e0) AS ari_forecast
         FROM e""",
    // the q253 recipe over the (φ, θ) PAIR grid: the previous centered
    // value rides the recursion next to the innovation, ε_1 conditioned
    // to 0; (sse, φ, θ)-smallest pick on the identical IEEE chains
    "q255_arma_fit" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           m AS (SELECT l_partkey, l_suppkey,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM w GROUP BY 1,2),
           t AS (SELECT w.l_partkey, w.l_suppkey, w.ws,
                   w.q - m.mu AS xc,
                   row_number() OVER (PARTITION BY w.l_partkey, w.l_suppkey
                     ORDER BY w.ws) rn
                 FROM w JOIN m ON w.l_partkey = m.l_partkey
                   AND w.l_suppkey = m.l_suppkey),
           g AS (SELECT p.phi, th.theta
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi) p
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta) th),
           e AS (SELECT t.l_partkey, t.l_suppkey, g.phi, g.theta, t.rn,
                   t.xc AS xcprev, 0.0e0 AS e, 0.0e0 AS sse
                 FROM t CROSS JOIN g WHERE t.rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, e.phi, e.theta, t.rn, t.xc,
                   t.xc - e.phi*e.xcprev - e.theta*e.e,
                   e.sse + (t.xc - e.phi*e.xcprev - e.theta*e.e)
                         * (t.xc - e.phi*e.xcprev - e.theta*e.e)
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           last AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey, phi, theta ORDER BY rn DESC) rd FROM e),
           fin AS (SELECT l_partkey, l_suppkey, phi, theta, sse
                   FROM last WHERE rd = 1),
           pick AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey ORDER BY sse, phi, theta) rn2 FROM fin)
         SELECT l_partkey, l_suppkey, phi AS arma_phi, theta AS arma_theta,
                (round(sse*1e4)/1e4 + 0.0e0) AS arma_sse
         FROM pick WHERE rn2 = 1""",
    // the q255 recipe + the winner's forecast state (final innovation,
    // final centered value, mu) driven through the h-step recursion
    // f_1 = mu + phi*xc_n + theta*eps_n; f_s = mu + phi*(f_{s-1} - mu)
    "q257_arma_forecast" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           m AS (SELECT l_partkey, l_suppkey,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM w GROUP BY 1,2),
           t AS (SELECT w.l_partkey, w.l_suppkey, w.ws,
                   w.q - m.mu AS xc,
                   row_number() OVER (PARTITION BY w.l_partkey, w.l_suppkey
                     ORDER BY w.ws) rn
                 FROM w JOIN m ON w.l_partkey = m.l_partkey
                   AND w.l_suppkey = m.l_suppkey),
           g AS (SELECT p.phi, th.theta
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi) p
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta) th),
           e AS (SELECT t.l_partkey, t.l_suppkey, g.phi, g.theta, t.rn,
                   t.xc AS xcprev, 0.0e0 AS e, 0.0e0 AS sse
                 FROM t CROSS JOIN g WHERE t.rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, e.phi, e.theta, t.rn, t.xc,
                   t.xc - e.phi*e.xcprev - e.theta*e.e,
                   e.sse + (t.xc - e.phi*e.xcprev - e.theta*e.e)
                         * (t.xc - e.phi*e.xcprev - e.theta*e.e)
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           last AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey, phi, theta ORDER BY rn DESC) rd FROM e),
           fin AS (SELECT l_partkey, l_suppkey, phi, theta, sse,
                     e AS eps, xcprev AS xcl
                   FROM last WHERE rd = 1),
           pick AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey ORDER BY sse, phi, theta) rn2 FROM fin),
           win AS (SELECT p.l_partkey, p.l_suppkey, p.phi, p.theta,
                     p.eps, p.xcl, m.mu
                   FROM pick p JOIN m ON p.l_partkey = m.l_partkey
                     AND p.l_suppkey = m.l_suppkey
                   WHERE p.rn2 = 1),
           f AS (SELECT l_partkey, l_suppkey, 1 AS step,
                   (round((mu + phi*xcl + theta*eps)*1e4)/1e4 + 0.0e0) AS fc,
                   mu, phi
                 FROM win
                 UNION ALL
                 SELECT l_partkey, l_suppkey, step + 1,
                   (round((mu + phi*(fc - mu))*1e4)/1e4 + 0.0e0), mu, phi
                 FROM f WHERE step < 4)
         SELECT l_partkey, l_suppkey, CAST(step AS BIGINT) AS step,
                fc AS arma_forecast
         FROM f""",
    // q257's fit+forecast applied to FIRST DIFFERENCES, each step's
    // cumulative rounded diff carried through the recursion and
    // integrated from the last observed level (the q249 machinery)
    "q258_arima111" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           d0 AS (SELECT *, q - lag(q, 1) OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY ws) AS dq
                  FROM w),
           d AS (SELECT l_partkey, l_suppkey, ws, dq FROM d0 WHERE dq IS NOT NULL),
           m AS (SELECT l_partkey, l_suppkey,
                   (CAST(sum(CAST(round(dq*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM d GROUP BY 1,2),
           t AS (SELECT d.l_partkey, d.l_suppkey, d.ws,
                   d.dq - m.mu AS xc,
                   row_number() OVER (PARTITION BY d.l_partkey, d.l_suppkey
                     ORDER BY d.ws) rn
                 FROM d JOIN m ON d.l_partkey = m.l_partkey
                   AND d.l_suppkey = m.l_suppkey),
           g AS (SELECT p.phi, th.theta
                 FROM (SELECT unnest([-0.5e0,0.0e0,0.5e0,0.9e0]) AS phi) p
                 CROSS JOIN (SELECT unnest([-0.4e0,0.0e0,0.4e0]) AS theta) th),
           e AS (SELECT t.l_partkey, t.l_suppkey, g.phi, g.theta, t.rn,
                   t.xc AS xcprev, 0.0e0 AS e, 0.0e0 AS sse
                 FROM t CROSS JOIN g WHERE t.rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, e.phi, e.theta, t.rn, t.xc,
                   t.xc - e.phi*e.xcprev - e.theta*e.e,
                   e.sse + (t.xc - e.phi*e.xcprev - e.theta*e.e)
                         * (t.xc - e.phi*e.xcprev - e.theta*e.e)
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           last AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey, phi, theta ORDER BY rn DESC) rd FROM e),
           fin AS (SELECT l_partkey, l_suppkey, phi, theta, sse,
                     e AS eps, xcprev AS xcl
                   FROM last WHERE rd = 1),
           pick AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey ORDER BY sse, phi, theta) rn2 FROM fin),
           yl AS (SELECT l_partkey, l_suppkey,
                    max(CASE WHEN rd = 1 THEN q END) yn
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                          l_suppkey ORDER BY ws DESC) rd FROM w)
                  GROUP BY 1,2),
           win AS (SELECT p.l_partkey, p.l_suppkey, p.phi, p.theta,
                     p.eps, p.xcl, m.mu, yl.yn
                   FROM pick p JOIN m ON p.l_partkey = m.l_partkey
                     AND p.l_suppkey = m.l_suppkey
                   JOIN yl ON p.l_partkey = yl.l_partkey
                     AND p.l_suppkey = yl.l_suppkey
                   WHERE p.rn2 = 1),
           f AS (SELECT l_partkey, l_suppkey, 1 AS step,
                   (round((mu + phi*xcl + theta*eps)*1e4)/1e4 + 0.0e0) AS fc,
                   mu, phi, yn,
                   (round((mu + phi*xcl + theta*eps)*1e4)/1e4 + 0.0e0) AS cum
                 FROM win
                 UNION ALL
                 SELECT l_partkey, l_suppkey, step + 1,
                   (round((mu + phi*(fc - mu))*1e4)/1e4 + 0.0e0), mu, phi, yn,
                   cum + (round((mu + phi*(fc - mu))*1e4)/1e4 + 0.0e0)
                 FROM f WHERE step < 4)
         SELECT l_partkey, l_suppkey, CAST(step AS BIGINT) AS step,
                (round((yn + cum)*1e4)/1e4 + 0.0e0) AS arima_forecast
         FROM f""",
    // the q250 recursion carried PER GRID θ in one recursive CTE (theta
    // rides the recursion as a column); last row per (series, θ), then
    // the (sse, θ)-smallest pick — raw-double ordering is safe because
    // both engines fold the identical IEEE chain
    "q253_ma1_fit" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           m AS (SELECT l_partkey, l_suppkey,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM w GROUP BY 1,2),
           t AS (SELECT w.l_partkey, w.l_suppkey, w.ws,
                   w.q - m.mu AS xc,
                   row_number() OVER (PARTITION BY w.l_partkey, w.l_suppkey
                     ORDER BY w.ws) rn
                 FROM w JOIN m ON w.l_partkey = m.l_partkey
                   AND w.l_suppkey = m.l_suppkey),
           g AS (SELECT unnest([-0.8e0,-0.4e0,0.0e0,0.4e0,0.8e0]) AS theta),
           e AS (SELECT t.l_partkey, t.l_suppkey, g.theta, t.rn,
                   t.xc - g.theta*0.0e0 AS e,
                   0.0e0 + (t.xc - g.theta*0.0e0)*(t.xc - g.theta*0.0e0) AS sse
                 FROM t CROSS JOIN g WHERE t.rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, e.theta, t.rn,
                   t.xc - e.theta*e.e,
                   e.sse + (t.xc - e.theta*e.e)*(t.xc - e.theta*e.e)
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           last AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey, theta ORDER BY rn DESC) rd FROM e),
           fin AS (SELECT l_partkey, l_suppkey, theta, sse
                   FROM last WHERE rd = 1),
           pick AS (SELECT *, row_number() OVER (PARTITION BY l_partkey,
                      l_suppkey ORDER BY sse, theta) rn2 FROM fin)
         SELECT l_partkey, l_suppkey, theta AS ma1_theta,
                (round(sse*1e4)/1e4 + 0.0e0) AS ma1_sse
         FROM pick WHERE rn2 = 1""",
    // MA(1) innovation filter: e_t = (x_t − μ) − θ·e_{t−1}, μ the
    // rounded per-series mean; fitted = x_t − e_t (same op order as
    // the engine's streaming fold)
    "q250_ma1" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           m AS (SELECT l_partkey, l_suppkey,
                   (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM w GROUP BY 1,2),
           t AS (SELECT w.l_partkey, w.l_suppkey, w.ws, w.q,
                   w.q - m.mu AS xc,
                   row_number() OVER (PARTITION BY w.l_partkey, w.l_suppkey
                     ORDER BY w.ws) rn
                 FROM w JOIN m ON w.l_partkey = m.l_partkey
                   AND w.l_suppkey = m.l_suppkey),
           e AS (SELECT l_partkey, l_suppkey, ws, rn, q, xc AS e
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.q,
                   t.xc - 0.4e0*e.e
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(e*1e4)/1e4 + 0.0e0) AS ma1_resid,
                (round((q - e)*1e4)/1e4 + 0.0e0) AS ma1_fitted
         FROM e""",
    "q256_theta_forecast" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t0 AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY ws) rn FROM w),
           s AS (SELECT l_partkey, l_suppkey,
                   count(*) AS n,
                   sum(rn) AS st,
                   sum(CAST(round(q*1e4) AS BIGINT)) AS sxm,
                   sum(rn*rn) AS stt,
                   sum(rn*CAST(round(q*1e4) AS BIGINT)) AS stxm
                 FROM t0 GROUP BY 1,2),
           c AS (SELECT l_partkey, l_suppkey,
                   (round((CASE WHEN n > 1
                      THEN CAST(n*stxm - st*sxm AS DOUBLE)/1e4
                           /CAST(n*stt - st*st AS DOUBLE)
                      ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS b,
                   n, st, sxm
                 FROM s),
           c2 AS (SELECT l_partkey, l_suppkey, b,
                    (round(((CAST(sxm AS DOUBLE)/1e4 - b*CAST(st AS DOUBLE))
                            /CAST(n AS DOUBLE))*1e4)/1e4 + 0.0e0) AS a
                  FROM c),
           t AS (SELECT t0.l_partkey, t0.l_suppkey, t0.ws, t0.rn, t0.q,
                   c2.a, c2.b,
                   (round((2e0*t0.q - (c2.a + c2.b*CAST(t0.rn AS DOUBLE)))*1e4)/1e4 + 0.0e0) AS z
                 FROM t0 JOIN c2 USING (l_partkey, l_suppkey)),
           e AS (SELECT l_partkey, l_suppkey, ws, rn, a, b, z AS y
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.a, t.b,
                   0.3e0*t.z + (1e0-0.3e0)*e.y
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1),
           last AS (SELECT l_partkey, l_suppkey, a, b, y, rn
                    FROM (SELECT e.*, row_number() OVER (PARTITION BY l_partkey,
                            l_suppkey ORDER BY rn DESC) rd FROM e)
                    WHERE rd = 1)
         SELECT l_partkey, l_suppkey, CAST(s.step AS BIGINT) AS step,
                (round((0.5e0*(a + b*CAST(rn + s.step AS DOUBLE)) + 0.5e0*y)*1e4)/1e4 + 0.0e0)
                  AS theta_forecast
         FROM last CROSS JOIN (SELECT unnest([1,2,3,4]) AS step) s""",
    "q213_theta" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t0 AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY ws) rn FROM w),
           s AS (SELECT l_partkey, l_suppkey,
                   count(*) AS n,
                   sum(rn) AS st,
                   sum(CAST(round(q*1e4) AS BIGINT)) AS sxm,
                   sum(rn*rn) AS stt,
                   sum(rn*CAST(round(q*1e4) AS BIGINT)) AS stxm
                 FROM t0 GROUP BY 1,2),
           c AS (SELECT l_partkey, l_suppkey,
                   (round((CASE WHEN n > 1
                      THEN CAST(n*stxm - st*sxm AS DOUBLE)/1e4
                           /CAST(n*stt - st*st AS DOUBLE)
                      ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS b,
                   n, st, sxm
                 FROM s),
           c2 AS (SELECT l_partkey, l_suppkey, b,
                    (round(((CAST(sxm AS DOUBLE)/1e4 - b*CAST(st AS DOUBLE))
                            /CAST(n AS DOUBLE))*1e4)/1e4 + 0.0e0) AS a
                  FROM c),
           t AS (SELECT t0.l_partkey, t0.l_suppkey, t0.ws, t0.rn, t0.q,
                   c2.a, c2.b,
                   (round((2e0*t0.q - (c2.a + c2.b*CAST(t0.rn AS DOUBLE)))*1e4)/1e4 + 0.0e0) AS z
                 FROM t0 JOIN c2 USING (l_partkey, l_suppkey)),
           e AS (SELECT l_partkey, l_suppkey, ws, rn, a, b, z AS y
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.a, t.b,
                   0.3e0*t.z + (1e0-0.3e0)*e.y
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                a AS theta_a, b AS theta_b,
                (round((0.5e0*(a + b*CAST(rn AS DOUBLE)) + 0.5e0*y)*1e4)/1e4 + 0.0e0)
                  AS theta_fitted
         FROM e""",
    "q209_ewm_var" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (SELECT l_partkey, l_suppkey, ws, rn, q AS m, 0.0e0 AS v
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn,
                   (1e0-0.3e0)*e.m + 0.3e0*t.q,
                   (1e0-0.3e0)*(e.v + 0.3e0*(t.q - e.m)*(t.q - e.m))
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(m*1e4)/1e4 + 0.0e0) AS ewm_mean,
                (round(v*1e4)/1e4 + 0.0e0) AS ewm_var
         FROM e""",
    "q74_holt" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (
             SELECT l_partkey, l_suppkey, ws, rn, q,
               q AS lvl, CAST(NULL AS DOUBLE) AS tr, q AS lastx
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.q,
               0.3e0*t.q + (1e0-0.3e0)*e.lvl,
               CASE WHEN e.tr IS NULL THEN t.q - e.lastx
                    ELSE 0.1e0*(t.q - e.lastx) + (1e0-0.1e0)*e.tr END,
               t.q
             FROM t JOIN e ON t.l_partkey = e.l_partkey
               AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(lvl*1e4)/1e4 + 0.0e0) AS holt_level, (round(tr*1e4)/1e4 + 0.0e0) AS holt_trend
         FROM e""",
    "q76_tsb" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey,
                   sum(CASE WHEN l_discount > 0 THEN l_quantity ELSE 0.0 END) dq
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (
             SELECT l_partkey, l_suppkey, ws, rn, dq,
               CASE WHEN dq > 0 THEN 1.0e0 ELSE 0.0e0 END b,
               CASE WHEN dq > 0 THEN dq ELSE 0.0e0 END z
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn, t.dq,
               0.1e0*(CASE WHEN t.dq > 0 THEN 1.0e0 ELSE 0.0e0 END) + (1e0-0.1e0)*e.b,
               CASE WHEN t.dq > 0 THEN 0.2e0*t.dq + (1e0-0.2e0)*e.z ELSE e.z END
             FROM t JOIN e ON t.l_partkey = e.l_partkey
               AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(b*z*1e4)/1e4 + 0.0e0) AS tsb_forecast
         FROM e""",
    "q108_weighted_wmape" ->
      """WITH t AS (SELECT l_returnflag, l_quantity a, l_extendedprice w,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p FROM lineitem)
         SELECT l_returnflag,
                (round(sum(abs(a-p)*w)/(sum(abs(a)*w) + 1e-8)*100*1e4)/1e4 + 0.0e0)
                  AS weighted_wmape,
                count(*) AS n_rows
         FROM t GROUP BY 1""",
    "q109_dedup_pipeline" ->
      """WITH RECURSIVE
           ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(
                    CASE WHEN len(w) >= 3
                      THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w)-1)]
                      ELSE [array_to_string(w, ' ')] END)) sh FROM ws),
           sz AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
           inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) nc
                     FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                     GROUP BY 1,2),
           pairs AS (SELECT id_a, id_b FROM inter
                     JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
                     WHERE nc/(sa.sz + sb.sz - nc) >= 0.8),
           bid AS (SELECT id_a a, id_b b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
           reach AS (SELECT a, b FROM bid
                     UNION
                     SELECT r.a, p.b FROM reach r JOIN bid p ON r.b = p.a
                     WHERE p.b <> r.a),
           comp AS (SELECT a doc, least(a, min(b)) cid FROM reach GROUP BY a)
         SELECT lang, count(*) AS n_survivors
         FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc
         WHERE comp.doc IS NULL OR comp.cid = d.doc_id
         GROUP BY 1""",
    "q205_dedup_keep_best" ->
      """WITH RECURSIVE
           ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(
                    CASE WHEN len(w) >= 3
                      THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w)-1)]
                      ELSE [array_to_string(w, ' ')] END)) sh FROM ws),
           sz AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
           inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) nc
                     FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                     GROUP BY 1,2),
           pairs AS (SELECT id_a, id_b FROM inter
                     JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
                     WHERE nc/(sa.sz + sb.sz - nc) >= 0.8),
           bid AS (SELECT id_a a, id_b b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
           reach AS (SELECT a, b FROM bid
                     UNION
                     SELECT r.a, p.b FROM reach r JOIN bid p ON r.b = p.a
                     WHERE p.b <> r.a),
           comp AS (SELECT a doc, least(a, min(b)) cid FROM reach GROUP BY a),
           cl AS (SELECT d.doc_id, d.lang, d.n_chars,
                    coalesce(comp.cid, d.doc_id) AS cid
                  FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc),
           rk AS (SELECT *, row_number() OVER (PARTITION BY cid
                    ORDER BY n_chars DESC, doc_id ASC) rn FROM cl)
         SELECT doc_id, lang, n_chars FROM rk WHERE rn = 1""",
    "q112_cooccurrence_fp" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) n FROM items),
              ic AS (SELECT l_partkey item, count(DISTINCT l_orderkey) n FROM items GROUP BY 1),
              pairs AS (SELECT a.l_partkey item_a, b.l_partkey item_b, count(*) pair_count
                        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
                        GROUP BY 1,2 HAVING count(*) >= 3)
         SELECT item_a, item_b, pair_count, ia.n AS n_a, ib.n AS n_b,
                (round(((pair_count/nb.n)/((ia.n/nb.n)*(ib.n/nb.n)))*1e4)/1e4 + 0.0e0) AS lift
         FROM pairs, nb, ic ia, ic ib
         WHERE item_a = ia.item AND item_b = ib.item""",
    "q110_feature_store" ->
      """WITH weekly AS (
           SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                  l_partkey, l_suppkey, sum(l_quantity) AS qty_sum
           FROM lineitem GROUP BY 1,2,3),
         key_agg AS (
           SELECT l_partkey, l_suppkey,
                  sum(qty_sum) AS key_sum,
                  count(*) AS key_n_weeks,
                  avg(CASE WHEN qty_sum > 0 THEN 1.0e0 ELSE 0.0e0 END) AS key_nonzero_ratio
           FROM weekly GROUP BY 1,2),
         feat AS (
           SELECT week_start, l_partkey, l_suppkey, qty_sum,
                  lag(qty_sum, 1) OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY week_start) AS lag_1,
                  qty_sum - lag(qty_sum, 2) OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY week_start) AS delta_2,
                  avg(qty_sum) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY week_start
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll4_mean,
                  stddev(qty_sum) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY week_start
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll4_std,
                  qty_sum/(lag(qty_sum, 1) OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY week_start) + 1e-8) - 1 AS momentum_1,
                  percent_rank() OVER (PARTITION BY l_partkey, l_suppkey
                    ORDER BY qty_sum, week_start) AS pct_rank_in_key,
                  CAST(date_diff('day',
                    min(week_start) OVER (PARTITION BY l_partkey, l_suppkey),
                    week_start)/7 AS BIGINT) AS age_weeks,
                  sin(month(week_start) * 2*pi()/12) AS month_sin,
                  CAST(sum(CASE WHEN qty_sum > 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY l_partkey, l_suppkey ORDER BY week_start
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS nonzero_last_4
           FROM weekly)
         SELECT f.week_start, f.l_partkey, f.l_suppkey,
                (round(f.lag_1*1e4)/1e4 + 0.0e0) AS lag_1,
                (round(f.delta_2*1e4)/1e4 + 0.0e0) AS delta_2,
                (round(f.roll4_mean*1e4)/1e4 + 0.0e0) AS roll4_mean,
                (round(f.roll4_std*1e4)/1e4 + 0.0e0) AS roll4_std,
                (round(f.momentum_1*1e4)/1e4 + 0.0e0) AS momentum_1,
                (round(f.pct_rank_in_key*1e4)/1e4 + 0.0e0) AS pct_rank_in_key,
                f.age_weeks,
                (round((f.month_sin)*1e4)/1e4 + 0.0e0) AS month_sin,
                (round((f.qty_sum/(k.key_sum + 1e-8))*1e4)/1e4 + 0.0e0) AS share_of_key,
                (round((k.key_n_weeks/(k.key_nonzero_ratio*k.key_n_weeks + 1e-8))*1e4)/1e4 + 0.0e0) AS adi,
                f.nonzero_last_4
         FROM feat f JOIN key_agg k USING (l_partkey, l_suppkey)""",
    "q111_residual_diag" ->
      """WITH scored AS (
           SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber, l_quantity,
                  (round((avg(l_quantity) OVER (PARTITION BY l_partkey))*1e4)/1e4 + 0.0e0) AS fitted,
                  (round((l_quantity - avg(l_quantity) OVER (PARTITION BY l_partkey))*1e4)/1e4 + 0.0e0) AS resid
           FROM lineitem),
         stats AS (
           SELECT l_returnflag,
                  (round((avg(resid))*1e4)/1e4 + 0.0e0) AS rmean,
                  median(resid) AS rmedian
           FROM scored GROUP BY 1),
         lagged AS (
           SELECT s.l_returnflag, t.rmean, s.fitted, s.resid,
                  s.resid - t.rmean AS c,
                  lag(s.resid - t.rmean, 1) OVER w AS c1,
                  lag(s.resid - t.rmean, 2) OVER w AS c2,
                  lag(s.resid - t.rmean, 3) OVER w AS c3,
                  CASE WHEN s.resid > t.rmedian THEN 1 ELSE 0 END AS bin,
                  lag(CASE WHEN s.resid > t.rmedian THEN 1 ELSE 0 END, 1) OVER w AS binprev
           FROM scored s JOIN stats t USING (l_returnflag)
           WINDOW w AS (PARTITION BY s.l_returnflag
                        ORDER BY s.l_shipdate, s.l_orderkey, s.l_linenumber, s.l_quantity)),
         agg AS (
           SELECT l_returnflag,
                  count(*) AS n,
                  min(rmean) AS resid_mean,
                  sum(c*c) AS ss,
                  sum(CASE WHEN c1 IS NOT NULL THEN c*c1 ELSE 0.0e0 END) AS s1,
                  sum(CASE WHEN c2 IS NOT NULL THEN c*c2 ELSE 0.0e0 END) AS s2,
                  sum(CASE WHEN c3 IS NOT NULL THEN c*c3 ELSE 0.0e0 END) AS s3,
                  CAST(sum(CASE WHEN binprev IS NOT NULL AND bin <> binprev THEN 1 ELSE 0 END) AS BIGINT) AS changes,
                  CAST(sum(bin) AS BIGINT) AS n_above,
                  corr(fitted, resid*resid) AS bp
           FROM lagged GROUP BY 1),
         derived AS (
           SELECT l_returnflag, n, resid_mean,
                  (round(((round(s1*1e4)/1e4 + 0.0e0)/(round(ss*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) AS acf1,
                  (round(((round(s2*1e4)/1e4 + 0.0e0)/(round(ss*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) AS acf2,
                  (round(((round(s3*1e4)/1e4 + 0.0e0)/(round(ss*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) AS acf3,
                  changes + 1 AS runs, n_above,
                  CAST(n AS DOUBLE) AS nd,
                  CAST(n_above AS DOUBLE) AS n1d,
                  CAST(n - n_above AS DOUBLE) AS n2d,
                  (round(bp*1e4)/1e4 + 0.0e0) AS bp_corr
           FROM agg)
         SELECT l_returnflag, n, resid_mean, acf1, acf2, acf3,
                (round((n*(n+2)*(pow(acf1,2)/(n-1) + pow(acf2,2)/(n-2) + pow(acf3,2)/(n-3)))*1e4)/1e4 + 0.0e0) AS lb_q,
                runs, n_above,
                (round((CASE WHEN (2.0e0*n1d*n2d*(2.0e0*n1d*n2d - nd))/(nd*nd*(nd-1.0e0)) > 0
                   THEN (runs - (2.0e0*n1d*n2d/nd + 1.0e0))
                        / sqrt((2.0e0*n1d*n2d*(2.0e0*n1d*n2d - nd))/(nd*nd*(nd-1.0e0)))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS runs_z,
                bp_corr,
                CASE WHEN abs(bp_corr) < 1
                  THEN (round((bp_corr * sqrt((n-2)/(1.0e0 - pow(bp_corr,2))))*1e4)/1e4 + 0.0e0)
                END AS bp_t
         FROM derived""",
    "q113_fingerprint_poly" ->
      """SELECT doc_id, list_min([
           list_reduce([ord(text[i+j:i+j])::BIGINT FOR j IN range(0,8)],
                       (a,x) -> (a*31+x) % 1000000007)
           FOR i IN range(1, greatest(len(text)-7, 1)+1)]) AS fp
         FROM documents""",
    "q114_det_sample" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem
         WHERE ((l_orderkey % 2147483647) * 48271 % 2147483647)
                * 48271 % 2147483647 * 48271 % 2147483647 < 214748364
         GROUP BY 1""",
    "q115_bucket_poly" ->
      """SELECT list_reduce([ord(p_brand[i:i])::BIGINT FOR i IN range(1, len(p_brand)+1)],
                            (a,x) -> (a*31+x) % 1000000007) % 16 AS bucket,
                count(*) AS n_rows
         FROM part GROUP BY 1""",
    "q116_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_us
           FROM events),
         s AS (
           SELECT user_id, value, us,
                  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
                min(us) AS start_us, max(us) AS end_us,
                (max(us) - min(us)) // 1000000 AS dur_sec,
                (round((sum(value))*1e4)/1e4 + 0.0e0) AS value_sum
         FROM s GROUP BY 1,2""",
    "q117_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1,2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         SELECT doc_id, term, tf, df,
                (round((tf * ln((n_docs+1.0e0)/(df+1.0e0)))*1e4)/1e4 + 0.0e0) AS tfidf,
                rank
         FROM (SELECT doc_id, term, tf, df, n_docs,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY (round((tf * ln((n_docs+1.0e0)/(df+1.0e0)))*1e4)/1e4 + 0.0e0) DESC,
                                 term ASC) AS rank
               FROM tf JOIN df USING (term) CROSS JOIN n)
         WHERE rank <= 3""",
    "q118_asof" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
                epoch_us(c.ts) AS click_us, c.event_id AS click_id,
                (round((c.value)*1e4)/1e4 + 0.0e0) AS click_value
         FROM (SELECT * FROM events WHERE event_type='purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q119_range_band" ->
      """WITH bands AS (SELECT i AS tier, i*5000.0e0 AS lo, (i+1)*5000.0e0 AS hi
                        FROM range(0,22) t(i))
         SELECT tier, count(*) AS n_rows,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
         GROUP BY 1""",
    // KMV overlap: the q285 Lehmer/k-min pipeline per flag, pair
    // merge via list concat+sort+slice, support/intersection counts,
    // (k-1)M/h_k union estimator, J*U intersection estimate
    "q322_kmv_overlap" ->
      """WITH h AS (SELECT l_returnflag,
                      ((((l_partkey % 2147483647)*48271 % 2147483647)
                        *48271 % 2147483647)*48271 % 2147483647) AS hv
                    FROM lineitem),
         sk AS (SELECT l_returnflag AS key,
                  list_sort(list(DISTINCT hv))[1:32] AS kmv
                FROM h GROUP BY 1),
         p AS (SELECT a.key AS key_a, b.key AS key_b, a.kmv AS ka, b.kmv AS kb
               FROM sk a JOIN sk b ON a.key < b.key),
         c AS (SELECT *, list_sort(list_distinct(ka || kb))[1:32] AS merged
               FROM p),
         e AS (SELECT *, len(merged) AS support,
                len(list_filter(merged, x -> list_contains(ka, x)
                    AND list_contains(kb, x))) AS inter
               FROM c)
         SELECT key_a, key_b,
                CAST(support AS BIGINT) AS n_support,
                CAST(inter AS BIGINT) AS n_both,
                (round((CASE WHEN support < 32 THEN CAST(support AS DOUBLE)
                   ELSE 31.0e0*2147483647.0e0/CAST(merged[32] AS DOUBLE) END)*1e4)/1e4 + 0.0e0) AS est_union,
                (round((CAST(inter AS DOUBLE)/support)*1e4)/1e4 + 0.0e0) AS est_jaccard,
                (round(((CAST(inter AS DOUBLE)/support)
                   * (CASE WHEN support < 32 THEN CAST(support AS DOUBLE)
                      ELSE 31.0e0*2147483647.0e0/CAST(merged[32] AS DOUBLE) END))*1e4)/1e4 + 0.0e0) AS est_intersection
         FROM e""",
    // CCF: micro-int centered series, +-3 shifted copies of y in one
    // window pass, HUGEINT product sums, guarded sqrt denominator
    "q321_ccf" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws,
                     l_suppkey, sum(l_quantity) qx,
                     sum(l_extendedprice*(1-l_discount)) qy
                    FROM lineitem GROUP BY 1,2),
         mu AS (SELECT l_suppkey,
                 (CAST(sum(CAST(round(qx*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) mx,
                 (CAST(sum(CAST(round(qy*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) my
                FROM w GROUP BY 1),
         t AS (SELECT w.l_suppkey, w.ws,
                CAST(round((w.qx - mu.mx)*1e4) AS BIGINT) xi,
                CAST(round((w.qy - mu.my)*1e4) AS BIGINT) yi
               FROM w JOIN mu USING (l_suppkey)),
         s AS (SELECT *,
                lag(yi, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) yb1,
                lag(yi, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) yb2,
                lag(yi, 3) OVER (PARTITION BY l_suppkey ORDER BY ws) yb3,
                lead(yi, 1) OVER (PARTITION BY l_suppkey ORDER BY ws) yf1,
                lead(yi, 2) OVER (PARTITION BY l_suppkey ORDER BY ws) yf2,
                lead(yi, 3) OVER (PARTITION BY l_suppkey ORDER BY ws) yf3
               FROM t),
         g AS (SELECT l_suppkey, CAST(count(*) AS DOUBLE) n,
                (CAST(sum(CAST(xi AS HUGEINT)*xi) AS DOUBLE)/1e8 + 0.0e0) sxx,
                (CAST(sum(CAST(yi AS HUGEINT)*yi) AS DOUBLE)/1e8 + 0.0e0) syy,
                (CAST(sum(CAST(xi AS HUGEINT)*yi) AS DOUBLE)/1e8 + 0.0e0) s0,
                (CAST(sum(CAST(xi AS HUGEINT)*yb1) AS DOUBLE)/1e8 + 0.0e0) sp1,
                (CAST(sum(CAST(xi AS HUGEINT)*yb2) AS DOUBLE)/1e8 + 0.0e0) sp2,
                (CAST(sum(CAST(xi AS HUGEINT)*yb3) AS DOUBLE)/1e8 + 0.0e0) sp3,
                (CAST(sum(CAST(xi AS HUGEINT)*yf1) AS DOUBLE)/1e8 + 0.0e0) sn1,
                (CAST(sum(CAST(xi AS HUGEINT)*yf2) AS DOUBLE)/1e8 + 0.0e0) sn2,
                (CAST(sum(CAST(xi AS HUGEINT)*yf3) AS DOUBLE)/1e8 + 0.0e0) sn3
               FROM s GROUP BY 1 HAVING count(*) >= 5),
         lagt AS (SELECT unnest([-3,-2,-1,0,1,2,3]) AS lag)
         SELECT g.l_suppkey, g.n AS n_obs, CAST(l.lag AS BIGINT) AS lag,
                (round((CASE WHEN g.sxx/g.n >= 1e-8 AND g.syy/g.n >= 1e-8 THEN
                   (CASE l.lag WHEN 0 THEN g.s0 WHEN 1 THEN g.sp1
                               WHEN 2 THEN g.sp2 WHEN 3 THEN g.sp3
                               WHEN -1 THEN g.sn1 WHEN -2 THEN g.sn2
                               ELSE g.sn3 END / g.n)
                   / sqrt((g.sxx/g.n)*(g.syy/g.n))
                 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS ccf
         FROM g CROSS JOIN lagt l""",
    // Mann-Kendall: pairwise sign sum (exact BIGINT), tie-corrected
    // variance from the y-group sizes (integer-valued doubles — exact
    // in any order), continuity-corrected z, tau-a
    "q325_partialed_rolling" ->
      """WITH partials AS (
           SELECT l_suppkey,
                  CAST(floor((CAST(l_shipdate AS DATE) - DATE '1992-01-01')/7) AS BIGINT) AS bucket,
                  CAST(sum(CAST(round(l_quantity*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS psum,
                  count(l_quantity) AS pcnt,
                  min(l_quantity) AS pmin,
                  max(l_quantity) AS pmax
           FROM lineitem GROUP BY 1, 2)
         SELECT l_suppkey, bucket,
                (round((sum(psum) OVER w)*1e4)/1e4 + 0.0e0) AS roll_sum,
                CAST(sum(pcnt) OVER w AS BIGINT) AS roll_cnt,
                (round(((round((sum(psum) OVER w)*1e4)/1e4 + 0.0e0)/CAST(sum(pcnt) OVER w AS BIGINT))*1e4)/1e4 + 0.0e0) AS roll_avg,
                min(pmin) OVER w AS roll_min,
                max(pmax) OVER w AS roll_max
         FROM partials
         WINDOW w AS (PARTITION BY l_suppkey ORDER BY bucket
                      RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)""",
    "q323_jarque_bera" ->
      """WITH scored AS (
           SELECT l_returnflag,
                  (round((l_quantity - avg(l_quantity) OVER (PARTITION BY l_partkey))*1e4)/1e4 + 0.0e0) AS resid
           FROM lineitem),
         stats AS (
           SELECT l_returnflag,
                  (CAST(sum(CAST(round(resid*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS rmean
           FROM scored GROUP BY 1),
         m AS (
           SELECT s.l_returnflag,
                  CAST(round((s.resid - t.rmean)*1e4) AS HUGEINT) AS mm
           FROM scored s JOIN stats t USING (l_returnflag)),
         sums AS (
           SELECT l_returnflag, count(*) AS n_obs,
                  sum(mm*mm) AS s2, sum(mm*mm*mm) AS s3, sum(mm*mm*mm*mm) AS s4
           FROM m GROUP BY 1),
         mom AS (
           SELECT l_returnflag, n_obs,
                  CAST(s2 AS DOUBLE)/1e8/n_obs AS m2,
                  CAST(s3 AS DOUBLE)/1e12/n_obs AS m3,
                  CAST(s4 AS DOUBLE)/1e16/n_obs AS m4
           FROM sums),
         sk AS (
           SELECT l_returnflag, n_obs,
                  (round((CASE WHEN m2 > 0 THEN m3/(m2*sqrt(m2)) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS jb_skew,
                  (round((CASE WHEN m2 > 0 THEN m4/(m2*m2) - 3.0e0 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS jb_kurt
           FROM mom)
         SELECT l_returnflag, n_obs, jb_skew, jb_kurt,
                (round((CAST(n_obs AS DOUBLE)/6.0e0*(jb_skew*jb_skew + jb_kurt*jb_kurt/4.0e0))*1e4)/1e4 + 0.0e0) AS jb_stat
         FROM sk""",
    "q324_arch_lm" ->
      """WITH scored0 AS (
           SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber, l_quantity,
                  (round((l_quantity - avg(l_quantity) OVER (PARTITION BY l_partkey))*1e4)/1e4 + 0.0e0) AS e
           FROM lineitem),
         scored AS (
           SELECT *, (round((e*e)*1e4)/1e4 + 0.0e0) AS sq FROM scored0),
         stats AS (
           SELECT l_returnflag,
                  (CAST(sum(CAST(round(sq*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS smean
           FROM scored GROUP BY 1),
         lagged AS (
           SELECT s.l_returnflag,
                  CAST(round((s.sq - t.smean)*1e4) AS HUGEINT) AS m,
                  lag(CAST(round((s.sq - t.smean)*1e4) AS HUGEINT), 1) OVER w AS m1,
                  lag(CAST(round((s.sq - t.smean)*1e4) AS HUGEINT), 2) OVER w AS m2,
                  lag(CAST(round((s.sq - t.smean)*1e4) AS HUGEINT), 3) OVER w AS m3,
                  lag(CAST(round((s.sq - t.smean)*1e4) AS HUGEINT), 4) OVER w AS m4,
                  lag(CAST(round((s.sq - t.smean)*1e4) AS HUGEINT), 5) OVER w AS m5
           FROM scored s JOIN stats t USING (l_returnflag)
           WINDOW w AS (PARTITION BY s.l_returnflag
                        ORDER BY s.l_shipdate, s.l_orderkey, s.l_linenumber, s.l_quantity)),
         agg AS (
           SELECT l_returnflag, count(*) AS n_obs,
                  sum(m*m) AS c0,
                  sum(CASE WHEN m1 IS NOT NULL THEN m*m1 ELSE CAST(0 AS HUGEINT) END) AS c1,
                  sum(CASE WHEN m2 IS NOT NULL THEN m*m2 ELSE CAST(0 AS HUGEINT) END) AS c2,
                  sum(CASE WHEN m3 IS NOT NULL THEN m*m3 ELSE CAST(0 AS HUGEINT) END) AS c3,
                  sum(CASE WHEN m4 IS NOT NULL THEN m*m4 ELSE CAST(0 AS HUGEINT) END) AS c4,
                  sum(CASE WHEN m5 IS NOT NULL THEN m*m5 ELSE CAST(0 AS HUGEINT) END) AS c5
           FROM lagged GROUP BY 1),
         acf AS (
           SELECT l_returnflag, n_obs, CAST(n_obs AS DOUBLE) AS nd,
                  (round((CASE WHEN CAST(c0 AS DOUBLE)/1e8 > 0 THEN (CAST(c1 AS DOUBLE)/1e8)/(CAST(c0 AS DOUBLE)/1e8) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS r1,
                  (round((CASE WHEN CAST(c0 AS DOUBLE)/1e8 > 0 THEN (CAST(c2 AS DOUBLE)/1e8)/(CAST(c0 AS DOUBLE)/1e8) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS r2,
                  (round((CASE WHEN CAST(c0 AS DOUBLE)/1e8 > 0 THEN (CAST(c3 AS DOUBLE)/1e8)/(CAST(c0 AS DOUBLE)/1e8) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS r3,
                  (round((CASE WHEN CAST(c0 AS DOUBLE)/1e8 > 0 THEN (CAST(c4 AS DOUBLE)/1e8)/(CAST(c0 AS DOUBLE)/1e8) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS r4,
                  (round((CASE WHEN CAST(c0 AS DOUBLE)/1e8 > 0 THEN (CAST(c5 AS DOUBLE)/1e8)/(CAST(c0 AS DOUBLE)/1e8) ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS r5
           FROM agg)
         SELECT l_returnflag, n_obs, r1 AS sr_acf1,
                (round((nd*r1*r1)*1e4)/1e4 + 0.0e0) AS arch_lm1,
                CASE WHEN n_obs > 5 THEN
                  (round((nd*(nd+2.0e0)*(r1*r1/(nd-1.0e0) + r2*r2/(nd-2.0e0) + r3*r3/(nd-3.0e0) + r4*r4/(nd-4.0e0) + r5*r5/(nd-5.0e0)))*1e4)/1e4 + 0.0e0)
                END AS ml_q
         FROM acf""",
    "q327_mann_kendall_tied" ->
      """WITH w AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) ws,
                     l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
         a AS (SELECT l_suppkey,
                CAST(floor(((EXTRACT(year FROM ws)-1992)*12 + EXTRACT(month FROM ws)-1)/3.0) AS DOUBLE) x,
                CAST(q AS DOUBLE) y FROM w),
         sg AS (SELECT a1.l_suppkey,
                 CAST(sum(CAST(sign(a2.y - a1.y) AS BIGINT)) AS BIGINT) AS mk_s
                FROM a a1 JOIN a a2 ON a1.l_suppkey = a2.l_suppkey
                  AND a1.x < a2.x GROUP BY 1),
         ty AS (SELECT l_suppkey,
                 sum(tt*(tt-1)*(2.0e0*tt+5)) AS ty1,
                 sum(tt*(tt-1)*(tt-2)) AS ty2,
                 sum(tt*(tt-1)) AS ty3
                FROM (SELECT l_suppkey, CAST(count(*) AS DOUBLE) tt
                      FROM a GROUP BY l_suppkey, y) GROUP BY 1),
         tx AS (SELECT l_suppkey,
                 sum(tt*(tt-1)*(2.0e0*tt+5)) AS tx1,
                 sum(tt*(tt-1)*(tt-2)) AS tx2,
                 sum(tt*(tt-1)) AS tx3
                FROM (SELECT l_suppkey, CAST(count(*) AS DOUBLE) tt
                      FROM a GROUP BY l_suppkey, x) GROUP BY 1),
         nn AS (SELECT l_suppkey, CAST(count(*) AS DOUBLE) n FROM a GROUP BY 1),
         v AS (SELECT nn.l_suppkey, nn.n, sg.mk_s,
                (nn.n*(nn.n-1)*(2.0e0*nn.n+5) - ty.ty1 - tx.tx1)/18.0e0
                + CASE WHEN nn.n > 2
                    THEN tx.tx2*ty.ty2/(9.0e0*nn.n*(nn.n-1)*(nn.n-2))
                    ELSE 0.0e0 END
                + CASE WHEN nn.n > 1
                    THEN tx.tx3*ty.ty3/(2.0e0*nn.n*(nn.n-1))
                    ELSE 0.0e0 END AS vr
               FROM nn JOIN sg USING (l_suppkey) JOIN ty USING (l_suppkey)
                 JOIN tx USING (l_suppkey))
         SELECT l_suppkey, n AS n_obs, mk_s,
                (round(vr*1e4)/1e4 + 0.0e0) AS var_s,
                (round((CASE WHEN vr > 0 THEN
                   CASE WHEN mk_s > 0 THEN (CAST(mk_s AS DOUBLE) - 1)/sqrt(vr)
                        WHEN mk_s < 0 THEN (CAST(mk_s AS DOUBLE) + 1)/sqrt(vr)
                        ELSE 0.0e0 END
                 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS mk_z,
                (round((CAST(mk_s AS DOUBLE)/(n*(n-1)/2))*1e4)/1e4 + 0.0e0) AS mk_tau
         FROM v""",
    "q319_mann_kendall" ->
      """WITH w AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) ws,
                     l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
         a AS (SELECT l_suppkey, CAST(ws - DATE '1992-01-01' AS DOUBLE) x,
                      CAST(q AS DOUBLE) y FROM w),
         sg AS (SELECT a1.l_suppkey,
                 CAST(sum(CAST(sign(a2.y - a1.y) AS BIGINT)) AS BIGINT) AS mk_s
                FROM a a1 JOIN a a2 ON a1.l_suppkey = a2.l_suppkey
                  AND a1.x < a2.x GROUP BY 1),
         tg AS (SELECT l_suppkey,
                 sum(tt*(tt-1)*(2.0e0*tt+5)) AS tie
                FROM (SELECT l_suppkey, CAST(count(*) AS DOUBLE) tt
                      FROM a GROUP BY l_suppkey, y) GROUP BY 1),
         nn AS (SELECT l_suppkey, CAST(count(*) AS DOUBLE) n FROM a GROUP BY 1),
         v AS (SELECT nn.l_suppkey, nn.n, sg.mk_s, tg.tie,
                (nn.n*(nn.n-1)*(2.0e0*nn.n+5) - tg.tie)/18.0e0 AS vr
               FROM nn JOIN sg USING (l_suppkey) JOIN tg USING (l_suppkey))
         SELECT l_suppkey, n AS n_obs, mk_s,
                (round(vr*1e4)/1e4 + 0.0e0) AS var_s,
                (round((CASE WHEN vr > 0 THEN
                   CASE WHEN mk_s > 0 THEN (CAST(mk_s AS DOUBLE) - 1)/sqrt(vr)
                        WHEN mk_s < 0 THEN (CAST(mk_s AS DOUBLE) + 1)/sqrt(vr)
                        ELSE 0.0e0 END
                 ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS mk_z,
                (round((CAST(mk_s AS DOUBLE)/(n*(n-1)/2))*1e4)/1e4 + 0.0e0) AS mk_tau
         FROM v""",
    // Theil-Sen: pairwise-slope self-join (x strict inequality excludes
    // vertical pairs), 4dp slopes -> exact interpolated median; the
    // intercept pass re-rounds (y - slope*x) candidates the same way
    "q330_kruskal_wallis" ->
      """WITH base AS (
           SELECT l_returnflag,
                  CAST(round(l_discount*100) AS INTEGER) AS g,
                  (round(l_quantity*1e4)/1e4 + 0.0e0) AS v
           FROM lineitem),
         ranked AS (
           SELECT l_returnflag, g,
                  CAST(2*rank() OVER (PARTITION BY l_returnflag ORDER BY v)
                       + count(*) OVER (PARTITION BY l_returnflag, v) - 1 AS BIGINT) AS r2
           FROM base),
         ps AS (
           SELECT l_returnflag, g, CAST(count(*) AS BIGINT) AS nj,
                  CAST(sum(r2) AS BIGINT) AS rj2
           FROM ranked GROUP BY 1, 2),
         grp AS (
           SELECT l_returnflag, CAST(count(*) AS BIGINT) AS k_samples,
                  CAST(sum(nj) AS BIGINT) AS n_obs,
                  sum(CAST(rj2 AS DOUBLE)*CAST(rj2 AS DOUBLE)/(4*nj)) AS sumT
           FROM ps GROUP BY 1),
         tie AS (
           SELECT l_returnflag, sum(t*t*t - t) AS tie
           FROM (SELECT l_returnflag, CAST(count(*) AS DOUBLE) t
                 FROM base GROUP BY l_returnflag, v) GROUP BY 1),
         v AS (
           SELECT g.l_returnflag, g.k_samples, g.n_obs,
                  CAST(g.n_obs AS DOUBLE) AS nd, g.sumT, t.tie
           FROM grp g JOIN tie t USING (l_returnflag))
         SELECT l_returnflag, k_samples, n_obs,
                (round((CASE WHEN nd > 1 AND 1.0e0 - tie/(nd*nd*nd - nd) > 0
                   THEN (12.0e0/(nd*(nd+1))*sumT - 3.0e0*(nd+1))
                        / (1.0e0 - tie/(nd*nd*nd - nd))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS kw_h
         FROM v""",
    "q329_mann_whitney" ->
      """WITH base AS (
           SELECT l_returnflag,
                  (l_discount > 0.05) AS f,
                  (round(l_quantity*1e4)/1e4 + 0.0e0) AS v
           FROM lineitem),
         ranked AS (
           SELECT l_returnflag, f,
                  CAST(2*rank() OVER (PARTITION BY l_returnflag ORDER BY v)
                       + count(*) OVER (PARTITION BY l_returnflag, v) - 1 AS BIGINT) AS r2
           FROM base),
         tie AS (
           SELECT l_returnflag, sum(t*t*t - t) AS tie
           FROM (SELECT l_returnflag, CAST(count(*) AS DOUBLE) t
                 FROM base GROUP BY l_returnflag, v) GROUP BY 1),
         agg AS (
           SELECT l_returnflag,
                  CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN f THEN r2 ELSE 0 END) AS BIGINT) AS s2x
           FROM ranked GROUP BY 1),
         v AS (
           SELECT a.l_returnflag, a.n1, a.n2,
                  CAST(a.n1 AS DOUBLE) AS nd1, CAST(a.n2 AS DOUBLE) AS nd2,
                  CAST(a.n1 AS DOUBLE) + CAST(a.n2 AS DOUBLE) AS nd,
                  (CAST(a.s2x AS DOUBLE) - CAST(a.n1 AS DOUBLE)*(CAST(a.n1 AS DOUBLE)+1))/2 AS u1,
                  t.tie
           FROM agg a JOIN tie t USING (l_returnflag))
         SELECT l_returnflag, n1, n2,
                (round(u1*1e4)/1e4 + 0.0e0) AS u1,
                (round((CASE WHEN nd1*nd2/12*((nd+1) - tie/(nd*(nd-1))) > 0
                   THEN (u1 - nd1*nd2/2)
                        / sqrt(nd1*nd2/12*((nd+1) - tie/(nd*(nd-1))))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS mw_z,
                (round((CASE WHEN n1*n2 > 0 THEN u1/(nd1*nd2)
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS cles
         FROM v""",
    "q338_bh_fdr" ->
      """WITH base AS (
           SELECT l_suppkey,
                  CASE WHEN l_discount > 0.05 THEN TRUE ELSE FALSE END AS f,
                  (round(l_quantity*1e4)/1e4 + 0.0e0) AS v
           FROM lineitem),
         ranked AS (SELECT l_suppkey, f,
                 2*rank() OVER (PARTITION BY l_suppkey ORDER BY v)
                   + count(*) OVER (PARTITION BY l_suppkey, v) - 1 AS r2
                FROM base),
         tie AS (SELECT l_suppkey, sum(t*t*t - t) AS tie
                 FROM (SELECT l_suppkey, CAST(count(*) AS DOUBLE) AS t
                       FROM base GROUP BY l_suppkey, v) GROUP BY 1),
         agg AS (SELECT l_suppkey,
                  CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN f THEN r2 ELSE 0 END) AS BIGINT) AS s2x
                 FROM ranked GROUP BY 1),
         z AS (SELECT a.l_suppkey,
                (round((CASE WHEN CAST(a.n1 AS DOUBLE)*CAST(a.n2 AS DOUBLE)/12
                     *((CAST(a.n1 AS DOUBLE)+CAST(a.n2 AS DOUBLE)+1)
                       - t.tie/((CAST(a.n1 AS DOUBLE)+CAST(a.n2 AS DOUBLE))
                         *(CAST(a.n1 AS DOUBLE)+CAST(a.n2 AS DOUBLE)-1))) > 0
                   THEN ((CAST(a.s2x AS DOUBLE) - CAST(a.n1 AS DOUBLE)*(CAST(a.n1 AS DOUBLE)+1))/2
                         - CAST(a.n1 AS DOUBLE)*CAST(a.n2 AS DOUBLE)/2)
                        / sqrt(CAST(a.n1 AS DOUBLE)*CAST(a.n2 AS DOUBLE)/12
                            *((CAST(a.n1 AS DOUBLE)+CAST(a.n2 AS DOUBLE)+1)
                              - t.tie/((CAST(a.n1 AS DOUBLE)+CAST(a.n2 AS DOUBLE))
                                *(CAST(a.n1 AS DOUBLE)+CAST(a.n2 AS DOUBLE)-1))))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS zz
               FROM agg a JOIN tie t USING (l_suppkey)),
         pv AS (SELECT l_suppkey,
                 (round(((0.254829592*tt - 0.284496736*(tt*tt)
                    + 1.421413741*(tt*tt*tt) - 1.453152027*(tt*tt*tt*tt)
                    + 1.061405429*(tt*tt*tt*tt*tt))
                   * exp(-(xx*xx)))*1e4)/1e4 + 0.0e0) AS p_value
                FROM (SELECT l_suppkey,
                        (round(abs(zz)*1e4)/1e4 + 0.0e0)/sqrt(2.0e0) AS xx,
                        1.0e0/(1.0e0 + 0.3275911
                          *((round(abs(zz)*1e4)/1e4 + 0.0e0)/sqrt(2.0e0))) AS tt
                      FROM z)),
         bh AS (SELECT l_suppkey, p_value,
                 CAST(row_number() OVER (ORDER BY p_value, l_suppkey) AS BIGINT) AS bh_rank,
                 count(*) OVER () AS m_tests
                FROM pv),
         qv AS (SELECT *,
                 (round((least(min(p_value * m_tests / bh_rank)
                    OVER (ORDER BY bh_rank DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   1.0e0))*1e4)/1e4 + 0.0e0) AS q_value,
                 max(CASE WHEN p_value <= bh_rank * 0.05 / m_tests
                     THEN bh_rank END) OVER () AS passrk
                FROM bh)
         SELECT l_suppkey, p_value, bh_rank, m_tests, q_value,
                CASE WHEN passrk IS NOT NULL AND bh_rank <= passrk
                     THEN 1 ELSE 0 END AS reject
         FROM qv""",
    "q339_conformal" ->
      """WITH pm AS (SELECT l_partkey,
                  (CAST(sum(CAST(round(l_quantity*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS pmv
                FROM lineitem WHERE l_shipdate < DATE '1999-01-01' GROUP BY 1),
         gm AS (SELECT (CAST(sum(CAST(round(l_quantity*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS gmv
                FROM lineitem WHERE l_shipdate < DATE '1999-01-01'),
         sc AS (SELECT l.l_returnflag,
                 (round((abs(l.l_quantity - coalesce(pm.pmv, gm.gmv)))*1e4)/1e4 + 0.0e0) AS s,
                 l.l_shipdate < DATE '1999-01-01' AS c
                FROM lineitem l LEFT JOIN pm USING (l_partkey) CROSS JOIN gm),
         cal AS (SELECT l_returnflag, s,
                  CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY s) AS BIGINT) AS rn
                 FROM sc WHERE c),
         nc AS (SELECT l_returnflag, count(*) AS n_calib,
                 least(CAST(ceil((count(*) + 1) * 0.9e0) AS BIGINT), count(*)) AS k_order
                FROM sc WHERE c GROUP BY 1),
         qh AS (SELECT c2.l_returnflag, n.n_calib, n.k_order, c2.s AS qhat
                FROM cal c2 JOIN nc n ON c2.l_returnflag = n.l_returnflag
                  AND c2.rn = n.k_order),
         cov AS (SELECT sc.l_returnflag, count(*) AS n_test,
                  CAST(sum(CASE WHEN sc.s <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
                 FROM sc JOIN qh USING (l_returnflag) WHERE NOT sc.c GROUP BY 1)
         SELECT qh.l_returnflag, qh.n_calib, qh.k_order, qh.qhat,
                coalesce(cov.n_test, 0) AS n_test,
                coalesce(cov.n_covered, 0) AS n_covered,
                (round((CASE WHEN coalesce(cov.n_test, 0) > 0
                   THEN CAST(cov.n_covered AS DOUBLE)/cov.n_test
                   ELSE NULL END)*1e4)/1e4 + 0.0e0) AS coverage
         FROM qh LEFT JOIN cov USING (l_returnflag)""",
    "q332_wilcoxon_signed_rank" ->
      """WITH pairs AS (
           SELECT l_returnflag,
                  sum(CASE WHEN year(l_shipdate) = 1996 THEN l_quantity END) AS a,
                  sum(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity END) AS b
           FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
           GROUP BY l_returnflag, l_suppkey
           HAVING a IS NOT NULL AND b IS NOT NULL),
         dd AS (SELECT l_returnflag,
                 (round((a - b)*1e4)/1e4 + 0.0e0) AS d
                FROM pairs),
         nz AS (SELECT l_returnflag, d, abs(d) AS ad FROM dd WHERE d <> 0),
         ranked AS (SELECT l_returnflag, d,
                 2*rank() OVER (PARTITION BY l_returnflag ORDER BY ad)
                   + count(*) OVER (PARTITION BY l_returnflag, ad) - 1 AS r2
                FROM nz),
         tie AS (SELECT l_returnflag, sum(t*t*t - t) AS tie
                 FROM (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS t
                       FROM nz GROUP BY l_returnflag, ad) GROUP BY 1),
         agg AS (SELECT l_returnflag, count(*) AS n_pairs,
                  CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2
                 FROM ranked GROUP BY 1),
         v AS (SELECT a.l_returnflag, a.n_pairs,
                CAST(a.n_pairs AS DOUBLE) AS nd,
                CAST(a.w2 AS DOUBLE)/2 AS wp, t.tie
               FROM agg a JOIN tie t USING (l_returnflag))
         SELECT l_returnflag, n_pairs,
                (round(wp*1e4)/1e4 + 0.0e0) AS w_plus,
                (round((CASE WHEN nd*(nd+1)*(2*nd+1)/24 - tie/48 > 0
                   THEN (wp - nd*(nd+1)/4)
                        / sqrt(nd*(nd+1)*(2*nd+1)/24 - tie/48)
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS wsr_z,
                (round((CASE WHEN n_pairs > 0
                   THEN 4.0e0*wp/(nd*(nd+1)) - 1 ELSE 0.0e0 END)*1e4)/1e4
                 + 0.0e0) AS rank_biserial
         FROM v""",
    "q333_friedman" ->
      """WITH cells AS (
           SELECT l_returnflag, l_suppkey,
                  CAST(quarter(l_shipdate) AS VARCHAR) AS j,
                  (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS v
           FROM lineitem GROUP BY 1, 2, quarter(l_shipdate)),
         kp AS (SELECT l_returnflag, count(DISTINCT j) AS k
                FROM cells GROUP BY 1),
         bs AS (SELECT l_returnflag, l_suppkey, count(*) AS bn
                FROM cells GROUP BY 1, 2),
         comp AS (SELECT c.l_returnflag, c.l_suppkey, c.j, c.v
                  FROM cells c
                  JOIN bs USING (l_returnflag, l_suppkey)
                  JOIN kp USING (l_returnflag)
                  WHERE bs.bn = kp.k),
         ranked AS (SELECT l_returnflag, l_suppkey, j,
                 2*rank() OVER (PARTITION BY l_returnflag, l_suppkey ORDER BY v)
                   + count(*) OVER (PARTITION BY l_returnflag, l_suppkey, v) - 1 AS r2
                FROM comp),
         pt AS (SELECT l_returnflag, j, CAST(sum(r2) AS BIGINT) AS r2j,
                 CAST(sum(r2*r2) AS BIGINT) AS r4, count(*) AS nb
                FROM ranked GROUP BY 1, 2),
         g AS (SELECT pt.l_returnflag,
                CAST(kp.k AS DOUBLE) AS k,
                CAST(sum(nb)/kp.k AS DOUBLE) AS n,
                sum(CAST(r2j AS DOUBLE)*CAST(r2j AS DOUBLE)/4) AS sumbigr2,
                sum(CAST(r4 AS DOUBLE)/4) AS sumlitr2
               FROM pt JOIN kp USING (l_returnflag) GROUP BY 1, kp.k)
         SELECT l_returnflag, CAST(k AS BIGINT) AS k_treatments,
                CAST(n AS BIGINT) AS n_blocks,
                (round((CASE WHEN k >= 2 AND n >= 1
                   AND (sumlitr2 - n*k*(k+1)*(k+1)/4) > 0
                   THEN (k-1) * (sumbigr2 - n*n*k*(k+1)*(k+1)/4)
                        / (sumlitr2 - n*k*(k+1)*(k+1)/4)
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS friedman_chi2
         FROM g""",
    "q334_hl_shift" ->
      """WITH pts AS (
           SELECT l_returnflag, l_suppkey,
                  (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS v
           FROM lineitem GROUP BY 1, 2),
         f AS (SELECT l_returnflag, v,
                (((l_suppkey % 2147483647) * 48271 % 2147483647)
                  * 48271 % 2147483647) * 48271 % 2147483647 AS h
               FROM pts),
         xs AS (SELECT l_returnflag, v AS x FROM f WHERE h % 2 = 0),
         ys AS (SELECT l_returnflag, v AS y FROM f WHERE h % 2 <> 0),
         dd AS (SELECT xs.l_returnflag,
                 (round((xs.x - ys.y)*1e4)/1e4 + 0.0e0) AS d
                FROM xs JOIN ys USING (l_returnflag))
         SELECT l_returnflag, count(*) AS n_pairs,
                (round((quantile_cont(d, 0.5e0))*1e4)/1e4 + 0.0e0) AS hl_shift
         FROM dd GROUP BY 1""",
    "q335_hl_center" ->
      """WITH pts AS (
           SELECT l_returnflag,
                  (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS v
           FROM lineitem GROUP BY l_returnflag, l_suppkey),
         idx AS (SELECT l_returnflag, v,
                  row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS i
                 FROM pts),
         wl AS (SELECT a.l_returnflag,
                 (round(((a.v + b.v)/2)*1e4)/1e4 + 0.0e0) AS w
                FROM idx a JOIN idx b
                  ON a.l_returnflag = b.l_returnflag AND a.i <= b.i)
         SELECT l_returnflag, count(*) AS n_walsh,
                (round((quantile_cont(w, 0.5e0))*1e4)/1e4 + 0.0e0) AS hl_center
         FROM wl GROUP BY 1""",
    "q331_kendall_tau_sampled" ->
      """WITH pts AS (
           SELECT l_returnflag,
                  (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS x,
                  (round((CAST(sum(CAST(round(l_discount*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS y
           FROM lineitem GROUP BY l_returnflag, l_suppkey),
         idx AS (SELECT l_returnflag, x, y,
                  CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY x, y) AS BIGINT) AS i
                 FROM pts),
         nn AS (SELECT l_returnflag, max(i) AS n, count(*) AS n_obs FROM idx GROUP BY 1),
         sl AS (SELECT l_returnflag, n,
                 ((((42 + 2*t.t) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 AS h1,
                 ((((43 + 2*t.t) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 AS h2
                FROM nn, range(1, 301) AS t(t) WHERE n >= 2),
         dr AS (SELECT l_returnflag, (h1 % n) + 1 AS pi,
                 CASE WHEN (h2 % (n-1)) + 1 >= (h1 % n) + 1
                      THEN (h2 % (n-1)) + 2 ELSE (h2 % (n-1)) + 1 END AS pj
                FROM sl),
         pr AS (SELECT d.l_returnflag,
                 CAST(sign(p2.x - p1.x) * sign(p2.y - p1.y) AS BIGINT) AS p
                FROM dr d
                JOIN idx p1 ON p1.l_returnflag = d.l_returnflag AND p1.i = d.pi
                JOIN idx p2 ON p2.l_returnflag = d.l_returnflag AND p2.i = d.pj),
         pa AS (SELECT l_returnflag, count(*) AS s_pairs,
                 CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
                 CAST(sum(CASE WHEN p < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc
                FROM pr GROUP BY 1),
         tx AS (SELECT l_returnflag, CAST(sum(t*(t-1))/2 AS BIGINT) AS nx
                FROM (SELECT l_returnflag, count(*) AS t
                      FROM pts GROUP BY l_returnflag, x) GROUP BY 1),
         ty AS (SELECT l_returnflag, CAST(sum(t*(t-1))/2 AS BIGINT) AS ny
                FROM (SELECT l_returnflag, count(*) AS t
                      FROM pts GROUP BY l_returnflag, y) GROUP BY 1),
         v AS (SELECT nn.l_returnflag, nn.n_obs, pa.s_pairs, pa.conc, pa.disc,
                tx.nx, ty.ny, CAST(nn.n_obs AS DOUBLE) AS nd
               FROM nn JOIN pa USING (l_returnflag) JOIN tx USING (l_returnflag)
                 JOIN ty USING (l_returnflag))
         SELECT l_returnflag, n_obs, s_pairs, conc, disc,
                (round((CASE WHEN (nd*(nd-1)/2 - nx)*(nd*(nd-1)/2 - ny) > 0
                   THEN (nd*(nd-1)/2) * CAST(conc - disc AS DOUBLE) / CAST(s_pairs AS DOUBLE)
                        / sqrt((nd*(nd-1)/2 - nx)*(nd*(nd-1)/2 - ny))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS tau_b_est,
                (round((CASE WHEN conc + disc > 0
                   THEN CAST(conc - disc AS DOUBLE)/CAST(conc + disc AS DOUBLE)
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS gk_gamma_est
         FROM v""",
    "q342_drop_null_keys" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem
         WHERE NOT (l_orderkey % 13 = 0) AND NOT (l_linenumber % 7 = 3)
         GROUP BY 1""",
    "q343_fill_zero" ->
      """WITH p AS (SELECT l_returnflag,
                  CASE WHEN l_orderkey % 5 = 0 THEN 0.0e0 ELSE l_quantity END AS qv,
                  CASE WHEN l_suppkey % 3 = 1 THEN 0.0e0 ELSE l_discount END AS dv
                FROM lineitem)
         SELECT l_returnflag, count(*) AS n_rows,
                (round((sum(qv))*1e4)/1e4 + 0.0e0) AS sum_qv,
                (CAST(sum(CAST(round(dv*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) AS sum_dv,
                CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_qv,
                CAST(sum(CASE WHEN dv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_dv
         FROM p GROUP BY 1""",
    "q344_repair_unit_price" ->
      """WITH p AS (SELECT l_returnflag, l_extendedprice AS total,
                  l_quantity AS qty,
                  CASE WHEN l_orderkey % 11 = 0
                    THEN (round((l_extendedprice/l_quantity)*1e4)/1e4 + 0.0e0)*3.0e0
                    ELSE (round((l_extendedprice/l_quantity)*1e4)/1e4 + 0.0e0) END AS price
                FROM lineitem),
         rp AS (SELECT l_returnflag,
                  CASE WHEN abs(total - qty*price) > 0.01e0 AND qty > 0
                    THEN total/qty ELSE price END AS price
                FROM p)
         SELECT l_returnflag, count(*) AS n_rows,
                (CAST(sum(CAST(round(price*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) AS sum_price
         FROM rp GROUP BY 1""",
    "q345_normalize_string" ->
      """SELECT array_to_string(list_transform(
                  string_split(trim('  ' || p_name || '   '), ' '),
                  w -> upper(w[1]) || lower(w[2:])), ' ') AS p_name,
                count(*) AS n_parts
         FROM part GROUP BY 1""",
    "q346_price_anomaly" ->
      """WITH p AS (SELECT CASE WHEN l_orderkey % 997 = 0
                    THEN l_extendedprice*50.0e0 ELSE l_extendedprice END AS price
                FROM lineitem),
         pos AS (SELECT price FROM p WHERE price >= 0),
         q AS (SELECT quantile_cont(price, 0.99) AS q99 FROM pos),
         rp AS (SELECT CASE WHEN price > 10.0e0*q99 THEN q99 ELSE price END AS price
                FROM pos, q)
         SELECT count(*) AS n_rows,
                (CAST(sum(CAST(round(price*1e4) AS BIGINT)) AS DOUBLE)/1e4 + 0.0e0) AS sum_price,
                (round((max(price))*1e4)/1e4 + 0.0e0) AS max_price
         FROM rp""",
    "q347_blocked_cv" ->
      """WITH g AS (SELECT min(CAST(l_shipdate AS DATE)) mn, max(CAST(l_shipdate AS DATE)) mx
                    FROM lineitem),
         b AS (SELECT mn, mx, (date_diff('day', mn, mx) + 1) // 5 AS bd FROM g)
         SELECT CAST(i AS INT) AS fold,
                mn + CAST(i*bd AS INT) AS train_start,
                mn + CAST(i*bd + bd AS INT) AS train_end,
                mn + CAST(i*bd + bd + 7 AS INT) AS test_start,
                mn + CAST(i*bd + bd + 7 + bd AS INT) AS test_end
         FROM b, range(0, 4) r(i)
         WHERE mn + CAST(i*bd + bd + 7 + bd AS INT) <= mx + 1""",
    "q348_per_segment_cv" ->
      """WITH g AS (SELECT l_returnflag AS segment,
                      min(CAST(l_shipdate AS DATE)) mn, max(CAST(l_shipdate AS DATE)) mx
                    FROM lineitem GROUP BY 1)
         SELECT segment, CAST(i AS INT) AS fold,
                mn AS train_start,
                mn + CAST((52 + i*26)*7 AS INT) AS train_end,
                mn + CAST((52 + i*26)*7 + 7 AS INT) AS test_start,
                mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) AS test_end
         FROM g, range(0, 5) r(i)
         WHERE mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) <= mx + 1""",
    "q349_mips_topk" ->
      """WITH u AS (SELECT CAST(l_suppkey AS BIGINT) AS u,
                  (round((CAST(sum(CAST(round(l_quantity*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS x1,
                  (round(((CAST(sum(CAST(round(l_discount*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*10)*1e4)/1e4 + 0.0e0) AS x2
                FROM lineitem GROUP BY 1 HAVING CAST(l_suppkey AS BIGINT) % 10 = 0),
         it AS (SELECT CAST(l_partkey AS BIGINT) AS i,
                  (round((CAST(sum(CAST(round(l_quantity*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS y1,
                  (round(((CAST(sum(CAST(round(l_tax*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*10)*1e4)/1e4 + 0.0e0) AS y2
                FROM lineitem GROUP BY 1),
         sc AS (SELECT u.u, it.i,
                  (round((u.x1*it.y1 + u.x2*it.y2)*1e4)/1e4 + 0.0e0) AS score
                FROM u, it),
         rk AS (SELECT *, row_number() OVER (PARTITION BY u
                  ORDER BY score DESC, i ASC) AS rank FROM sc)
       SELECT u AS "user", i AS item, score, CAST(rank AS BIGINT) AS rank
       FROM rk WHERE rank <= 3""",
    "q340_hyperparam_scoreboard" ->
      """WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                  l_suppkey, sum(l_quantity) AS qty_sum
                FROM lineitem GROUP BY 1, 2),
         g AS (SELECT min(CAST(l_shipdate AS DATE)) mn, max(CAST(l_shipdate AS DATE)) mx
               FROM lineitem),
         f AS (SELECT CAST(i AS INT) AS fold,
                 mn + CAST((52 + i*26)*7 AS INT) AS train_end,
                 mn + CAST((52 + i*26)*7 + 7 AS INT) AS test_start,
                 mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) AS test_end
               FROM g, range(0, 3) r(i)
               WHERE mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) <= mx + 1),
         tr AS (SELECT f.fold, w.l_suppkey, w.week_start, w.qty_sum, f.train_end
                FROM wk w JOIN f ON w.week_start >= f.train_end - 56
                  AND w.week_start < f.train_end),
         pr AS (SELECT fold, l_suppkey,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 7 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 7
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 7 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw1,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 14 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 14
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 14 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw2,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 28 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 28
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 28 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw4,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 56 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 56
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 56 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw8
                FROM tr GROUP BY 1, 2),
         te AS (SELECT f.fold, w.l_suppkey, w.qty_sum
                FROM wk w JOIN f ON w.week_start >= f.test_start
                  AND w.week_start < f.test_end),
         base AS (SELECT t.fold, t.qty_sum AS y, p.pw1, p.pw2, p.pw4, p.pw8
                  FROM te t JOIN pr p USING (fold, l_suppkey)),
         sc AS (SELECT fold, 'w1' AS config, y, pw1 AS pred FROM base
                UNION ALL SELECT fold, 'w2', y, pw2 FROM base
                UNION ALL SELECT fold, 'w4', y, pw4 FROM base
                UNION ALL SELECT fold, 'w8', y, pw8 FROM base),
         pf AS (SELECT config, fold,
                  CAST(sum(CAST(round(abs(y - pred)*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS sae,
                  CAST(sum(CAST(round(abs(y)*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS say
                FROM sc WHERE y IS NOT NULL AND pred IS NOT NULL
                GROUP BY 1, 2),
         fw AS (SELECT config, fold, (round(sae/say*1e4)/1e4 + 0.0e0) AS fold_wmape
                FROM pf WHERE say > 0),
         pc AS (SELECT config, count(*) AS n_folds,
                  (round((CAST(sum(CAST(round(fold_wmape*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS cv_wmape
                FROM fw GROUP BY 1),
         rk AS (SELECT *, CAST(row_number() OVER (ORDER BY cv_wmape, config) AS BIGINT) AS rank
                FROM pc)
         SELECT config, n_folds, cv_wmape, rank,
                CAST(CASE WHEN rank = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_champion
         FROM rk""",
    // q350: the same scored frame, the halving bracket unrolled — one
    // CTE pair per round (prefix-budget mean + rank), survivors joined
    // into the next round exactly as Tuning.successiveHalving chains
    "q350_successive_halving" ->
      """WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                  l_suppkey, sum(l_quantity) AS qty_sum
                FROM lineitem GROUP BY 1, 2),
         g AS (SELECT min(CAST(l_shipdate AS DATE)) mn, max(CAST(l_shipdate AS DATE)) mx
               FROM lineitem),
         f AS (SELECT CAST(i AS INT) AS fold,
                 mn + CAST((52 + i*26)*7 AS INT) AS train_end,
                 mn + CAST((52 + i*26)*7 + 7 AS INT) AS test_start,
                 mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) AS test_end
               FROM g, range(0, 3) r(i)
               WHERE mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) <= mx + 1),
         tr AS (SELECT f.fold, w.l_suppkey, w.week_start, w.qty_sum, f.train_end
                FROM wk w JOIN f ON w.week_start >= f.train_end - 56
                  AND w.week_start < f.train_end),
         pr AS (SELECT fold, l_suppkey,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 7 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 7
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 7 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw1,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 14 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 14
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 14 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw2,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 28 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 28
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 28 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw4,
                  CASE WHEN sum(CASE WHEN week_start >= train_end - 56 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(sum(CASE WHEN week_start >= train_end - 56
                           THEN CAST(round(qty_sum*1e4) AS BIGINT) ELSE 0 END) AS DOUBLE)/1e4
                         / sum(CASE WHEN week_start >= train_end - 56 THEN 1 ELSE 0 END)*1e4)/1e4 + 0.0e0
                    ELSE NULL END AS pw8
                FROM tr GROUP BY 1, 2),
         te AS (SELECT f.fold, w.l_suppkey, w.qty_sum
                FROM wk w JOIN f ON w.week_start >= f.test_start
                  AND w.week_start < f.test_end),
         base AS (SELECT t.fold, t.qty_sum AS y, p.pw1, p.pw2, p.pw4, p.pw8
                  FROM te t JOIN pr p USING (fold, l_suppkey)),
         sc AS (SELECT fold, 'w1' AS config, y, pw1 AS pred FROM base
                UNION ALL SELECT fold, 'w2', y, pw2 FROM base
                UNION ALL SELECT fold, 'w4', y, pw4 FROM base
                UNION ALL SELECT fold, 'w8', y, pw8 FROM base),
         pf AS (SELECT config, fold,
                  CAST(sum(CAST(round(abs(y - pred)*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS sae,
                  CAST(sum(CAST(round(abs(y)*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS say
                FROM sc WHERE y IS NOT NULL AND pred IS NOT NULL
                GROUP BY 1, 2),
         fw AS (SELECT config, fold, (round(sae/say*1e4)/1e4 + 0.0e0) AS fold_wmape
                FROM pf WHERE say > 0),
         r0 AS (SELECT config, count(*) AS n_folds,
                  (round((CAST(sum(CAST(round(fold_wmape*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS cv_wmape
                FROM fw WHERE fold < 1 GROUP BY 1),
         r0b AS (SELECT CAST(0 AS INT) AS "round", config, CAST(1 AS INT) AS budget_folds,
                   n_folds, cv_wmape,
                   CAST(row_number() OVER (ORDER BY cv_wmape, config) AS BIGINT) AS rank
                 FROM r0),
         r0s AS (SELECT *, CAST(CASE WHEN rank <= 2 THEN 1 ELSE 0 END AS BIGINT) AS survived
                 FROM r0b),
         r1 AS (SELECT w.config, count(*) AS n_folds,
                  (round((CAST(sum(CAST(round(w.fold_wmape*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS cv_wmape
                FROM fw w JOIN r0s s ON w.config = s.config AND s.survived = 1
                WHERE w.fold < 3 GROUP BY 1),
         r1b AS (SELECT CAST(1 AS INT) AS "round", config, CAST(3 AS INT) AS budget_folds,
                   n_folds, cv_wmape,
                   CAST(row_number() OVER (ORDER BY cv_wmape, config) AS BIGINT) AS rank
                 FROM r1),
         r1s AS (SELECT *, CAST(CASE WHEN rank <= 1 THEN 1 ELSE 0 END AS BIGINT) AS survived
                 FROM r1b),
         ub AS (SELECT * FROM r0s UNION ALL SELECT * FROM r1s)
         SELECT "round", config, budget_folds, n_folds, cv_wmape, rank, survived,
                CAST(CASE WHEN "round" = 1 AND rank = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_champion
         FROM ub""",
    "q328_kendall_tau" ->
      """WITH pts AS (
           SELECT l_returnflag,
                  (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS x,
                  (round((CAST(sum(CAST(round(l_discount*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0)*1e4)/1e4 + 0.0e0) AS y
           FROM lineitem GROUP BY l_returnflag, l_suppkey),
         pr AS (
           SELECT a.l_returnflag,
                  CAST(sign(b.x - a.x) * sign(b.y - a.y) AS BIGINT) AS p
           FROM pts a JOIN pts b USING (l_returnflag)),
         pa AS (
           SELECT l_returnflag,
                  CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END)/2 AS BIGINT) AS conc,
                  CAST(sum(CASE WHEN p < 0 THEN 1 ELSE 0 END)/2 AS BIGINT) AS disc
           FROM pr GROUP BY 1),
         tx AS (SELECT l_returnflag, CAST(sum(t*(t-1))/2 AS BIGINT) AS nx
                FROM (SELECT l_returnflag, count(*) AS t
                      FROM pts GROUP BY l_returnflag, x) GROUP BY 1),
         ty AS (SELECT l_returnflag, CAST(sum(t*(t-1))/2 AS BIGINT) AS ny
                FROM (SELECT l_returnflag, count(*) AS t
                      FROM pts GROUP BY l_returnflag, y) GROUP BY 1),
         nn AS (SELECT l_returnflag, count(*) AS n_obs FROM pts GROUP BY 1),
         v AS (SELECT nn.l_returnflag, nn.n_obs, pa.conc, pa.disc, tx.nx, ty.ny,
                CAST(nn.n_obs AS DOUBLE) AS nd
               FROM nn JOIN pa USING (l_returnflag) JOIN tx USING (l_returnflag)
                 JOIN ty USING (l_returnflag))
         SELECT l_returnflag, n_obs, conc, disc,
                (round((CASE WHEN (nd*(nd-1)/2 - nx)*(nd*(nd-1)/2 - ny) > 0
                   THEN CAST(conc - disc AS DOUBLE)
                        / sqrt((nd*(nd-1)/2 - nx)*(nd*(nd-1)/2 - ny))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS tau_b,
                (round((CASE WHEN conc + disc > 0
                   THEN CAST(conc - disc AS DOUBLE)/CAST(conc + disc AS DOUBLE)
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS gk_gamma
         FROM v""",
    "q326_theil_sen_sampled" ->
      """WITH w AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) ws,
                     l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
         a AS (SELECT l_suppkey, CAST(ws - DATE '1992-01-01' AS DOUBLE) x,
                      CAST(q AS DOUBLE) y FROM w),
         idx AS (SELECT l_suppkey, x, y,
                  CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY x, y) AS BIGINT) AS i
                 FROM a),
         nn AS (SELECT l_suppkey, max(i) AS n FROM idx GROUP BY 1),
         sl AS (SELECT l_suppkey, n,
                 ((((42 + 2*t.t) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 AS h1,
                 ((((43 + 2*t.t) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 AS h2
                FROM nn, range(1, 201) AS t(t) WHERE n >= 2),
         dr AS (SELECT l_suppkey, (h1 % n) + 1 AS pi,
                 CASE WHEN (h2 % (n-1)) + 1 >= (h1 % n) + 1
                      THEN (h2 % (n-1)) + 2 ELSE (h2 % (n-1)) + 1 END AS pj
                FROM sl),
         p AS (SELECT d.l_suppkey,
                (round(((p2.y - p1.y)/(p2.x - p1.x))*1e4)/1e4 + 0.0e0) AS s
               FROM dr d
               JOIN idx p1 ON p1.l_suppkey = d.l_suppkey AND p1.i = d.pi
               JOIN idx p2 ON p2.l_suppkey = d.l_suppkey AND p2.i = d.pj
               WHERE p1.x <> p2.x),
         m AS (SELECT l_suppkey,
                (round((quantile_cont(s, 0.5e0))*1e4)/1e4 + 0.0e0) AS ts_slope,
                count(*) AS n_pairs
               FROM p GROUP BY 1),
         ic AS (SELECT a.l_suppkey,
                 (round((quantile_cont((round((a.y - m.ts_slope*a.x)*1e4)/1e4 + 0.0e0), 0.5e0))*1e4)/1e4 + 0.0e0) AS ts_intercept
                FROM a JOIN m USING (l_suppkey) GROUP BY 1)
         SELECT m.l_suppkey, m.ts_slope, m.n_pairs, ic.ts_intercept
         FROM m JOIN ic USING (l_suppkey)""",
    "q318_theil_sen" ->
      """WITH w AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) ws,
                     l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
         a AS (SELECT l_suppkey, CAST(ws - DATE '1992-01-01' AS DOUBLE) x,
                      CAST(q AS DOUBLE) y FROM w),
         p AS (SELECT a1.l_suppkey,
                (round(((a2.y - a1.y)/(a2.x - a1.x))*1e4)/1e4 + 0.0e0) AS s
               FROM a a1 JOIN a a2 ON a1.l_suppkey = a2.l_suppkey
                 AND a1.x < a2.x),
         m AS (SELECT l_suppkey,
                (round((quantile_cont(s, 0.5e0))*1e4)/1e4 + 0.0e0) AS ts_slope,
                count(*) AS n_pairs
               FROM p GROUP BY 1),
         ic AS (SELECT a.l_suppkey,
                 (round((quantile_cont((round((a.y - m.ts_slope*a.x)*1e4)/1e4 + 0.0e0), 0.5e0))*1e4)/1e4 + 0.0e0) AS ts_intercept
                FROM a JOIN m USING (l_suppkey) GROUP BY 1)
         SELECT m.l_suppkey, m.ts_slope, m.n_pairs, ic.ts_intercept
         FROM m JOIN ic USING (l_suppkey)""",
    // RRF: union of the two k-bounded rank tables, micro-int reciprocal
    // sum per (query, doc), re-rank by (score desc, doc asc), top 10
    "q317_rrf_fusion" ->
      """WITH b AS (SELECT l_returnflag AS query_id, l_suppkey AS neighbor_id,
                     sum(l_quantity) AS qty,
                     sum(l_extendedprice*(1-l_discount)) AS rev
                    FROM lineitem GROUP BY 1,2),
         ra AS (SELECT query_id, neighbor_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY qty DESC, neighbor_id) AS rank
                FROM b),
         rb AS (SELECT query_id, neighbor_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY rev DESC, neighbor_id) AS rank
                FROM b),
         u AS (SELECT query_id, neighbor_id, rank FROM ra WHERE rank <= 20
               UNION ALL
               SELECT query_id, neighbor_id, rank FROM rb WHERE rank <= 20),
         f AS (SELECT query_id, neighbor_id,
                (CAST(sum(CAST(round(1e6/(60 + rank)) AS BIGINT)) AS DOUBLE)/1e6) AS rrf_score,
                count(*) AS n_rankers
               FROM u GROUP BY 1,2),
         t AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
               FROM f)
         SELECT query_id, neighbor_id, rrf_score, n_rankers,
                CAST(rank AS BIGINT) AS rank
         FROM t WHERE rank <= 10""",
    // DP-style release: poly-hash of 'flag|suppkey' -> Lehmer uniform
    // (3 rounds for the count draw, 4 for the sum draw) -> inverse-CDF
    // Laplace, noise rounded 4dp before the add (the engine's lap())
    "q316_dp_release" ->
      """WITH g AS (SELECT l_returnflag, l_suppkey, count(*) AS n,
                     (CAST(sum(CAST(round(l_quantity*1e4) AS BIGINT)) AS DOUBLE)/1e4) AS s
                    FROM lineitem GROUP BY 1,2),
         h AS (SELECT *, list_reduce([ord(k[i:i])::BIGINT FOR i IN range(1, len(k)+1)],
                         (a,x) -> (a*31+x) % 1000000007) + 42 AS hk
               FROM (SELECT *, l_returnflag || '|' || CAST(l_suppkey AS VARCHAR) AS k
                     FROM g)),
         u AS (SELECT *,
                (CAST((((hk % 2147483647)*48271 % 2147483647)*48271 % 2147483647)*48271 % 2147483647 AS DOUBLE)
                 + 0.5e0)/2147483647.0e0 AS u3,
                (CAST(((((hk % 2147483647)*48271 % 2147483647)*48271 % 2147483647)*48271 % 2147483647)*48271 % 2147483647 AS DOUBLE)
                 + 0.5e0)/2147483647.0e0 AS u4
               FROM h)
         SELECT l_returnflag, l_suppkey,
                (round((n + (round(((-(1.0e0))*sign(u3 - 0.5e0)*ln(1.0e0 - 2.0e0*abs(u3 - 0.5e0)))*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) AS dp_count,
                (round((s + (round(((-(50.0e0))*sign(u4 - 0.5e0)*ln(1.0e0 - 2.0e0*abs(u4 - 0.5e0)))*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) AS dp_sum
         FROM u""",
    // interval-overlap join: the oracle runs the NAIVE inequality join,
    // so row-count parity per key proves the bucketed form's
    // first-shared-bucket dedup emits every overlapping pair exactly once
    "q315_overlap_join" ->
      """WITH l AS (SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS plo,
                           CAST(p_retailprice AS DOUBLE) + 100.0e0 AS phi
                    FROM part),
              r AS (SELECT s_suppkey, CAST(s_acctbal AS DOUBLE) AS slo,
                           CAST(s_acctbal AS DOUBLE) + 500.0e0 AS shi
                    FROM supplier)
         SELECT p_partkey, count(*) AS n_overlap, min(s_suppkey) AS min_supp
         FROM l JOIN r ON plo < shi AND slo < phi
         GROUP BY 1""",
    "q120_stratified_sample" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem
         WHERE ((l_orderkey % 2147483647) * 48271 % 2147483647)
                * 48271 % 2147483647 * 48271 % 2147483647
               < CASE l_returnflag WHEN 'A' THEN 107374182
                                   WHEN 'N' THEN 429496729
                                   WHEN 'R' THEN 214748364
                                   ELSE 0 END
         GROUP BY 1""",
    "q121_scrub_extract" ->
      """SELECT event_id,
                TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
                regexp_replace(props, '\d+', '#', 'g') AS props_redacted
         FROM events""",
    "q122_minhash_portable" -> minhashPortableSql,
    "q128_edit_verify" ->
      s"""WITH cand AS ($minhashPortableSql),
         v AS (SELECT cand.id_a, cand.id_b,
                      CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
                      (round((levenshtein(da.text, db.text)
                         / (greatest(length(da.text), length(db.text))*1.0))*1e4)/1e4 + 0.0e0)
                        AS edit_ratio
               FROM cand
               JOIN documents da ON cand.id_a = da.doc_id
               JOIN documents db ON cand.id_b = db.doc_id)
         SELECT id_a, id_b, lev, edit_ratio FROM v WHERE edit_ratio <= 0.3""",
    "q131_source_mix" -> {
      val cases = MixWeights.map { case (s, w) =>
        s"WHEN '$s' THEN ${w * 0.5}" }.mkString(" ")
      s"""WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS cnt
                     FROM documents GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM documents),
         k AS (SELECT d.doc_id, d.source, d.n_chars,
                      CAST(trunc(2147483647 * least(1.0,
                        (CASE d.source $cases ELSE 0.0 END) * total / cnt))
                        AS BIGINT) AS thr
               FROM documents d JOIN c ON d.source = c.source, tot)
         SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM k
         WHERE ((doc_id % 2147483647) * 48271 % 2147483647)
                * 48271 % 2147483647 * 48271 % 2147483647 < thr
         GROUP BY 1"""
    },
    "q138_curate" -> {
      val cases = MixWeights.map { case (s, w) =>
        s"WHEN '$s' THEN ${w * 0.5}" }.mkString(" ")
      s"""WITH g AS (SELECT doc_id, n_chars,
                           unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]) AS gram
                    FROM (SELECT doc_id, length(text) AS n_chars,
                                 string_split(text, ' ') AS ws FROM documents)),
         gc AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g GROUP BY 1,2,3),
         gr AS (SELECT doc_id, n_chars, gram, cnt,
                       row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rk
                FROM gc),
         rep AS (SELECT doc_id,
                        (round((max(CASE WHEN rk=1 THEN cnt*length(gram) END)
                               / (any_value(n_chars)*1.0))*1e4)/1e4 + 0.0e0) AS top_frac,
                        (round((least(1.0, sum(CASE WHEN cnt >= 2 THEN cnt*length(gram) ELSE 0 END)
                               / (any_value(n_chars)*1.0)))*1e4)/1e4 + 0.0e0) AS dup_frac
                 FROM gr GROUP BY doc_id),
         st AS (SELECT doc_id,
                       len(string_split_regex(trim(text), '\\s+')) AS n_words,
                       list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                w -> length(w)))
                         / (len(string_split_regex(trim(text), '\\s+')) + 1e-8) AS avg_len,
                       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                         / (length(text) + 1e-8) AS digit_ratio
                FROM documents),
         keep AS (SELECT st.doc_id FROM st LEFT JOIN rep ON st.doc_id = rep.doc_id
                  WHERE st.n_words >= 10 AND st.n_words <= 1000
                    AND st.avg_len >= 2.0 AND st.avg_len <= 12.0
                    AND st.digit_ratio < 0.2
                    AND coalesce(rep.top_frac, 0.0) < 0.2
                    AND coalesce(rep.dup_frac, 0.0) < 0.4),
         k1 AS (SELECT d.* FROM documents d JOIN keep ON d.doc_id = keep.doc_id),
         dd AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text
                                ORDER BY doc_id) AS rn FROM k1) WHERE rn = 1),
         c AS (SELECT source, CAST(count(*) AS DOUBLE) AS cnt FROM dd GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM dd),
         mx AS (SELECT dd.doc_id, dd.source, dd.text,
                       CAST(trunc(2147483647 * least(1.0,
                         (CASE dd.source $cases ELSE 0.0 END) * total / cnt))
                         AS BIGINT) AS thr
                FROM dd JOIN c ON dd.source = c.source, tot),
         sm AS (SELECT * FROM mx
                WHERE ((doc_id % 2147483647) * 48271 % 2147483647)
                       * 48271 % 2147483647 * 48271 % 2147483647 < thr),
         d2 AS (SELECT source, doc_id,
                       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
                FROM sm),
         a AS (SELECT source, doc_id, n_tokens,
                      CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           / 256) AS BIGINT) AS bin
               FROM d2),
         b AS (SELECT source, bin, count(*) AS n_docs, sum(n_tokens) AS n_tokens
               FROM a GROUP BY 1,2)
         SELECT source, count(*) AS n_bins, CAST(sum(n_docs) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM b GROUP BY 1"""
    },
    "q139_random_negatives" -> {
      def leh(x: String) =
        s"((($x) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647"
      s"""WITH c AS (SELECT doc_id AS neg_id, ${leh("doc_id")} % 64 AS bucket FROM documents),
         q0 AS (SELECT doc_id AS query_id, doc_id + 1 AS positive_id
                FROM documents WHERE doc_id < 20),
         q AS (SELECT DISTINCT query_id, positive_id,
                      ${leh("query_id + i*1000003")} % 64 AS bucket
               FROM q0, range(0, 8) t(i)),
         cand AS (SELECT DISTINCT query_id, neg_id
                  FROM q JOIN c USING (bucket)
                  WHERE neg_id <> query_id AND neg_id <> positive_id),
         rk AS (SELECT query_id, neg_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY ${leh("neg_id*1000003 + query_id")} ASC, neg_id ASC) AS rank
                FROM cand)
         SELECT query_id, neg_id, rank FROM rk WHERE rank <= 5"""
    },
    "q140_hard_negatives" ->
      """WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] qv FROM embeddings
                    WHERE vec_id < 5),
              c AS (SELECT vec_id, embedding::DOUBLE[] cv FROM embeddings),
              s AS (SELECT query_id, vec_id neg_id,
                      (round(list_dot_product(cv, qv)
                        /(sqrt(list_dot_product(cv, cv))*sqrt(list_dot_product(qv, qv)))
                        *1e4)/1e4 + 0.0e0) cos_sim
                    FROM c, q WHERE vec_id <> query_id AND vec_id <> query_id + 1),
              rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neg_id ASC) rank FROM s)
         SELECT query_id, neg_id, cos_sim, rank FROM rk WHERE rank <= 10""",
    // bloom stage is prune-only: the result is exactly the semi-join
    "q141_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""",
    "q142_bloom_anti" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                (round((sum(l_quantity))*1e4)/1e4 + 0.0e0) AS sum_qty
         FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
         GROUP BY 1""",
    // bit j of partkey -> position 2j+1, of suppkey -> position 2j (8 bits each)
    "q143_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                CAST(list_sum([ ((l_partkey % 256) // (1 << i)) % 2 * (1 << (2*i + 1))
                              + ((l_suppkey % 256) // (1 << i)) % 2 * (1 << (2*i))
                              FOR i IN range(0, 8) ]) AS BIGINT) AS z
         FROM lineitem""",
    // per-bigram logprob carried as round(lp*1e6) INTEGER micro-logs so
    // the per-doc sum is exact in any partial-agg order (Dsir pattern);
    // divided back once at the end. Multiple unnest zip positionally.
    "q144_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
                    FROM documents),
         bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
                FROM d WHERE len(t) >= 2),
         bc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
         uc AS (SELECT w, count(*) AS c1
                FROM (SELECT unnest(t) AS w FROM d) GROUP BY 1),
         v AS (SELECT count(*) AS v FROM uc),
         lp AS (SELECT doc_id,
                  CAST(round(ln((bc.cnt + 0.5e0) / (uc.c1 + 0.5e0 * v.v))*1e6) AS BIGINT) AS lpm
                FROM bg JOIN bc USING (w1, w2) JOIN uc ON bg.w1 = uc.w CROSS JOIN v),
         ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  (round((sum(lpm)/1e6/count(*))*1e4)/1e4 + 0.0e0) AS avg_logprob
                FROM lp GROUP BY 1)
         SELECT doc_id, n_bigrams, avg_logprob,
                (round(exp(-avg_logprob)*1e4)/1e4 + 0.0e0) AS perplexity
         FROM ag""",
    // q276: Kneser-Ney replayed — the same micro-log integer-sum
    // device as q144 over the interpolated probability
    "q276_kneser_ney" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
                    FROM documents),
         bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
                FROM d WHERE len(t) >= 2),
         bc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
         fwd AS (SELECT w1, count(*) AS n1f, sum(cnt) AS c1 FROM bc GROUP BY 1),
         bwd AS (SELECT w2, count(*) AS n1b FROM bc GROUP BY 1),
         tt AS (SELECT count(*) AS t FROM bc),
         lp AS (SELECT doc_id,
                  CAST(round(ln((bc.cnt - 0.75e0)/fwd.c1
                    + 0.75e0*fwd.n1f/fwd.c1*(bwd.n1b/tt.t))*1e6) AS BIGINT) AS lpm
                FROM bg JOIN bc USING (w1, w2) JOIN fwd USING (w1)
                     JOIN bwd USING (w2) CROSS JOIN tt),
         ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  (round((sum(lpm)/1e6/count(*))*1e4)/1e4 + 0.0e0) AS kn_avg_logprob
                FROM lp GROUP BY 1)
         SELECT doc_id, n_bigrams, kn_avg_logprob,
                (round(exp(-kn_avg_logprob)*1e4)/1e4 + 0.0e0) AS kn_perplexity
         FROM ag""",
    // q280: temperature weights replayed — rounded share into pow
    // (1/T = 0.5 literal), 1e-8 grid powers, exact micro-int normalizer
    "q280_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
              t AS (SELECT *, sum(n_docs) OVER () AS tot FROM c),
              p AS (SELECT source, n_docs,
                      (round((CAST(n_docs AS DOUBLE)/tot)*1e4)/1e4 + 0.0e0) AS raw_share
                    FROM t),
              q AS (SELECT *, (round(pow(raw_share, 0.5e0)*1e8)/1e8 + 0.0e0) AS pw
                    FROM p),
              nrm AS (SELECT *,
                      CAST(sum(CAST(round(pw*1e8) AS HUGEINT)) OVER () AS DOUBLE)/1e8 AS norm
                    FROM q)
         SELECT source, n_docs, raw_share,
                (round((pw/norm)*1e6)/1e6 + 0.0e0) AS weight
         FROM nrm""",
    "q145_scd2" ->
      """WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t,
                  lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
           FROM events),
         s AS (SELECT user_id, event_type, us,
                  CAST(sum(CASE WHEN prev_id IS NULL
                             OR prev_t IS DISTINCT FROM event_type THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
               FROM g),
         runs AS (SELECT user_id, seg, min(event_type) AS event_type, min(us) AS from_us
                  FROM s GROUP BY 1, 2),
         fin AS (SELECT user_id, event_type, from_us,
                        lead(from_us) OVER (PARTITION BY user_id ORDER BY seg) AS to_us,
                        seg AS version
                 FROM runs)
         SELECT user_id, event_type, from_us, to_us, version,
                (to_us IS NULL) AS is_current
         FROM fin""",
    "q148_cdc" ->
      """WITH w0 AS (SELECT o_custkey AS c_custkey,
                   'updated' AS c_name,
                   o_custkey % 25 AS c_nationkey,
                   o_totalprice AS c_acctbal,
                   o_orderpriority AS c_mktsegment,
                   CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders),
         w AS (SELECT * FROM w0 WHERE rn = 1)
         SELECT coalesce(w.c_custkey, c.c_custkey) AS c_custkey,
                CASE WHEN w.op IS NOT NULL THEN w.c_name ELSE c.c_name END AS c_name,
                CASE WHEN w.op IS NOT NULL THEN w.c_nationkey ELSE c.c_nationkey END AS c_nationkey,
                CASE WHEN w.op IS NOT NULL THEN w.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
                CASE WHEN w.op IS NOT NULL THEN w.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment
         FROM customer c FULL OUTER JOIN w ON c.c_custkey = w.c_custkey
         WHERE w.op IS NULL OR w.op <> 'D'""",
    "q149_funnel" ->
      """WITH t0 AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
               WHERE event_type = 'view' GROUP BY 1),
         t1 AS (SELECT t0.user_id, t0.t0,
                       min(CASE WHEN epoch_us(e.ts) >= t0.t0
                                THEN epoch_us(e.ts) END) AS t1
                FROM t0 LEFT JOIN events e
                  ON e.user_id = t0.user_id AND e.event_type = 'click'
                GROUP BY 1, 2),
         t2 AS (SELECT t1.user_id, t1.t0, t1.t1,
                       min(CASE WHEN epoch_us(e.ts) >= t1.t1
                                THEN epoch_us(e.ts) END) AS t2
                FROM t1 LEFT JOIN events e
                  ON e.user_id = t1.user_id AND e.event_type = 'purchase'
                GROUP BY 1, 2, 3)
         SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
                count(*) AS n_users, CAST(NULL AS DOUBLE) AS avg_sec_from_prev
         FROM t2
         UNION ALL
         SELECT CAST(1 AS BIGINT), 'click', count(*),
                (round((avg((t1 - t0) / 1000000.0e0))*1e4)/1e4 + 0.0e0)
         FROM t2 WHERE t1 IS NOT NULL
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'purchase', count(*),
                (round((avg((t2 - t1) / 1000000.0e0))*1e4)/1e4 + 0.0e0)
         FROM t2 WHERE t2 IS NOT NULL""",
    "q150_retention" ->
      """WITH fw AS (SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
                     FROM events GROUP BY 1),
         aw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
                FROM events),
         j AS (SELECT aw.user_id, fw.cohort_week,
                      CAST(datediff('day', fw.cohort_week, aw.active_week) // 7 AS BIGINT) AS week_k
               FROM aw JOIN fw USING (user_id)
               WHERE datediff('day', fw.cohort_week, aw.active_week) // 7 BETWEEN 0 AND 8),
         s AS (SELECT cohort_week, count(*) AS cohort_size FROM fw GROUP BY 1)
         SELECT j.cohort_week, j.week_k, s.cohort_size, count(*) AS n_active,
                (round((count(*) / CAST(s.cohort_size AS DOUBLE))*1e4)/1e4 + 0.0e0) AS retention
         FROM j JOIN s USING (cohort_week)
         GROUP BY 1, 2, 3""",
    "q151_weighted_sample" -> {
      def leh(x: String) =
        s"((($x) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647"
      s"""WITH s AS (SELECT doc_id, source,
                (round(pow((${leh("doc_id")} + 0.5e0) / 2147483647.0e0,
                           1.0e0 / n_chars)*1e6)/1e6 + 0.0e0) AS sample_key
              FROM documents),
         rk AS (SELECT *, row_number() OVER (PARTITION BY source
                  ORDER BY sample_key DESC, doc_id ASC) AS rank FROM s)
         SELECT source, doc_id, sample_key, rank FROM rk WHERE rank <= 20"""
    },
    "q152_pagerank" -> pageRankSql,
    "q206_ppr" -> pprSql,
    "q207_scd2" ->
      """WITH daily AS (SELECT l_partkey, l_suppkey, l_shipdate,
                          min(l_discount) AS discount
                        FROM lineitem GROUP BY 1,2,3),
           c AS (SELECT *, CASE WHEN discount IS DISTINCT FROM lag(discount) OVER w
                             THEN 1 ELSE 0 END AS chg
                 FROM daily
                 WINDOW w AS (PARTITION BY l_partkey, l_suppkey ORDER BY l_shipdate)),
           g AS (SELECT *, sum(chg) OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY l_shipdate
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                 FROM c),
           r AS (SELECT l_partkey, l_suppkey, min(discount) AS discount,
                   min(l_shipdate) AS vf, count(*) AS n_obs
                 FROM g GROUP BY l_partkey, l_suppkey, grp)
         SELECT l_partkey, l_suppkey, discount,
                epoch_us(vf) AS valid_from,
                epoch_us(lead(vf) OVER (PARTITION BY l_partkey, l_suppkey
                  ORDER BY vf)) AS valid_to,
                n_obs
         FROM r""",
    "q136_decompose" ->
      """WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                       sum(l_quantity) q FROM lineitem GROUP BY 1,2),
         t AS (SELECT l_suppkey, ws, q,
                      avg(q) OVER (PARTITION BY l_suppkey ORDER BY ws
                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend,
                      weekofyear(ws) AS woy
               FROM wk),
         s AS (SELECT *, avg(q - trend) OVER (PARTITION BY l_suppkey, woy) AS seasonal
               FROM t)
         SELECT l_suppkey, ws AS week_start,
                (round((q)*1e4)/1e4 + 0.0e0) AS qty,
                (round((trend)*1e4)/1e4 + 0.0e0) AS trend,
                (round((seasonal)*1e4)/1e4 + 0.0e0) AS seasonal,
                (round((q - trend - seasonal)*1e4)/1e4 + 0.0e0) AS residual
         FROM s""",
    "q137_psi" -> {
      val edges = (1 until 10).map { i =>
        s"quantile_cont(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN l_extendedprice END, 0.${i}) AS e${i - 1}"
      }.mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"(CASE WHEN l_extendedprice > e$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH e AS (SELECT $edges FROM lineitem),
         b AS (SELECT CAST($binExpr AS BIGINT) AS bin,
                      CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END AS is_ref
               FROM lineitem, e),
         c AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_n,
                      CAST(sum(1 - is_ref) AS BIGINT) AS cur_n
               FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(ref_n) AS DOUBLE) AS rt, CAST(sum(cur_n) AS DOUBLE) AS ct
               FROM c)
         SELECT bin, ref_n, cur_n,
                (round((ref_n/rt)*1e4)/1e4 + 0.0e0) AS ref_share,
                (round((cur_n/ct)*1e4)/1e4 + 0.0e0) AS cur_share,
                (round(((cur_n/ct - ref_n/rt)
                       * ln((cur_n/ct + 1e-6)/(ref_n/rt + 1e-6)))*1e4)/1e4 + 0.0e0)
                  AS psi_contrib
         FROM c, t"""
    },
    "q134_seq_pack" ->
      """WITH d AS (SELECT source, doc_id,
                      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
                    FROM documents),
         a AS (SELECT source, doc_id, n_tokens,
                      CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           / 256) AS BIGINT) AS bin
               FROM d)
         SELECT source, bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM a GROUP BY 1,2""",
    "q135_robust_scale" ->
      """SELECT l_orderkey, l_linenumber,
                (round((l_quantity)*1e4)/1e4 + 0.0e0) AS qty,
                (round(((l_quantity - med)/(iqr + 1e-8))*1e4)/1e4 + 0.0e0) AS robust_z
         FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                      quantile_cont(l_quantity, 0.5)
                        OVER (PARTITION BY l_returnflag) AS med,
                      quantile_cont(l_quantity, 0.75) OVER (PARTITION BY l_returnflag)
                      - quantile_cont(l_quantity, 0.25) OVER (PARTITION BY l_returnflag) AS iqr
               FROM lineitem)""",
    "q133_bm25" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
         d AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, ws FROM w),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d),
         p AS (SELECT doc_id, dl,
                      unnest(list_filter(ws,
                        t -> t IN ('spark','join','window','hash','merge'))) AS term
               FROM d),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM p GROUP BY 1,2,3),
         dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
         sc AS (SELECT doc_id, count(*) AS n_terms_matched,
                       (round((sum( ln(1.0 + (n_docs - df + 0.5)/(df + 0.5))
                            * (tf * (1.2 + 1.0))
                            / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) ))*1e4)/1e4
                         + 0.0e0) AS score
                FROM tf JOIN dft USING (term), st
                GROUP BY doc_id)
         SELECT doc_id, n_terms_matched, score FROM sc
         ORDER BY score DESC, doc_id ASC LIMIT 20""",
    "q132_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh0 AS (SELECT doc_id,
                        unnest([array_to_string(ws[i:i+3], ' ')
                                FOR i IN range(1, len(ws)-2)]) AS shingle
                 FROM w WHERE len(ws) >= 4),
         sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
         b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
         SELECT t.doc_id, count(*) AS n_matched
         FROM sh t JOIN b USING (shingle)
         WHERE t.doc_id >= 10
         GROUP BY 1""",
    "q129_vocab" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                    FROM documents),
         c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
         rk AS (SELECT token, cnt,
                       row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
                FROM c),
         top AS (SELECT * FROM rk WHERE rank <= 200)
         SELECT token, cnt, rank,
                (round((sum(cnt) OVER (ORDER BY rank
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/total)*1e4)/1e4
                  + 0.0e0) AS cum_share
         FROM top, tot""",
    "q130_quality_filter" ->
      """WITH g AS (SELECT doc_id, n_chars,
                           unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]) AS gram
                    FROM (SELECT doc_id, length(text) AS n_chars,
                                 string_split(text, ' ') AS ws FROM documents)),
         gc AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g GROUP BY 1,2,3),
         gr AS (SELECT doc_id, n_chars, gram, cnt,
                       row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rk
                FROM gc),
         rep AS (SELECT doc_id,
                        (round((max(CASE WHEN rk=1 THEN cnt*length(gram) END)
                               / (any_value(n_chars)*1.0))*1e4)/1e4 + 0.0e0) AS top_frac,
                        (round((least(1.0, sum(CASE WHEN cnt >= 2 THEN cnt*length(gram) ELSE 0 END)
                               / (any_value(n_chars)*1.0)))*1e4)/1e4 + 0.0e0) AS dup_frac
                 FROM gr GROUP BY doc_id),
         st AS (SELECT doc_id,
                       len(string_split_regex(trim(text), '\s+')) AS n_words,
                       list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                w -> length(w)))
                         / (len(string_split_regex(trim(text), '\s+')) + 1e-8) AS avg_len,
                       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                         / (length(text) + 1e-8) AS digit_ratio
                FROM documents)
         SELECT st.doc_id,
                CAST(st.n_words >= 10 AND st.n_words <= 1000 AS INT) AS ok_words,
                CAST(st.avg_len >= 2.0 AND st.avg_len <= 12.0 AS INT) AS ok_word_len,
                CAST(st.digit_ratio < 0.2 AS INT) AS ok_digit,
                CAST(coalesce(rep.top_frac, 0.0) < 0.2 AS INT) AS ok_top2,
                CAST(coalesce(rep.dup_frac, 0.0) < 0.4 AS INT) AS ok_dup2,
                CAST(st.n_words >= 10 AND st.n_words <= 1000
                     AND st.avg_len >= 2.0 AND st.avg_len <= 12.0
                     AND st.digit_ratio < 0.2
                     AND coalesce(rep.top_frac, 0.0) < 0.2
                     AND coalesce(rep.dup_frac, 0.0) < 0.4 AS INT) AS keep
         FROM st LEFT JOIN rep ON st.doc_id = rep.doc_id""",
    "q123_simhash_portable" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_reduce([ord(tok[i:i])::BIGINT FOR i IN range(1, len(tok)+1)],
                              (a,x) -> (a*31+x) % 1000000007) AS h
           FROM tok),
         hs AS (SELECT doc_id, list(h) AS hl FROM th GROUP BY 1),
         fp AS (
           SELECT doc_id,
                  list_sum([CASE WHEN list_sum([CASE WHEN (h >> i) & 1 = 1
                                                THEN 1 ELSE -1 END FOR h IN hl]) > 0
                            THEN (1::BIGINT << i) ELSE 0 END
                            FOR i IN range(0,30)]) AS f
           FROM hs),
         bands AS (
           SELECT doc_id, b, (f >> (b*5)) & 31 AS key, f
           FROM fp, range(0,6) t(b))
         SELECT id_a, id_b, hamming FROM (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                  CAST(bit_count(xor(a.f, c.f)) AS BIGINT) AS hamming
           FROM bands a JOIN bands c
             ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id)
         WHERE hamming <= 10""",
    "q124_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         ch AS (SELECT doc_id,
                       unnest([{'no': i, 'chunk': array_to_string(ws[((i-1)*10+1):(i*10)], ' ')}
                               FOR i IN range(1, CAST(ceil(len(ws)/10.0) AS BIGINT)+1)]) AS c
                FROM w),
         fl AS (SELECT doc_id, c.no AS span_no, c.chunk AS span FROM ch),
         kept AS (SELECT doc_id, span_no, span,
                         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_no) AS rn
                  FROM fl)
         SELECT doc_id,
                count(*) AS n_spans,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_no), '')
                  AS text_dedup
         FROM kept GROUP BY doc_id""",
    "q125_repetition" ->
      """WITH w AS (SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, n_chars,
                      unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]) AS gram
               FROM w),
         c AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g GROUP BY 1,2,3),
         t AS (SELECT doc_id, n_chars, gram, cnt,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rk
               FROM c)
         SELECT doc_id,
                max(CASE WHEN rk=1 THEN gram END) AS top_gram,
                CAST(max(CASE WHEN rk=1 THEN cnt END) AS BIGINT) AS top_cnt,
                (round((max(CASE WHEN rk=1 THEN cnt*length(gram) END)
                        / (any_value(n_chars)*1.0))*1e4)/1e4 + 0.0e0) AS top_gram_char_frac,
                (round((least(1.0, sum(CASE WHEN cnt >= 2 THEN cnt*length(gram) ELSE 0 END)
                        / (any_value(n_chars)*1.0)))*1e4)/1e4 + 0.0e0) AS dup_gram_char_frac
         FROM t GROUP BY doc_id""",
    "q126_harmonic_fit" ->
      """WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                       sum(l_quantity) q FROM lineitem GROUP BY 1,2),
         f AS (SELECT l_suppkey,
                      sin(date_diff('day', DATE '1995-01-01', ws)/7.0 * (2*pi()/52)) s,
                      cos(date_diff('day', DATE '1995-01-01', ws)/7.0 * (2*pi()/52)) c,
                      q
               FROM wk),
         m AS (SELECT l_suppkey, count(*) AS n_obs,
                      (round((sum(s))*1e6)/1e6 + 0.0e0) ss, (round((sum(c))*1e6)/1e6 + 0.0e0) sc,
                      (round((sum(s*s))*1e6)/1e6 + 0.0e0) sss, (round((sum(c*c))*1e6)/1e6 + 0.0e0) scc,
                      (round((sum(s*c))*1e6)/1e6 + 0.0e0) ssc,
                      (round((sum(q))*1e6)/1e6 + 0.0e0) sy, (round((sum(s*q))*1e6)/1e6 + 0.0e0) ssy,
                      (round((sum(c*q))*1e6)/1e6 + 0.0e0) scy
               FROM f GROUP BY 1),
         sol AS (SELECT l_suppkey, n_obs,
                        CAST(n_obs AS DOUBLE) n, ss, sc, sss, scc, ssc, sy, ssy, scy,
                        n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc) AS det
                 FROM m),
         b AS (SELECT l_suppkey, n_obs,
                      CASE WHEN abs(det) > 1e-9 THEN
                        (sy*(sss*scc - ssc*ssc) - ss*(ssy*scc - ssc*scy) + sc*(ssy*ssc - sss*scy))/det
                      END AS b0,
                      CASE WHEN abs(det) > 1e-9 THEN
                        (n*(ssy*scc - ssc*scy) - sy*(ss*scc - ssc*sc) + sc*(ss*scy - ssy*sc))/det
                      END AS b1,
                      CASE WHEN abs(det) > 1e-9 THEN
                        (n*(sss*scy - ssy*ssc) - ss*(ss*scy - ssy*sc) + sy*(ss*ssc - sss*sc))/det
                      END AS b2
               FROM sol)
         SELECT l_suppkey, n_obs,
                (round((b0)*1e4)/1e4 + 0.0e0) AS b0,
                (round((b1)*1e4)/1e4 + 0.0e0) AS b1,
                (round((b2)*1e4)/1e4 + 0.0e0) AS b2,
                (round((sqrt(b1*b1 + b2*b2))*1e4)/1e4 + 0.0e0) AS amplitude
         FROM b""",
    "q77_intermittency" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey,
                      sum(CASE WHEN l_discount > 0 THEN l_quantity ELSE 0.0 END) dq
                    FROM lineitem GROUP BY 1,2,3),
              a AS (SELECT l_partkey, l_suppkey, count(*) n_periods,
                      CAST(sum(CASE WHEN dq > 0 THEN 1 ELSE 0 END) AS BIGINT) n_nonzero,
                      avg(CASE WHEN dq > 0 THEN dq END) nz_mean,
                      stddev(CASE WHEN dq > 0 THEN dq END) nz_std
                    FROM w GROUP BY 1,2),
              c AS (SELECT *, CASE WHEN n_nonzero = 0 THEN NULL
                      ELSE CAST(n_periods AS DOUBLE)/n_nonzero END adi,
                      CASE WHEN nz_std IS NULL THEN NULL
                      ELSE (nz_std/nz_mean)*(nz_std/nz_mean) END cv2
                    FROM a)
         SELECT l_partkey, l_suppkey, n_periods, n_nonzero,
                (round(adi*1e4)/1e4 + 0.0e0) AS adi, (round(cv2*1e4)/1e4 + 0.0e0) AS cv2,
                CASE WHEN n_nonzero = 0 THEN 'dead'
                     WHEN adi < 1.32 AND (cv2 < 0.49 OR cv2 IS NULL) THEN 'smooth'
                     WHEN adi >= 1.32 AND (cv2 < 0.49 OR cv2 IS NULL) THEN 'intermittent'
                     WHEN adi < 1.32 THEN 'erratic'
                     ELSE 'lumpy' END AS demand_class
         FROM c""",
    "q78_submission_report" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q FROM lineitem GROUP BY 1,2,3),
              m AS (SELECT l_partkey, l_suppkey, avg(q) p FROM w GROUP BY 1,2),
              g AS (SELECT r.semana, l_suppkey pdv, l_partkey produto,
                      CAST(greatest((round((p)*1e0)/1e0 + 0.0e0), 0.0) AS BIGINT) quantidade
                    FROM m, range(1, 6) r(semana))
         SELECT count(*) AS total_rows,
                CAST(sum(CASE WHEN semana IS NULL OR pdv IS NULL OR produto IS NULL
                         OR quantidade IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rows,
                CAST(sum(CASE WHEN semana < 1 OR semana > 5 THEN 1 ELSE 0 END) AS BIGINT) AS bad_week_rows,
                CAST(sum(CASE WHEN quantidade < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_qty_rows,
                CAST(sum(CASE WHEN quantidade <> CAST(quantidade AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT)
                  AS non_integer_rows,
                count(DISTINCT semana) AS n_weeks,
                count(DISTINCT pdv) AS n_stores,
                count(DISTINCT produto) AS n_products,
                min(quantidade) AS qty_min, max(quantidade) AS qty_max,
                (round(avg(quantidade)*1e4)/1e4 + 0.0e0) AS qty_mean,
                (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
                  (SELECT count(*) c FROM g GROUP BY semana, pdv, produto HAVING count(*) > 1))
                  AS dup_rows
         FROM g""",
    "q79_postprocess_chain" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q FROM lineitem GROUP BY 1,2,3),
              c1 AS (SELECT ws, l_partkey, l_suppkey, greatest(q, 0.0) q FROM w),
              st AS (SELECT avg(q) mu, stddev(q) sd FROM c1),
              c2 AS (SELECT ws, l_partkey, l_suppkey,
                       CASE WHEN sd IS NOT NULL THEN least(q, mu + 3*sd) ELSE q END q
                     FROM c1, st),
              c3 AS (SELECT ws, l_partkey, l_suppkey,
                       CASE WHEN lag(q,1) OVER sw IS NOT NULL AND lag(q,1) OVER sw > 0
                            THEN least(q, lag(q,1) OVER sw * 2.0) ELSE q END q
                     FROM c2
                     WINDOW sw AS (PARTITION BY l_partkey, l_suppkey ORDER BY ws))
         SELECT ws AS week_start, l_partkey, l_suppkey,
                CAST(greatest((round((q)*1e0)/1e0 + 0.0e0), 0.0) AS BIGINT) AS final_qty
         FROM c3""",
    "q80_cv_folds" ->
      """WITH g AS (SELECT min(CAST(l_shipdate AS DATE)) mn, max(CAST(l_shipdate AS DATE)) mx
                    FROM lineitem)
         SELECT fold, train_start, train_end, test_start, test_end
         FROM (SELECT CAST(i AS INT) fold, mn AS train_start,
                 mn + CAST((52 + i*26)*7 AS INT) AS train_end,
                 mn + CAST((52 + i*26)*7 + 7 AS INT) AS test_start,
                 mn + CAST((52 + i*26)*7 + 7 + 28 AS INT) AS test_end, mx
               FROM g, range(0, 5) r(i))
         WHERE test_end <= mx + 1""",
    "q81_moments" ->
      """WITH a AS (SELECT l_returnflag, count(*) n, avg(l_quantity) m1,
                      avg(l_quantity*l_quantity) m2r,
                      avg(l_quantity*l_quantity*l_quantity) m3r,
                      avg(l_quantity*l_quantity*l_quantity*l_quantity) m4r
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag,
                (round((m3r - 3*m1*m2r + 2*m1*m1*m1) / pow(m2r - m1*m1, 1.5) * 1e4)/1e4 + 0.0e0)
                  AS qty_skew,
                (round(((m4r - 4*m1*m3r + 6*m1*m1*m2r - 3*pow(m1,4))
                       / pow(m2r - m1*m1, 2) - 3) * 1e4)/1e4 + 0.0e0) AS qty_kurt,
                n AS n_obs
         FROM a""",
    "q82_prophet_prep" ->
      """SELECT CAST(l_shipdate AS DATE) AS ds, (round(sum(l_quantity)*1e4)/1e4 + 0.0e0) AS y,
                count(*) AS n_tx
         FROM lineitem GROUP BY 1 HAVING (round(sum(l_quantity)*1e4)/1e4 + 0.0e0) > 0""",
    "q83_regional_rollup" ->
      """WITH j AS (SELECT n_name region, l_suppkey, l_partkey, l_quantity
                    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey),
              a AS (SELECT region, sum(l_quantity) vs, avg(l_quantity) vm, count(*) n_rows,
                      stddev(l_quantity) vstd, count(DISTINCT l_suppkey) ns,
                      count(DISTINCT l_partkey) np
                    FROM j GROUP BY 1)
         SELECT region, (round(vs*1e4)/1e4 + 0.0e0) AS vol_sum, (round(vm*1e4)/1e4 + 0.0e0) AS vol_mean,
                n_rows, (round(vstd*1e4)/1e4 + 0.0e0) AS vol_std, ns AS n_stores, np AS n_products,
                (round(vs/sum(vs) OVER ()*1e4)/1e4 + 0.0e0) AS vol_share,
                ntile(3) OVER (ORDER BY vs ASC, region ASC) AS econ_tier,
                (round(CAST(np AS DOUBLE)/ns*1e4)/1e4 + 0.0e0) AS product_diversity
         FROM a""",
    "q84_profit_rollup" ->
      """WITH t AS (SELECT p_brand, l_extendedprice*(1-l_discount) revenue,
                      l_extendedprice*(1-l_discount) - l_quantity*p_retailprice*0.5 profit
                    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey)
         SELECT p_brand, (round(sum(profit)*1e4)/1e4 + 0.0e0) AS profit_sum,
                (round(avg(profit)*1e4)/1e4 + 0.0e0) AS profit_mean,
                (round(stddev(profit)*1e4)/1e4 + 0.0e0) AS profit_std,
                (round(((round(sum(profit)*1e4)/1e4 + 0.0e0)) / ((round(sum(revenue)*1e4)/1e4 + 0.0e0)) * 1e4)/1e4 + 0.0e0)
                  AS margin
         FROM t GROUP BY 1""",
    "q85_feature_quality" ->
      """WITH f AS (SELECT l_partkey, (round(sum(l_quantity)*1e4)/1e4 + 0.0e0) qty_sum,
                      (round(avg(l_quantity)*1e4)/1e4 + 0.0e0) qty_mean,
                      (round((CASE WHEN count(*) > 1 THEN stddev(l_quantity) END)*1e4)/1e4 + 0.0e0)
                        qty_std
                    FROM lineitem GROUP BY 1)
         SELECT 'qty_sum' AS feature,
                CAST(sum(CASE WHEN qty_sum IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                CAST(sum(CASE WHEN isnan(qty_sum) THEN 1 ELSE 0 END) AS BIGINT) AS n_nans,
                CAST(sum(CASE WHEN qty_sum = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
                count(DISTINCT qty_sum) AS n_distinct,
                CAST(count(DISTINCT qty_sum) <= 1 AS INT) AS is_constant,
                (round(avg(qty_sum)*1e4)/1e4 + 0.0e0) AS mean, (round(stddev(qty_sum)*1e4)/1e4 + 0.0e0) AS std
         FROM f
         UNION ALL
         SELECT 'qty_mean',
                CAST(sum(CASE WHEN qty_mean IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN isnan(qty_mean) THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN qty_mean = 0 THEN 1 ELSE 0 END) AS BIGINT),
                count(DISTINCT qty_mean),
                CAST(count(DISTINCT qty_mean) <= 1 AS INT),
                (round(avg(qty_mean)*1e4)/1e4 + 0.0e0), (round(stddev(qty_mean)*1e4)/1e4 + 0.0e0)
         FROM f
         UNION ALL
         SELECT 'qty_std',
                CAST(sum(CASE WHEN qty_std IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN isnan(qty_std) THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN qty_std = 0 THEN 1 ELSE 0 END) AS BIGINT),
                count(DISTINCT qty_std),
                CAST(count(DISTINCT qty_std) <= 1 AS INT),
                (round(avg(qty_std)*1e4)/1e4 + 0.0e0), (round(stddev(qty_std)*1e4)/1e4 + 0.0e0)
         FROM f""",
    "q86_high_corr" ->
      """WITH f AS (SELECT l_partkey, sum(l_quantity) qty_sum, avg(l_quantity) qty_mean,
                      count(l_quantity) qty_count FROM lineitem GROUP BY 1),
              p AS (SELECT 'qty_sum' fa, 'qty_mean' fb, corr(qty_sum, qty_mean) c FROM f
                    UNION ALL
                    SELECT 'qty_sum', 'qty_count', corr(qty_sum, qty_count) FROM f
                    UNION ALL
                    SELECT 'qty_mean', 'qty_count', corr(qty_mean, qty_count) FROM f)
         SELECT fa AS feature_a, fb AS feature_b, (round(c*1e4)/1e4 + 0.0e0) AS corr
         FROM p WHERE abs(c) > 0.5""",
    "q87_importance" ->
      """WITH f AS (SELECT l_partkey, sum(l_quantity) qty_sum, avg(l_quantity) qty_mean,
                      CASE WHEN count(*) > 1 THEN stddev(l_quantity) END qty_std,
                      count(l_quantity) qty_count FROM lineitem GROUP BY 1),
              sc AS (SELECT 'qty_mean' feature,
                       coalesce(abs(corr(qty_mean, qty_sum)), 0)*0.3
                       + coalesce(stddev(qty_mean)/(abs(avg(qty_mean))+1e-8), 0)*0.2 + 0.0 s
                     FROM f
                     UNION ALL
                     SELECT 'qty_std',
                       coalesce(abs(corr(qty_std, qty_sum)), 0)*0.3
                       + coalesce(stddev(qty_std)/(abs(avg(qty_std))+1e-8), 0)*0.2 + 0.0
                     FROM f
                     UNION ALL
                     SELECT 'qty_count',
                       coalesce(abs(corr(qty_count, qty_sum)), 0)*0.3
                       + coalesce(stddev(qty_count)/(abs(avg(qty_count))+1e-8), 0)*0.2 + 0.0
                     FROM f)
         SELECT feature, (round(s*1e4)/1e4 + 0.0e0) AS score FROM sc""",
    "q88_scoring_join" ->
      """WITH p AS (SELECT l_partkey, avg(l_quantity) pred FROM lineitem GROUP BY 1)
         SELECT (round(sum(abs(l_quantity - pred))/(sum(abs(l_quantity)) + 1e-8)*100*1e4)/1e4 + 0.0e0)
                  AS wmape,
                count(*) AS n_rows
         FROM lineitem JOIN p USING (l_partkey)""",
    "q89_multiway_outer" ->
      """WITH a AS (SELECT l_partkey, (round(sum(l_quantity)*1e4)/1e4 + 0.0e0) qty_sum
                    FROM lineitem GROUP BY 1),
              b AS (SELECT l_partkey, count(DISTINCT l_suppkey) n_supp
                    FROM lineitem GROUP BY 1),
              c AS (SELECT l_partkey, (round(sum(l_quantity)*1e4)/1e4 + 0.0e0) disc_qty
                    FROM lineitem WHERE l_discount > 0.08 GROUP BY 1)
         SELECT l_partkey, qty_sum, n_supp, disc_qty
         FROM a FULL JOIN b USING (l_partkey) FULL JOIN c USING (l_partkey)""",
    "q90_affinity" ->
      """WITH pair AS (SELECT l_suppkey store, l_partkey product, avg(l_quantity) pm
                       FROM lineitem GROUP BY 1,2),
              bp AS (SELECT l_partkey product, avg(l_quantity) prm FROM lineitem GROUP BY 1),
              bs AS (SELECT l_suppkey store, avg(l_quantity) sm FROM lineitem GROUP BY 1)
         SELECT store, product, (round(pm*1e4)/1e4 + 0.0e0) AS pair_mean,
                (round(prm*1e4)/1e4 + 0.0e0) AS product_mean, (round(sm*1e4)/1e4 + 0.0e0) AS store_mean,
                (round(pm/prm*1e4)/1e4 + 0.0e0) AS product_affinity,
                (round(pm/sm*1e4)/1e4 + 0.0e0) AS store_affinity
         FROM pair JOIN bp USING (product) JOIN bs USING (store)""",
    "q91_pivot" ->
      """SELECT l_returnflag,
                (round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)*1e4)/1e4 + 0.0e0) AS "O",
                (round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)*1e4)/1e4 + 0.0e0) AS "F"
         FROM lineitem GROUP BY 1""",
    "q92_hurdle" ->
      """SELECT l_partkey,
                (round(avg(CASE WHEN l_discount > 0 THEN 1.0 ELSE 0.0 END)*1e4)/1e4 + 0.0e0)
                  AS p_nonzero,
                (round(avg(CASE WHEN l_discount > 0 THEN l_quantity END)*1e4)/1e4 + 0.0e0) AS nz_mean,
                count(*) AS n_obs,
                (round(avg(CASE WHEN l_discount > 0 THEN 1.0 ELSE 0.0 END)
                      * coalesce(avg(CASE WHEN l_discount > 0 THEN l_quantity END), 0)
                      *1e4)/1e4 + 0.0e0) AS hurdle_forecast
         FROM lineitem GROUP BY 1""",
    "q93_fallback" ->
      """WITH tr AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'),
              f AS (SELECT l_partkey, l_suppkey, avg(l_quantity) fm FROM tr GROUP BY 1,2),
              c AS (SELECT l_partkey, avg(l_quantity) cm FROM tr GROUP BY 1),
              g AS (SELECT avg(l_quantity) gm FROM tr)
         SELECT l_orderkey, l_linenumber,
                (round(coalesce(fm, cm, gm)*1e4)/1e4 + 0.0e0) AS fallback_forecast
         FROM lineitem LEFT JOIN f USING (l_partkey, l_suppkey)
         LEFT JOIN c USING (l_partkey) CROSS JOIN g""",
    "q94_ensemble_meta" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p1,
                      avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) p2,
                      coalesce(lag(l_quantity,1) OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber), l_quantity) p3
                    FROM lineitem),
              m AS (SELECT *, ((0.0 + p1) + p2 + p3)/3 mean FROM t)
         SELECT l_orderkey, l_linenumber, (round(mean*1e4)/1e4 + 0.0e0) AS ens_mean,
                (round(least(p1, p2, p3)*1e4)/1e4 + 0.0e0) AS ens_min,
                (round(greatest(p1, p2, p3)*1e4)/1e4 + 0.0e0) AS ens_max,
                (round((greatest(p1,p2,p3) - least(p1,p2,p3))*1e4)/1e4 + 0.0e0) AS ens_range,
                (round(sqrt(((0.0 + (p1-mean)*(p1-mean)) + (p2-mean)*(p2-mean)
                  + (p3-mean)*(p3-mean))/3)*1e4)/1e4 + 0.0e0) AS ens_std,
                (round(greatest(abs(p1-p2), abs(p1-p3), abs(p2-p3))*1e4)/1e4 + 0.0e0)
                  AS ens_max_disagreement
         FROM m""",
    "q95_blend" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p1,
                      avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) p2,
                      coalesce(lag(l_quantity,1) OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber), l_quantity) p3
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                (round((p1*0.5 + p2*0.3 + p3*0.2)*1e4)/1e4 + 0.0e0) AS blended
         FROM t""",
    "q96_kpi" ->
      """WITH t AS (SELECT l_returnflag, l_quantity a,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p FROM lineitem),
              g AS (SELECT l_returnflag,
                      sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100 wm FROM t GROUP BY 1)
         SELECT l_returnflag, (round(wm*1e4)/1e4 + 0.0e0) AS wmape,
                CASE WHEN wm >= 30 THEN 'CRIT' WHEN wm >= 20 THEN 'WARN'
                     ELSE 'OK' END AS status
         FROM g""",
    "q97_error_decomp" ->
      """WITH t AS (SELECT l_linestatus, l_quantity a,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p FROM lineitem)
         SELECT l_linestatus,
                (round(sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100*1e4)/1e4 + 0.0e0) AS wmape,
                (round(avg(p-a)*1e4)/1e4 + 0.0e0) AS bias,
                (round(stddev(p-a)*1e4)/1e4 + 0.0e0) AS resid_std,
                count(*) AS n_rows
         FROM t GROUP BY 1""",
    "q98_lag_deltas" ->
      """SELECT l_orderkey, l_linenumber,
                (round((l_quantity - lag(l_quantity,1) OVER w)*1e4)/1e4 + 0.0e0) AS d1,
                (round((l_quantity - lag(l_quantity,1) OVER w)
                      /(lag(l_quantity,1) OVER w + 1e-8)*1e4)/1e4 + 0.0e0) AS pct1,
                (round(l_quantity/(lag(l_quantity,1) OVER w + 1e-8)*1e4)/1e4 + 0.0e0) AS ratio1
         FROM lineitem
         WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber)""",
    "q99_rolling_skew" ->
      """WITH f AS (SELECT l_orderkey, l_linenumber,
                      avg(l_quantity) OVER w m1,
                      avg(l_quantity*l_quantity) OVER w m2r,
                      avg(l_quantity*l_quantity*l_quantity) OVER w m3r
                    FROM lineitem
                    WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         SELECT l_orderkey, l_linenumber,
                (round((m3r - 3*m1*m2r + 2*m1*m1*m1) / pow(m2r - m1*m1, 1.5)*1e4)/1e4 + 0.0e0)
                  AS skew6
         FROM f""",
    "q100_trend_accel" ->
      """WITH t AS (SELECT *, CAST(row_number() OVER (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DOUBLE) x
                    FROM lineitem),
              f AS (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, x,
                      CAST(count(l_quantity) OVER w AS DOUBLE) cnt,
                      sum(x) OVER w sx, sum(l_quantity) OVER w sy,
                      sum(x*l_quantity) OVER w sxy, sum(x*x) OVER w sxx
                    FROM t
                    WINDOW w AS (PARTITION BY l_partkey, l_suppkey ORDER BY x
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
              sl AS (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, x,
                       CASE WHEN cnt*sxx - sx*sx > 0
                         THEN (cnt*sxy - sx*sy)/(cnt*sxx - sx*sx) END slope
                     FROM f)
         SELECT l_orderkey, l_linenumber,
                (round((slope - lag(slope,1) OVER (PARTITION BY l_partkey, l_suppkey
                  ORDER BY x))*1e4)/1e4 + 0.0e0) AS accel4
         FROM sl""",
    "q101_promo_flag" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate,
                      l_extendedprice/l_quantity price FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CAST(price < avg(price) OVER (PARTITION BY l_partkey, l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 0.9 AS INT) AS is_promo
         FROM t""",
    "q102_sliding_seq" ->
      """SELECT l_orderkey, l_linenumber,
                array_to_string(list(CAST(l_quantity AS BIGINT)) OVER (
                  PARTITION BY l_partkey, l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), ',') AS seq3
         FROM lineitem""",
    "q105_backfill_median" ->
      """SELECT l_orderkey, l_linenumber,
                (round(coalesce(lag(l_quantity,1) OVER w,
                  quantile_cont(l_quantity, 0.5) OVER g)*1e4)/1e4 + 0.0e0) AS lag1_filled
         FROM lineitem
         WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber),
                g AS (PARTITION BY l_partkey, l_suppkey)""",
    // ---- model-evaluation metrics (q153-q157) ----
    "q153_auc" ->
      """WITH s AS (SELECT l_linestatus, l_discount AS score,
                      sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) np,
                      sum(CASE WHEN l_returnflag='R' THEN 0 ELSE 1 END) nn
                    FROM lineitem GROUP BY 1,2),
              c AS (SELECT *, coalesce(sum(nn) OVER (PARTITION BY l_linestatus
                      ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) cum_nn FROM s)
         SELECT l_linestatus, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                (round(sum(np*(cum_nn + nn/2.0e0))/(sum(np)*sum(nn))*1e4)/1e4 + 0.0e0) AS auc
         FROM c GROUP BY 1""",
    "q154_ks" ->
      """WITH s AS (SELECT l_linestatus, l_discount AS score,
                      sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) np,
                      sum(CASE WHEN l_returnflag='R' THEN 0 ELSE 1 END) nn
                    FROM lineitem GROUP BY 1,2),
              d AS (SELECT *, sum(np) OVER c AS cp, sum(nn) OVER c AS cn,
                      sum(np) OVER a AS tp, sum(nn) OVER a AS tn
                    FROM s
                    WINDOW c AS (PARTITION BY l_linestatus ORDER BY score
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                           a AS (PARTITION BY l_linestatus
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
              d2 AS (SELECT *, abs(cp/tp - cn/tn) AS diff FROM d),
              d3 AS (SELECT *, max(diff) OVER (PARTITION BY l_linestatus) AS mx FROM d2)
         SELECT l_linestatus, min(score) AS ks_score,
                (round(max(diff)*1e4)/1e4 + 0.0e0) AS ks
         FROM d3 WHERE diff = mx GROUP BY 1""",
    "q155_gains" ->
      """WITH s AS (SELECT l_discount AS score,
                      sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) np,
                      sum(CASE WHEN l_returnflag='R' THEN 0 ELSE 1 END) nn
                    FROM lineitem GROUP BY 1),
              c AS (SELECT score, sum(np+nn) OVER wd AS cum_n, sum(np) OVER wd AS cum_pos,
                      sum(np) OVER () AS tp, sum(np+nn) OVER () AS tn
                    FROM s
                    WINDOW wd AS (ORDER BY score DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT score, CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
                (round(cum_pos/tp*1e4)/1e4 + 0.0e0) AS capture,
                (round((cum_pos/cum_n)/(tp/tn)*1e4)/1e4 + 0.0e0) AS lift
         FROM c""",
    "q156_threshold_sweep" ->
      """WITH s AS (SELECT l_discount AS score,
                      sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) np,
                      sum(CASE WHEN l_returnflag='R' THEN 0 ELSE 1 END) nn
                    FROM lineitem GROUP BY 1),
              th AS (SELECT i/100.0e0 AS threshold FROM range(0, 11) t(i)),
              x AS (SELECT threshold,
                      sum(CASE WHEN score >= threshold THEN np ELSE 0 END) tp,
                      sum(CASE WHEN score >= threshold THEN nn ELSE 0 END) fp,
                      sum(CASE WHEN score < threshold THEN np ELSE 0 END) fn,
                      sum(CASE WHEN score < threshold THEN nn ELSE 0 END) tn
                    FROM s CROSS JOIN th GROUP BY 1)
         SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                (round(tp/nullif(tp+fp, 0)*1e4)/1e4 + 0.0e0) AS precision,
                (round(tp/nullif(tp+fn, 0)*1e4)/1e4 + 0.0e0) AS recall,
                (round(2*tp/nullif(2*tp+fp+fn, 0)*1e4)/1e4 + 0.0e0) AS f1
         FROM x""",
    "q157_calibration" ->
      """WITH b AS (SELECT least(CAST(floor((l_discount*10)*10) AS BIGINT), 9) AS bin,
                      l_discount*10 AS s,
                      CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END AS y
                    FROM lineitem)
         SELECT bin, count(*) AS n,
                (round(avg(s)*1e4)/1e4 + 0.0e0) AS avg_score,
                (round(avg(y)*1e4)/1e4 + 0.0e0) AS pos_rate
         FROM b GROUP BY 1""",
    // ---- categorical association (q158-q160) ----
    "q158_chi2" ->
      """WITH cells AS (SELECT l_returnflag, l_linestatus, count(*) AS observed
                        FROM lineitem GROUP BY 1,2),
              rt AS (SELECT l_returnflag, sum(observed) AS rt FROM cells GROUP BY 1),
              ct AS (SELECT l_linestatus, sum(observed) AS ct FROM cells GROUP BY 1),
              tot AS (SELECT sum(observed) AS n,
                        count(DISTINCT l_returnflag) AS rx,
                        count(DISTINCT l_linestatus) AS ry FROM cells),
              w AS (SELECT rt.l_returnflag, ct.l_linestatus,
                      coalesce(c.observed, 0) AS observed,
                      rt.rt*ct.ct/tot.n AS expected, tot.n AS n, tot.rx AS rx, tot.ry AS ry
                    FROM rt CROSS JOIN ct
                      LEFT JOIN cells c ON c.l_returnflag = rt.l_returnflag
                        AND c.l_linestatus = ct.l_linestatus
                      CROSS JOIN tot),
              w2 AS (SELECT *, (observed-expected)*(observed-expected)/expected AS contrib FROM w),
              t AS (SELECT sum(contrib) AS chi2, any_value(n) AS n,
                      any_value(rx) AS rx, any_value(ry) AS ry FROM w2)
         SELECT w2.l_returnflag, w2.l_linestatus, w2.observed,
                (round(w2.expected*1e4)/1e4 + 0.0e0) AS expected,
                (round(w2.contrib*1e4)/1e4 + 0.0e0) AS contrib,
                (round(t.chi2*1e4)/1e4 + 0.0e0) AS chi2,
                (round(sqrt(t.chi2/(t.n*least(t.rx-1, t.ry-1)))*1e4)/1e4 + 0.0e0) AS cramers_v
         FROM w2, t""",
    "q159_mutual_info" ->
      """WITH cells AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS o
                        FROM lineitem GROUP BY 1,2),
              rt AS (SELECT x, sum(o) AS mr FROM cells GROUP BY 1),
              ct AS (SELECT y, sum(o) AS mc FROM cells GROUP BY 1),
              tot AS (SELECT sum(o) AS n FROM cells),
              mi AS (SELECT sum(o/n * ln(o*n/(mr*mc))) AS mi
                     FROM cells c JOIN rt USING(x) JOIN ct USING(y) CROSS JOIN tot),
              hx AS (SELECT -sum(mr/n * ln(mr/n)) AS h_x FROM rt CROSS JOIN tot),
              hy AS (SELECT -sum(mc/n * ln(mc/n)) AS h_y FROM ct CROSS JOIN tot)
         SELECT (round(mi*1e4)/1e4 + 0.0e0) AS mi_nats,
                (round(h_x*1e4)/1e4 + 0.0e0) AS h_x,
                (round(h_y*1e4)/1e4 + 0.0e0) AS h_y,
                (round(mi/sqrt(h_x*h_y)*1e4)/1e4 + 0.0e0) AS nmi
         FROM mi, hx, hy""",
    "q160_target_encode" ->
      """WITH p AS (SELECT l_partkey, count(*) AS n,
                      sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS pos
                    FROM lineitem GROUP BY 1),
              g AS (SELECT sum(pos)/sum(n) AS prior FROM p)
         SELECT l_partkey, n,
                (round((pos + 10.0e0*prior)/(n + 10.0e0)*1e4)/1e4 + 0.0e0) AS enc
         FROM p, g""",
    // ---- event analytics (q161-q162) ----
    "q161_attribution" ->
      """WITH c AS (SELECT event_id AS conversion_id, user_id, ts AS cts
                    FROM events WHERE event_type = 'purchase'),
              t AS (SELECT user_id, event_id AS tid, event_type AS ttype, ts AS tts
                    FROM events WHERE event_type IN ('view','click')),
              j AS (SELECT c.conversion_id, c.user_id, c.cts, t.tid, t.ttype, t.tts
                    FROM c LEFT JOIN t ON c.user_id = t.user_id
                      AND t.tts <= c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
              w AS (SELECT *,
                      row_number() OVER (PARTITION BY conversion_id
                        ORDER BY tts ASC, tid ASC) AS ra,
                      row_number() OVER (PARTITION BY conversion_id
                        ORDER BY tts DESC, tid DESC) AS rd
                    FROM j)
         SELECT conversion_id, user_id, epoch_us(cts) AS conv_us,
                count(tid) AS n_touches,
                max(CASE WHEN ra=1 THEN tid END) AS first_touch_id,
                max(CASE WHEN ra=1 THEN ttype END) AS first_touch_type,
                max(CASE WHEN rd=1 THEN tid END) AS last_touch_id,
                max(CASE WHEN rd=1 THEN ttype END) AS last_touch_type
         FROM w GROUP BY 1,2,3""",
    "q162_ohlc" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bar, value AS v, ts, event_id,
                      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                        ORDER BY ts ASC, event_id ASC) AS ra,
                      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                        ORDER BY ts DESC, event_id DESC) AS rd
                    FROM events)
         SELECT event_type, epoch_us(bar) AS bar_us, count(*) AS n,
                max(CASE WHEN ra=1 THEN v END) AS open,
                max(CASE WHEN rd=1 THEN v END) AS close,
                max(v) AS high, min(v) AS low,
                (round(sum(v)*1e4)/1e4 + 0.0e0) AS volume
         FROM b GROUP BY 1,2""",
    // ---- graph ops (q163-q164; integer-exact, plain orientation —
    // the Spark side's degree orientation counts identically) ----
    "q163_triangles" ->
      """WITH li2 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                    FROM li2 a JOIN li2 b
                    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              nodes AS (SELECT u AS nd FROM e UNION SELECT v FROM e),
              tri AS (SELECT count(*) AS n_triangles
                      FROM e e1 JOIN e e2 ON e1.v = e2.u
                                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                (SELECT count(*) FROM e) AS n_edges,
                tri.n_triangles
         FROM tri""",
    "q164_cc_labelprop" -> labelPropSql,
    // ---- CUSUM change detection (q165; recursive-CTE oracle) ----
    "q165_cusum" ->
      """WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           m AS (SELECT l_partkey, l_suppkey, (CAST(sum(CAST(round(q*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0) AS mu
                 FROM w GROUP BY 1,2),
           t AS (SELECT w.ws, w.l_partkey, w.l_suppkey, w.q - m.mu AS d,
                   row_number() OVER (PARTITION BY w.l_partkey, w.l_suppkey
                     ORDER BY w.ws) AS rn
                 FROM w JOIN m ON w.l_partkey = m.l_partkey AND w.l_suppkey = m.l_suppkey),
           e AS (SELECT l_partkey, l_suppkey, ws, rn,
                   greatest(0.0e0, d - 2.0e0) AS pos,
                   greatest(0.0e0, -d - 2.0e0) AS neg
                 FROM t WHERE rn = 1
                 UNION ALL
                 SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn,
                   greatest(0.0e0, e.pos + t.d - 2.0e0),
                   greatest(0.0e0, e.neg - t.d - 2.0e0)
                 FROM t JOIN e ON t.l_partkey = e.l_partkey
                   AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(pos*1e4)/1e4 + 0.0e0) AS cusum_pos,
                (round(neg*1e4)/1e4 + 0.0e0) AS cusum_neg,
                CAST(pos > 10.0e0 OR neg > 10.0e0 AS BIGINT) AS cusum_alarm
         FROM e""",
    "q166_pareto" ->
      """WITH p AS (SELECT l_partkey, sum(l_quantity) AS x,
                      (round(sum(l_extendedprice)*1e4)/1e4 + 0.0e0) AS y
                    FROM lineitem GROUP BY 1),
              b AS (SELECT x, max(y) AS y FROM p GROUP BY 1),
              f AS (SELECT *, max(y) OVER (ORDER BY x DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
                    FROM b)
         SELECT x, y FROM f WHERE pm IS NULL OR y > pm""",
    "q167_ols2" ->
      """WITH t AS (SELECT l_partkey,
                      CAST(row_number() OVER (PARTITION BY l_partkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DOUBLE) AS x1,
                      round(l_discount*100) AS x2, l_quantity AS y
                    FROM lineitem),
              a AS (SELECT l_partkey, CAST(count(*) AS DOUBLE) AS n,
                      sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
                      sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
                      sum(x1*y) AS s1y, sum(x2*y) AS s2y
                    FROM t GROUP BY 1),
              c AS (SELECT l_partkey, n,
                      n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
                      sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0,
                      n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
                      n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2
                    FROM a)
         SELECT l_partkey, CAST(n AS BIGINT) AS n,
                (round((det0/nullif(det, 0.0e0))*1e4)/1e4 + 0.0e0) AS b0,
                (round((det1/nullif(det, 0.0e0))*1e4)/1e4 + 0.0e0) AS b1,
                (round((det2/nullif(det, 0.0e0))*1e4)/1e4 + 0.0e0) AS b2
         FROM c""",
    "q168_abtest" ->
      """WITH g AS (SELECT l_linestatus AS v, count(*) AS n, sum(l_extendedprice) AS s,
                      sum(l_extendedprice*l_extendedprice) AS ss
                    FROM lineitem WHERE l_linestatus IN ('O','F') GROUP BY 1),
              g2 AS (SELECT v, n, s/n AS mean, (ss - s*s/n)/(n - 1) AS vr FROM g),
              a AS (SELECT n AS n_a, mean AS ma, vr AS va FROM g2 WHERE v = 'O'),
              b AS (SELECT n AS n_b, mean AS mb, vr AS vb FROM g2 WHERE v = 'F')
         SELECT n_a, n_b,
                (round(ma*1e4)/1e4 + 0.0e0) AS mean_a,
                (round(mb*1e4)/1e4 + 0.0e0) AS mean_b,
                (round((ma - mb)*1e4)/1e4 + 0.0e0) AS diff,
                (round((ma - mb)/sqrt(va/n_a + vb/n_b)*1e4)/1e4 + 0.0e0) AS t_stat,
                (round((va/n_a + vb/n_b)*(va/n_a + vb/n_b) /
                  ((va/n_a)*(va/n_a)/(n_a - 1) + (vb/n_b)*(vb/n_b)/(n_b - 1))*1e4)/1e4
                  + 0.0e0) AS df_welch
         FROM a, b""",
    "q169_zipf_fit" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                    FROM documents),
              c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
              rk AS (SELECT token, cnt,
                       row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
                     FROM c),
              xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
                     FROM rk WHERE rank <= 500),
              a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
                      sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
                    FROM xy)
         SELECT CAST(n AS BIGINT) AS n_terms,
                (round((n*sxy - sx*sy)/(n*sxx - sx*sx)*1e4)/1e4 + 0.0e0) AS slope,
                (round((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n*1e4)/1e4 + 0.0e0) AS intercept,
                (round(((n*sxy - sx*sy)*(n*sxy - sx*sy)) /
                  ((n*sxx - sx*sx)*(n*syy - sy*sy))*1e4)/1e4 + 0.0e0) AS r2
         FROM a""",
    "q170_inverted_index" ->
      """WITH p AS (SELECT DISTINCT doc_id,
                      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                    FROM documents),
              r AS (SELECT *, row_number() OVER (PARTITION BY token
                      ORDER BY doc_id ASC) AS rn FROM p)
         SELECT token, count(*) AS df,
                coalesce(string_agg(CASE WHEN rn <= 20 THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id ASC), '') AS postings
         FROM r GROUP BY 1""",
    "q171_rolling_corr" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate,
                      l_quantity AS x, round(l_extendedprice) AS y FROM lineitem),
              f AS (SELECT l_orderkey, l_linenumber,
                      CAST(count(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END)
                        OVER w AS DOUBLE) AS cnt,
                      sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                      sum(x*y) OVER w AS sxy, sum(x*x) OVER w AS sxx,
                      sum(y*y) OVER w AS syy
                    FROM t
                    WINDOW w AS (PARTITION BY l_partkey, l_suppkey
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         SELECT l_orderkey, l_linenumber,
                (round(CASE WHEN cnt*sxx - sx*sx > 0 AND cnt*syy - sy*sy > 0
                  THEN (cnt*sxy - sx*sy)/sqrt((cnt*sxx - sx*sx)*(cnt*syy - sy*sy))
                  END*1e4)/1e4 + 0.0e0) AS roll_corr
         FROM f""",
    "q172_reconcile" ->
      """WITH c AS (SELECT l_suppkey, l_partkey, sum(l_quantity) AS cs
                    FROM lineitem GROUP BY 1,2),
              p AS (SELECT l_suppkey, sum(cs) AS ps FROM c GROUP BY 1),
              pf AS (SELECT l_suppkey, sum(l_quantity)*1.1e0 AS fcp
                     FROM lineitem GROUP BY 1)
         SELECT c.l_suppkey, c.l_partkey,
                (round((c.cs/p.ps)*1e4)/1e4 + 0.0e0) AS share,
                (round(pf.fcp*(c.cs/p.ps)*1e4)/1e4 + 0.0e0) AS fc_child
         FROM c JOIN p USING (l_suppkey) JOIN pf USING (l_suppkey)""",
    "q173_conformal" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2,3),
              t AS (SELECT *, avg(q) OVER (PARTITION BY l_partkey, l_suppkey
                      ORDER BY ws ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS pred
                    FROM w),
              s AS (SELECT * FROM t WHERE pred IS NOT NULL),
              cal AS (SELECT l_suppkey, quantile_cont(abs(q - pred), 0.9) AS cw
                      FROM s GROUP BY 1)
         SELECT s.ws AS week_start, s.l_partkey, s.l_suppkey,
                (round(s.pred*1e4)/1e4 + 0.0e0) AS pred,
                (round(cal.cw*1e4)/1e4 + 0.0e0) AS conf_width,
                (round((s.pred - cal.cw)*1e4)/1e4 + 0.0e0) AS lo,
                (round((s.pred + cal.cw)*1e4)/1e4 + 0.0e0) AS hi
         FROM s JOIN cal USING (l_suppkey)""",
    "q174_abc_xyz" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      sum(l_quantity) AS q, sum(l_extendedprice) AS rev
                    FROM lineitem GROUP BY 1,2),
              k AS (SELECT l_partkey, sum(rev) AS rev,
                      CAST(count(*) AS DOUBLE) AS n,
                      sum(q) AS sq, sum(q*q) AS sqq
                    FROM w GROUP BY 1),
              c AS (SELECT *,
                      (round(sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       / sum(rev) OVER ()*1e4)/1e4 + 0.0e0) AS cum_share,
                      (round(CASE WHEN n > 1 AND sq > 0
                         THEN sqrt((n*sqq - sq*sq)/(n*(n - 1)))/(sq/n) END*1e4)/1e4
                       + 0.0e0) AS cv
                    FROM k)
         SELECT l_partkey, (round(rev*1e4)/1e4 + 0.0e0) AS rev, cum_share,
                CASE WHEN cum_share <= 0.8e0 THEN 'A'
                     WHEN cum_share <= 0.95e0 THEN 'B' ELSE 'C' END AS abc_class,
                cv,
                CASE WHEN cv IS NULL THEN 'Z' WHEN cv < 0.5e0 THEN 'X'
                     WHEN cv < 1.0e0 THEN 'Y' ELSE 'Z' END AS xyz_class
         FROM c""",
    "q175_did" ->
      """SELECT
           (round(sum(CASE WHEN l_discount > 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount > 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN 1 END)*1e4)/1e4 + 0.0e0) AS mean_t_pre,
           (round(sum(CASE WHEN l_discount > 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount > 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 END)*1e4)/1e4 + 0.0e0) AS mean_t_post,
           (round(sum(CASE WHEN l_discount <= 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount <= 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN 1 END)*1e4)/1e4 + 0.0e0) AS mean_c_pre,
           (round(sum(CASE WHEN l_discount <= 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount <= 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 END)*1e4)/1e4 + 0.0e0) AS mean_c_post,
           (round((sum(CASE WHEN l_discount > 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount > 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 END)
             - sum(CASE WHEN l_discount > 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount > 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN 1 END))*1e4)/1e4 + 0.0e0) AS delta_t,
           (round((sum(CASE WHEN l_discount <= 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount <= 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 END)
             - sum(CASE WHEN l_discount <= 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount <= 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN 1 END))*1e4)/1e4 + 0.0e0) AS delta_c,
           (round((sum(CASE WHEN l_discount > 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount > 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 END)
             - sum(CASE WHEN l_discount > 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN l_quantity END)
             / sum(CASE WHEN l_discount > 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN 1 END)
             - (sum(CASE WHEN l_discount <= 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN l_quantity END)
               / sum(CASE WHEN l_discount <= 0 AND l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 END)
               - sum(CASE WHEN l_discount <= 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN l_quantity END)
               / sum(CASE WHEN l_discount <= 0 AND l_shipdate < TIMESTAMP '1996-01-01' THEN 1 END)))*1e4)/1e4 + 0.0e0) AS did
         FROM lineitem""",
    "q176_eval_report" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                      l_suppkey, sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2,3),
              t AS (SELECT *, avg(q) OVER (PARTITION BY l_partkey, l_suppkey
                      ORDER BY ws ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS pred
                    FROM w),
              s AS (SELECT * FROM t WHERE pred IS NOT NULL),
              cal AS (SELECT l_suppkey, quantile_cont(abs(q - pred), 0.9) AS cw
                      FROM s GROUP BY 1),
              j AS (SELECT s.q, s.pred, cal.cw FROM s JOIN cal USING (l_suppkey))
         SELECT count(*) AS n_rows,
                (round(sum(abs(q - pred))/sum(q)*100*1e4)/1e4 + 0.0e0) AS wmape_pct,
                (round(sum(pred - q)/sum(q)*100*1e4)/1e4 + 0.0e0) AS bias_pct,
                (round(avg(CAST(q >= pred - cw AND q <= pred + cw AS BIGINT))*1e4)/1e4
                  + 0.0e0) AS coverage
         FROM j""",
    "q177_melt" ->
      """WITH p AS (SELECT l_partkey, sum(l_quantity) AS qty,
                      (round(sum(l_extendedprice)*1e4)/1e4 + 0.0e0) AS revenue
                    FROM lineitem GROUP BY 1)
         SELECT l_partkey, 'qty' AS metric, qty AS value FROM p
         UNION ALL
         SELECT l_partkey, 'revenue' AS metric, revenue AS value FROM p""",
    "q178_transitions" ->
      """WITH n AS (SELECT user_id, event_type,
                      lead(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS nxt
                    FROM events),
              pr AS (SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
                     FROM n WHERE nxt IS NOT NULL GROUP BY 1,2),
              ft AS (SELECT from_type, sum(n) AS tot FROM pr GROUP BY 1)
         SELECT pr.from_type, pr.to_type, pr.n,
                (round(pr.n/ft.tot*1e4)/1e4 + 0.0e0) AS p
         FROM pr JOIN ft USING (from_type)""",
    "q179_paths" ->
      """WITH r AS (SELECT user_id, event_type,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS rn,
                      ts, event_id
                    FROM events),
              up AS (SELECT user_id,
                       string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path
                     FROM r WHERE rn <= 3 GROUP BY 1)
         SELECT path, count(*) AS n_users FROM up GROUP BY 1""",
    "q180_profile" ->
      """WITH a AS (SELECT
                      count(l_quantity) AS n1, sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS z1,
                      count(DISTINCT l_quantity) AS d1, min(l_quantity) AS mn1, max(l_quantity) AS mx1,
                      sum(l_quantity) AS s1, sum(l_quantity*l_quantity) AS ss1,
                      count(l_extendedprice) AS n2, sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS z2,
                      count(DISTINCT l_extendedprice) AS d2, min(l_extendedprice) AS mn2, max(l_extendedprice) AS mx2,
                      sum(l_extendedprice) AS s2, sum(l_extendedprice*l_extendedprice) AS ss2,
                      count(l_discount) AS n3, sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS z3,
                      count(DISTINCT l_discount) AS d3, min(l_discount) AS mn3, max(l_discount) AS mx3,
                      sum(l_discount) AS s3, sum(l_discount*l_discount) AS ss3
                    FROM lineitem)
         SELECT 'l_quantity' AS col_name, n1 AS n, CAST(z1 AS BIGINT) AS n_nulls,
                d1 AS n_distinct, mn1 AS min_v, mx1 AS max_v,
                (round(s1/n1*1e4)/1e4 + 0.0e0) AS mean,
                (round(CASE WHEN n1 > 1 THEN sqrt((ss1 - s1*s1/n1)/(n1 - 1)) END*1e4)/1e4
                  + 0.0e0) AS std
         FROM a
         UNION ALL
         SELECT 'l_extendedprice', n2, CAST(z2 AS BIGINT), d2, mn2, mx2,
                (round(s2/n2*1e4)/1e4 + 0.0e0),
                (round(CASE WHEN n2 > 1 THEN sqrt((ss2 - s2*s2/n2)/(n2 - 1)) END*1e4)/1e4
                  + 0.0e0)
         FROM a
         UNION ALL
         SELECT 'l_discount', n3, CAST(z3 AS BIGINT), d3, mn3, mx3,
                (round(s3/n3*1e4)/1e4 + 0.0e0),
                (round(CASE WHEN n3 > 1 THEN sqrt((ss3 - s3*s3/n3)/(n3 - 1)) END*1e4)/1e4
                  + 0.0e0)
         FROM a""",
    "q181_topk" ->
      """WITH r AS (SELECT l_suppkey, l_extendedprice,
                      row_number() OVER (PARTITION BY l_suppkey
                        ORDER BY l_extendedprice DESC) AS rn
                    FROM lineitem)
         SELECT l_suppkey, CAST(rn AS BIGINT) AS rank, l_extendedprice AS value
         FROM r WHERE rn <= 3""",
    "q182_window_funnel" ->
      """WITH u0 AS (SELECT user_id, min(epoch_us(ts)) AS t0
                     FROM events WHERE event_type = 'view' GROUP BY 1),
              u1 AS (SELECT u0.user_id, u0.t0,
                       min(CASE WHEN epoch_us(e.ts) >= u0.t0
                             AND epoch_us(e.ts) <= u0.t0 + 7200000000 THEN epoch_us(e.ts) END) AS t1
                     FROM u0 LEFT JOIN events e
                       ON e.user_id = u0.user_id AND e.event_type = 'click'
                     GROUP BY 1,2),
              u2 AS (SELECT u1.user_id, u1.t0, u1.t1,
                       min(CASE WHEN epoch_us(e.ts) >= u1.t1
                             AND epoch_us(e.ts) <= u1.t0 + 7200000000 THEN epoch_us(e.ts) END) AS t2
                     FROM u1 LEFT JOIN events e
                       ON e.user_id = u1.user_id AND e.event_type = 'purchase'
                     GROUP BY 1,2,3)
         SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
                count(*) AS n_users FROM u0
         UNION ALL
         SELECT CAST(1 AS BIGINT), 'click', count(*) FROM u1 WHERE t1 IS NOT NULL
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'purchase', count(*) FROM u2 WHERE t2 IS NOT NULL""",
    "q183_linkage" ->
      """WITH p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                      (CASE WHEN a.c_mktsegment = b.c_mktsegment
                         THEN ln(0.9e0/0.2e0)/ln(2.0e0) ELSE ln(0.1e0/0.8e0)/ln(2.0e0) END
                       + CASE WHEN floor(a.c_acctbal/1000) = floor(b.c_acctbal/1000)
                         THEN ln(0.8e0/0.1e0)/ln(2.0e0) ELSE ln(0.2e0/0.9e0)/ln(2.0e0) END
                       + CASE WHEN length(a.c_name) = length(b.c_name)
                         THEN ln(0.7e0/0.3e0)/ln(2.0e0) ELSE ln(0.3e0/0.7e0)/ln(2.0e0) END) AS sc
                    FROM customer a JOIN customer b
                      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
         SELECT id_a, id_b, (round(sc*1e4)/1e4 + 0.0e0) AS match_score
         FROM p WHERE (round(sc*1e4)/1e4 + 0.0e0) >= 2.0e0""",
    "q184_km" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
              v AS (SELECT user_id, min(epoch_us(ts)) AS v0
                    FROM events WHERE event_type = 'view' GROUP BY 1),
              p AS (SELECT user_id, min(epoch_us(ts)) AS p0
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
              d AS (SELECT v.user_id,
                      CASE WHEN p.p0 IS NOT NULL AND p.p0 >= v.v0
                        THEN (p.p0 - v.v0) // 1000000
                        ELSE (mx.m - v.v0) // 1000000 END AS t,
                      CASE WHEN p.p0 IS NOT NULL AND p.p0 >= v.v0 THEN 1 ELSE 0 END AS e
                    FROM v LEFT JOIN p USING (user_id) CROSS JOIN mx),
              g AS (SELECT t, CAST(sum(e) AS BIGINT) AS n_events, count(*) AS total
                    FROM d GROUP BY 1),
              r AS (SELECT *, sum(total) OVER ()
                      - coalesce(sum(total) OVER (ORDER BY t ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM g),
              f AS (SELECT *, 1.0e0 - n_events/n_risk AS fac FROM r),
              s AS (SELECT *, CASE WHEN min(fac) OVER cum <= 0.0e0 THEN 0.0e0
                      ELSE exp(sum(ln(fac)) OVER cum) END AS surv
                    FROM f
                    WINDOW cum AS (ORDER BY t ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                (round(surv*1e4)/1e4 + 0.0e0) AS survival
         FROM s WHERE n_events > 0""",
    "q185_gini" ->
      """WITH p AS (SELECT l_partkey, sum(l_extendedprice) AS rev
                    FROM lineitem GROUP BY 1),
              c AS (SELECT l_partkey, rev,
                      sum(rev) OVER (ORDER BY rev ASC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        / sum(rev) OVER () AS L
                    FROM p),
              c2 AS (SELECT L, coalesce(lag(L, 1) OVER (ORDER BY rev ASC, l_partkey ASC),
                       0.0e0) AS Lp
                     FROM c)
         SELECT count(*) AS n_keys,
                (round((1.0e0 - sum(L + Lp)/count(*))*1e4)/1e4 + 0.0e0) AS gini
         FROM c2""",
    "q186_anomaly" ->
      """WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                       sum(l_quantity) q FROM lineitem GROUP BY 1,2),
              t AS (SELECT l_suppkey, ws, q,
                      avg(q) OVER (PARTITION BY l_suppkey ORDER BY ws
                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend,
                      weekofyear(ws) AS woy
                    FROM wk),
              sa AS (SELECT *, avg(q - trend) OVER (PARTITION BY l_suppkey, woy) AS seasonal
                     FROM t),
              res AS (SELECT l_suppkey, ws, q - trend - seasonal AS residual FROM sa),
              st AS (SELECT l_suppkey, CAST(count(*) AS DOUBLE) AS n,
                       sum(residual) AS s, sum(residual*residual) AS ss
                     FROM res GROUP BY 1),
              z AS (SELECT res.l_suppkey, res.ws, res.residual,
                      (round((res.residual - st.s/st.n)
                        / sqrt((st.ss - st.s*st.s/st.n)/(st.n - 1))*1e4)/1e4 + 0.0e0) AS z
                    FROM res JOIN st USING (l_suppkey))
         SELECT l_suppkey, ws AS week_start,
                (round(residual*1e4)/1e4 + 0.0e0) AS residual, z
         FROM z WHERE abs(z) > 2.5e0""",
    "q189_chunk" ->
      """SELECT doc_id, i AS chunk_id, substr(text, CAST(1 + i*150 AS INT), 200) AS chunk,
                CAST(length(substr(text, CAST(1 + i*150 AS INT), 200)) AS BIGINT) AS chunk_chars
         FROM documents,
              unnest(range(0, ((greatest(length(text), 1) - 1) // 150) + 1)) t(i)""",
    "q208_chunk_tokens" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                    FROM documents),
           x AS (SELECT doc_id, toks, i AS chunk_id
                 FROM t, unnest(range(0, ((greatest(len(toks), 1) - 1) // 48) + 1)) u(i)),
           c AS (SELECT doc_id, chunk_id,
                   toks[chunk_id*48 + 1 : chunk_id*48 + 64] AS ct FROM x)
         SELECT doc_id, chunk_id, array_to_string(ct, ' ') AS chunk,
                CAST(len(ct) AS BIGINT) AS n_tokens
         FROM c""",
    "q190_mean_pool" ->
      """SELECT label, i AS dim,
                (round(avg(CAST(embedding[i+1] AS DOUBLE))*1e4)/1e4 + 0.0e0) AS mean_v
         FROM embeddings, unnest(range(0, len(embedding))) t(i)
         GROUP BY 1,2""",
    // Additive Holt-Winters: the m=4 seasonal ring rides the recursive CTE
    // as four state columns (s0..s3) + level/trend, slot = (rn-1)%4 —
    // the same recipe as q73/q74 with the ring unrolled. Expression
    // shapes mirror the Scala kernel exactly ((1e0-0.3e0), not 0.7e0,
    // so both engines round the same doubles).
    "q191_holt_winters" ->
      s"""$hwRecursionSql
         SELECT ws AS week_start, l_partkey, l_suppkey,
                (round(lvl*1e4)/1e4 + 0.0e0) AS hw_level,
                (round(tr*1e4)/1e4 + 0.0e0) AS hw_trend,
                (round(sea*1e4)/1e4 + 0.0e0) AS hw_seasonal
         FROM e""",
    "q266_hw_forecast" -> hwForecastSql,
    "q192_rule_report" ->
      """WITH a AS (SELECT count(*) AS n,
                      CAST(sum(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
                      CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1e0 THEN 0 ELSE 1 END) AS BIGINT) AS v2,
                      CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v3,
                      CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v4,
                      CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS v5
                    FROM lineitem)
         SELECT 'qty_positive' AS rule, n AS n_rows, v1 AS n_violations,
                (round(v1/n*1e4)/1e4 + 0.0e0) AS violation_rate FROM a
         UNION ALL SELECT 'discount_in_range', n, v2, (round(v2/n*1e4)/1e4 + 0.0e0) FROM a
         UNION ALL SELECT 'price_positive', n, v3, (round(v3/n*1e4)/1e4 + 0.0e0) FROM a
         UNION ALL SELECT 'shipdate_present', n, v4, (round(v4/n*1e4)/1e4 + 0.0e0) FROM a
         UNION ALL SELECT 'returnflag_domain', n, v5, (round(v5/n*1e4)/1e4 + 0.0e0) FROM a""",
    "q193_incremental" ->
      """SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start, l_suppkey,
                sum(l_quantity) AS qty_sum, count(*) AS n_rows
         FROM lineitem GROUP BY 1,2""",
    "q194_quantile_norm" ->
      """WITH ref AS (SELECT l_extendedprice AS rv,
                       row_number() OVER (ORDER BY l_extendedprice) - 1 AS ri
                     FROM lineitem),
              nr AS (SELECT count(*) AS n FROM lineitem),
              t AS (SELECT l_orderkey, l_linenumber, l_suppkey,
                      row_number() OVER (PARTITION BY l_suppkey
                        ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS rt,
                      count(*) OVER (PARTITION BY l_suppkey) AS ng
                    FROM lineitem),
              p AS (SELECT t.*, CASE WHEN ng = 1 THEN 0.0e0
                      ELSE rt*CAST(nr.n - 1 AS DOUBLE)/(ng - 1) END AS pos
                    FROM t CROSS JOIN nr),
              q AS (SELECT *, CAST(floor(pos) AS BIGINT) AS lo,
                      CAST(ceil(pos) AS BIGINT) AS hi FROM p)
         SELECT q.l_orderkey, q.l_linenumber,
                (round((rl.rv + (q.pos - q.lo)*(rh.rv - rl.rv))*1e4)/1e4 + 0.0e0) AS normalized
         FROM q JOIN ref rl ON q.lo = rl.ri JOIN ref rh ON q.hi = rh.ri""",
    "q195_assortment_churn" ->
      """WITH wk AS (SELECT DISTINCT CAST(date_trunc('week', l_shipdate) AS DATE) AS ws,
                      l_partkey FROM lineitem),
              spans AS (SELECT l_partkey, min(ws) AS fw, max(ws) AS lw FROM wk GROUP BY 1),
              active AS (SELECT ws, count(*) AS n_active FROM wk GROUP BY 1),
              fresh AS (SELECT fw AS ws, count(*) AS n_new FROM spans GROUP BY 1),
              lastseen AS (SELECT lw AS ws, count(*) AS n_last_seen FROM spans GROUP BY 1)
         SELECT a.ws AS week_start, a.n_active,
                coalesce(f.n_new, 0) AS n_new,
                coalesce(l.n_last_seen, 0) AS n_last_seen
         FROM active a LEFT JOIN fresh f USING (ws) LEFT JOIN lastseen l USING (ws)""",
    "q196_asof_forward" ->
      """WITH j AS (SELECT p.event_id, p.user_id, p.ts AS pts, c.ts AS cts,
                      c.event_id AS cid
                    FROM (SELECT * FROM events WHERE event_type='purchase') p
                    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
                      ON p.user_id = c.user_id AND p.ts <= c.ts)
         SELECT event_id, user_id, epoch_us(pts) AS purchase_us,
                CASE WHEN cts IS NOT NULL
                  AND epoch_us(cts) - epoch_us(pts) <= 3600000000
                  THEN epoch_us(cts) END AS next_click_us,
                CASE WHEN cts IS NOT NULL
                  AND epoch_us(cts) - epoch_us(pts) <= 3600000000
                  THEN cid END AS click_id
         FROM j""",
    // q306: the timestamp-band rewrite — oracle states the naive join
    "q306_range_rewrite_ts" ->
      """WITH iv AS (SELECT event_type AS w_type,
                       min(ts) + INTERVAL 1 DAY AS lo,
                       max(ts) - INTERVAL 1 DAY AS hi
                     FROM events GROUP BY 1)
         SELECT w_type, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(epoch_us(ts) % 1000003) AS BIGINT) AS ts_chk
         FROM events JOIN iv ON ts >= lo AND ts < hi
         GROUP BY 1""",
    // q304/q305: the native-exec as-of twins — BYTE-IDENTICAL oracles
    // to q118/q196 (same semantics, different physical operator)
    "q304_asof_exec" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
                epoch_us(c.ts) AS click_us, c.event_id AS click_id,
                (round((c.value)*1e4)/1e4 + 0.0e0) AS click_value
         FROM (SELECT * FROM events WHERE event_type='purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q305_asof_exec_fwd" ->
      """WITH j AS (SELECT p.event_id, p.user_id, p.ts AS pts, c.ts AS cts,
                      c.event_id AS cid
                    FROM (SELECT * FROM events WHERE event_type='purchase') p
                    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
                      ON p.user_id = c.user_id AND p.ts <= c.ts)
         SELECT event_id, user_id, epoch_us(pts) AS purchase_us,
                CASE WHEN cts IS NOT NULL
                  AND epoch_us(cts) - epoch_us(pts) <= 3600000000
                  THEN epoch_us(cts) END AS next_click_us,
                CASE WHEN cts IS NOT NULL
                  AND epoch_us(cts) - epoch_us(pts) <= 3600000000
                  THEN cid END AS click_id
         FROM j""",
    "q197_season_strength" ->
      """WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                       sum(l_quantity) q FROM lineitem GROUP BY 1,2),
              t AS (SELECT l_suppkey, ws, q,
                      avg(q) OVER (PARTITION BY l_suppkey ORDER BY ws
                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend,
                      weekofyear(ws) AS woy
                    FROM wk),
              sa AS (SELECT *, avg(q - trend) OVER (PARTITION BY l_suppkey, woy) AS seasonal
                     FROM t),
              d AS (SELECT l_suppkey, q - trend - seasonal AS r,
                      q - seasonal AS tr, seasonal + (q - trend - seasonal) AS sr
                    FROM sa),
              a AS (SELECT l_suppkey, CAST(count(*) AS DOUBLE) AS n,
                      sum(r) AS s_r, sum(r*r) AS s_rr,
                      sum(tr) AS s_t, sum(tr*tr) AS s_tt,
                      sum(sr) AS s_s, sum(sr*sr) AS s_ss
                    FROM d GROUP BY 1)
         SELECT l_suppkey,
                (round(CASE WHEN n > 1 AND (s_tt - s_t*s_t/n)/(n - 1) > 0
                  THEN greatest(0.0e0, 1.0e0 - ((s_rr - s_r*s_r/n)/(n - 1))
                    / ((s_tt - s_t*s_t/n)/(n - 1))) END*1e4)/1e4 + 0.0e0) AS trend_strength,
                (round(CASE WHEN n > 1 AND (s_ss - s_s*s_s/n)/(n - 1) > 0
                  THEN greatest(0.0e0, 1.0e0 - ((s_rr - s_r*s_r/n)/(n - 1))
                    / ((s_ss - s_s*s_s/n)/(n - 1))) END*1e4)/1e4 + 0.0e0) AS seasonal_strength
         FROM a""",
    "q198_error_slices" ->
      """WITH t AS (SELECT l_partkey, l_shipdate, l_quantity a,
                      avg(l_quantity) OVER (PARTITION BY l_partkey) p FROM lineitem),
           pp AS (SELECT l_partkey, sum(l_quantity) pq FROM lineitem GROUP BY 1),
           tier AS (SELECT l_partkey,
                      CASE WHEN cs <= 0.8e0 THEN 'A'
                           WHEN cs <= 0.95e0 THEN 'B' ELSE 'C' END AS volume_tier
                    FROM (SELECT l_partkey,
                            (round(sum(pq) OVER (ORDER BY pq DESC, l_partkey ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             / sum(pq) OVER ()*1e4)/1e4 + 0.0e0) AS cs
                          FROM pp)),
           s AS (SELECT t.a, t.p, tier.volume_tier,
                   CAST(month(t.l_shipdate) AS VARCHAR) AS mon
                 FROM t JOIN tier ON t.l_partkey = tier.l_partkey)
         SELECT 'month' AS slice_type, mon AS slice_value, count(*) AS n_rows,
                (round(sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100*1e4)/1e4 + 0.0e0) AS wmape,
                (round(avg(p-a)*1e4)/1e4 + 0.0e0) AS bias,
                (round(avg(abs(a-p))*1e4)/1e4 + 0.0e0) AS mae,
                (round(sqrt(avg((a-p)*(a-p)))*1e4)/1e4 + 0.0e0) AS rmse
         FROM s GROUP BY 2
         UNION ALL
         SELECT 'volume_tier', volume_tier, count(*),
                (round(sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100*1e4)/1e4 + 0.0e0),
                (round(avg(p-a)*1e4)/1e4 + 0.0e0),
                (round(avg(abs(a-p))*1e4)/1e4 + 0.0e0),
                (round(sqrt(avg((a-p)*(a-p)))*1e4)/1e4 + 0.0e0)
         FROM s GROUP BY 2""",
    "q199_resid_diag_parts" ->
      """WITH scored AS (
           SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
                  (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4 + 0.0e0) AS fitted,
                  (round((l_quantity - avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4 + 0.0e0) AS resid
           FROM lineitem),
         stats AS (
           SELECT l_partkey,
                  (round((avg(resid))*1e4)/1e4 + 0.0e0) AS rmean,
                  median(resid) AS rmedian
           FROM scored GROUP BY 1),
         lagged AS (
           SELECT s.l_partkey, t.rmean, s.fitted, s.resid,
                  s.resid - t.rmean AS c,
                  lag(s.resid - t.rmean, 1) OVER w AS c1,
                  lag(s.resid - t.rmean, 2) OVER w AS c2,
                  lag(s.resid - t.rmean, 3) OVER w AS c3,
                  CASE WHEN s.resid > t.rmedian THEN 1 ELSE 0 END AS bin,
                  lag(CASE WHEN s.resid > t.rmedian THEN 1 ELSE 0 END, 1) OVER w AS binprev
           FROM scored s JOIN stats t USING (l_partkey)
           WINDOW w AS (PARTITION BY s.l_partkey
                        ORDER BY s.l_shipdate, s.l_orderkey, s.l_linenumber, s.l_quantity)),
         agg AS (
           SELECT l_partkey,
                  count(*) AS n,
                  min(rmean) AS resid_mean,
                  sum(c*c) AS ss,
                  sum(CASE WHEN c1 IS NOT NULL THEN c*c1 ELSE 0.0e0 END) AS s1,
                  sum(CASE WHEN c2 IS NOT NULL THEN c*c2 ELSE 0.0e0 END) AS s2,
                  sum(CASE WHEN c3 IS NOT NULL THEN c*c3 ELSE 0.0e0 END) AS s3,
                  CAST(sum(CASE WHEN binprev IS NOT NULL AND bin <> binprev THEN 1 ELSE 0 END) AS BIGINT) AS changes,
                  CAST(sum(bin) AS BIGINT) AS n_above,
                  corr(fitted, resid*resid) AS bp
           FROM lagged GROUP BY 1),
         derived AS (
           SELECT l_partkey, n, resid_mean,
                  CASE WHEN (round(ss*1e4)/1e4 + 0.0e0) <> 0.0e0
                    THEN (round(((round(s1*1e4)/1e4 + 0.0e0)/(round(ss*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) END AS acf1,
                  CASE WHEN (round(ss*1e4)/1e4 + 0.0e0) <> 0.0e0
                    THEN (round(((round(s2*1e4)/1e4 + 0.0e0)/(round(ss*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) END AS acf2,
                  CASE WHEN (round(ss*1e4)/1e4 + 0.0e0) <> 0.0e0
                    THEN (round(((round(s3*1e4)/1e4 + 0.0e0)/(round(ss*1e4)/1e4 + 0.0e0))*1e4)/1e4 + 0.0e0) END AS acf3,
                  changes + 1 AS runs, n_above,
                  CAST(n AS DOUBLE) AS nd,
                  CAST(n_above AS DOUBLE) AS n1d,
                  CAST(n - n_above AS DOUBLE) AS n2d,
                  (round(bp*1e4)/1e4 + 0.0e0) AS bp_corr
           FROM agg)
         SELECT l_partkey, n, resid_mean, acf1, acf2, acf3,
                CASE WHEN n > 3
                  THEN (round((n*(n+2)*(pow(acf1,2)/(n-1) + pow(acf2,2)/(n-2) + pow(acf3,2)/(n-3)))*1e4)/1e4 + 0.0e0)
                END AS lb_q,
                runs, n_above,
                (round((CASE WHEN (2.0e0*n1d*n2d*(2.0e0*n1d*n2d - nd))/(nd*nd*(nd-1.0e0)) > 0
                   THEN (runs - (2.0e0*n1d*n2d/nd + 1.0e0))
                        / sqrt((2.0e0*n1d*n2d*(2.0e0*n1d*n2d - nd))/(nd*nd*(nd-1.0e0)))
                   ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS runs_z,
                bp_corr,
                CASE WHEN abs(bp_corr) < 1
                  THEN (round((bp_corr * sqrt((n-2)/(1.0e0 - pow(bp_corr,2))))*1e4)/1e4 + 0.0e0)
                END AS bp_t
         FROM derived""",
    "q200_monitor" -> {
      val edges = (1 until 10).map { i =>
        s"quantile_cont(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN l_extendedprice END, 0.${i}) AS e${i - 1}"
      }.mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"(CASE WHEN l_extendedprice > e$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT month(l_shipdate) AS mon, l_quantity a,
                       avg(l_quantity) OVER (PARTITION BY l_partkey) p FROM lineitem),
           kpi AS (SELECT CAST(mon AS VARCHAR) AS k,
                     sum(abs(a-p))/(sum(abs(a)) + 1e-8)*100 wm
                   FROM t GROUP BY 1),
           e AS (SELECT $edges FROM lineitem),
           b AS (SELECT CAST($binExpr AS BIGINT) AS bin,
                        CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END AS is_ref
                 FROM lineitem, e),
           c AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_n,
                        CAST(sum(1 - is_ref) AS BIGINT) AS cur_n
                 FROM b GROUP BY 1),
           tt AS (SELECT CAST(sum(ref_n) AS DOUBLE) AS rt, CAST(sum(cur_n) AS DOUBLE) AS ct
                  FROM c),
           psiv AS (SELECT (round(sum((cur_n/ct - ref_n/rt)
                            * ln((cur_n/ct + 1e-6)/(ref_n/rt + 1e-6)))*1e4)/1e4 + 0.0e0) AS v
                    FROM c, tt),
           ra AS (SELECT count(*) AS n,
                    CAST(sum(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
                    CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1e0 THEN 0 ELSE 1 END) AS BIGINT) AS v2,
                    CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v3
                  FROM lineitem)
         SELECT 'kpi_wmape' AS check_name, k AS check_key,
                (round(wm*1e4)/1e4 + 0.0e0) AS metric_value,
                CASE WHEN wm >= 30 THEN 'CRIT' WHEN wm >= 20 THEN 'WARN'
                     ELSE 'OK' END AS status
         FROM kpi
         UNION ALL
         SELECT 'psi_drift', 'l_extendedprice', v,
                CASE WHEN v >= 0.25e0 THEN 'CRIT' WHEN v >= 0.1e0 THEN 'WARN'
                     ELSE 'OK' END
         FROM psiv
         UNION ALL
         SELECT 'rule_violation', 'qty_positive',
                (round(v1/n*1e4)/1e4 + 0.0e0),
                CASE WHEN (round(v1/n*1e4)/1e4 + 0.0e0) >= 0.05e0 THEN 'CRIT'
                     WHEN (round(v1/n*1e4)/1e4 + 0.0e0) >= 0.01e0 THEN 'WARN' ELSE 'OK' END
         FROM ra
         UNION ALL
         SELECT 'rule_violation', 'discount_in_range',
                (round(v2/n*1e4)/1e4 + 0.0e0),
                CASE WHEN (round(v2/n*1e4)/1e4 + 0.0e0) >= 0.05e0 THEN 'CRIT'
                     WHEN (round(v2/n*1e4)/1e4 + 0.0e0) >= 0.01e0 THEN 'WARN' ELSE 'OK' END
         FROM ra
         UNION ALL
         SELECT 'rule_violation', 'price_positive',
                (round(v3/n*1e4)/1e4 + 0.0e0),
                CASE WHEN (round(v3/n*1e4)/1e4 + 0.0e0) >= 0.05e0 THEN 'CRIT'
                     WHEN (round(v3/n*1e4)/1e4 + 0.0e0) >= 0.01e0 THEN 'WARN' ELSE 'OK' END
         FROM ra"""
    },
    "q201_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
           m AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
           x AS (SELECT vec_id, i AS dim, v[i + 1] AS xv, maxabs
                 FROM m, unnest(range(0, len(v))) t(i))
         SELECT vec_id, dim,
                CASE WHEN maxabs = 0 THEN 0
                     ELSE CAST(round(xv * 127 / maxabs) AS INT) END AS q,
                maxabs/127 AS scale
         FROM x""",
    "q202_kcore" -> {
      val k = 28
      val head =
        """WITH e0 AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM lineitem),
           e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)"""
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "e" else s"e${i - 1}"
        s""",
           d$i AS (SELECT src, count(*) AS deg FROM $prev GROUP BY 1),
           k$i AS (SELECT src FROM d$i WHERE deg >= $k),
           e$i AS (SELECT $prev.src, $prev.dst FROM $prev
                   JOIN k$i a ON $prev.src = a.src
                   JOIN k$i b ON $prev.dst = b.src)"""
      }.mkString
      head + iters +
        """
         SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
         FROM e3 GROUP BY 1"""
    },
    "q203_covariance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
           x AS (SELECT vec_id, i, v[i + 1] AS xi
                 FROM e, unnest(range(0, len(v))) t(i)),
           p AS (SELECT a.i AS i, b.i AS j, a.xi AS xi, b.xi AS xj
                 FROM x a JOIN x b ON a.vec_id = b.vec_id
                 WHERE a.i <= b.i),
           g AS (SELECT i, j, count(*) AS n,
                   (round(sum(xi*xj)*1e4)/1e4 + 0.0e0) AS sxy,
                   (round(sum(xi)*1e4)/1e4 + 0.0e0) AS sx,
                   (round(sum(xj)*1e4)/1e4 + 0.0e0) AS sy
                 FROM p GROUP BY 1,2)
         SELECT i, j, n,
                (round((sxy - sx*sy/n)/(n - 1)*1e4)/1e4 + 0.0e0) AS cov
         FROM g""",
    "q204_ivf_portable" -> {
      s"""$lloydCellsSql,
           probe AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) rn
                       FROM d3 WHERE vec_id < 5) WHERE rn <= 2),
           cand AS (SELECT DISTINCT probe.query_id, a3.vec_id AS neighbor_id
                    FROM probe JOIN a3 USING (cell)
                    WHERE a3.vec_id <> probe.query_id),
           s AS (SELECT cand.query_id, cand.neighbor_id,
                   (round(list_dot_product(ec.v, eq.v)
                     /(sqrt(list_dot_product(ec.v, ec.v))*sqrt(list_dot_product(eq.v, eq.v)))
                     *1e4)/1e4 + 0.0e0) AS cos_sim
                 FROM cand JOIN e ec ON cand.neighbor_id = ec.vec_id
                           JOIN e eq ON cand.query_id = eq.vec_id),
           rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, neighbor_id, cos_sim, rank FROM rk WHERE rank <= 10"""
    },
    // q146: SemDeDup over the same portable-Lloyd cells — pair search
    // scoped to a3's cell assignment, rounded cosine vs the 0.95 gate,
    // smallest-id witness per dropped vector
    "q146_semdedup" -> {
      s"""$lloydCellsSql,
           pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM a3 a JOIN a3 b ON a.cell = b.cell AND a.vec_id < b.vec_id),
           sc AS (SELECT pr.id_a, pr.id_b,
                    (round(list_dot_product(ea.v, eb.v)
                      /(sqrt(list_dot_product(ea.v, ea.v))*sqrt(list_dot_product(eb.v, eb.v)))
                      *1e4)/1e4 + 0.0e0) AS cos_sim
                  FROM pr JOIN e ea ON pr.id_a = ea.vec_id
                          JOIN e eb ON pr.id_b = eb.vec_id),
           dup AS (SELECT id_b AS vec_id, min(id_a) AS dup_of
                   FROM sc WHERE cos_sim >= 0.95e0 GROUP BY 1)
         SELECT a3.vec_id, a3.cell, (dup.dup_of IS NULL) AS keep, dup.dup_of
         FROM a3 LEFT JOIN dup USING (vec_id)"""
    },
    "q147_bpe" -> bpeSql,
    "q283_als_portable" -> alsPortableSql,
    "q288_quality_classifier" -> qualityClassifierSql,
    "q289_mmr_select" -> mmrSelectSql,
    "q291_ranking_metrics" -> rankingMetricsSql,
    "q294_zorder" -> zorderSql,
    // q295: one GROUP BY at the QI grain; prosecutor risk is the
    // rounded reciprocal class size, l-diversity an exact distinct
    "q295_kanonymity" ->
      """SELECT c_nationkey, c_mktsegment,
                CAST(floor(CAST(c_acctbal AS DOUBLE)/1000) AS BIGINT) AS bal_bucket,
                count(*) AS class_size,
                count(DISTINCT c_name[-2:]) AS l_distinct,
                round(1.0/count(*), 4) AS prosecutor_risk,
                count(*) < 5 AS below_k,
                count(DISTINCT c_name[-2:]) < 2 AS below_l
         FROM customer GROUP BY 1, 2, 3""",
    // q296: keep rows whose QI class reaches k=5 (window count replay
    // of the engine's aggregate + semi-join)
    "q296_kanon_suppress" ->
      """SELECT c_custkey, c_nationkey, c_mktsegment,
                CAST(floor(CAST(c_acctbal AS DOUBLE)/1000) AS BIGINT) AS bal_bucket
         FROM (SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
                      count(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                        floor(CAST(c_acctbal AS DOUBLE)/1000)) AS cs
               FROM customer) WHERE cs >= 5""",
    // q292: the q290 winnow CTE -> distinct doc-fp sets -> df<=10
    // stop-fingerprint prune -> self-join pairs sharing >= 2
    "q292_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, text, len(text) - 7 AS m
                    FROM documents WHERE len(text) >= 8),
           hs AS (SELECT doc_id, m, least(4, m) AS we,
                    [list_reduce([ord(text[i+j:i+j])::BIGINT FOR j IN range(0, 8)],
                                 (a,x) -> (a*31+x) % 1000000007)
                     FOR i IN range(1, m + 1)] AS h
                  FROM d),
           pr AS (SELECT doc_id, h, we, unnest(range(1, m - we + 2)) AS j
                  FROM hs),
           ps AS (SELECT doc_id, h,
                    j + we - list_position(list_reverse(h[j:j+we-1]),
                                           list_min(h[j:j+we-1])) AS pos
                  FROM pr),
           fp AS (SELECT DISTINCT doc_id, h[pos] AS fp FROM ps),
           rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 10),
           pf AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                count(*) AS n_shared
         FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    // q293: Fellegi-Sunter replayed — exact integer frequency sums per
    // field, one-division likelihood ratios rounded to 1e-6, pair score
    // re-rounded after every multiply (the engine's fold order)
    "q293_record_linkage" ->
      """WITH b AS (SELECT c_custkey AS id, c_nationkey AS blk,
                      c_mktsegment AS f0,
                      floor(CAST(c_acctbal AS DOUBLE)/100) AS f1,
                      substr(c_name, len(c_name)-1, 2) AS f2
                    FROM customer),
           nn AS (SELECT count(*)*(count(*)-1) AS nn FROM b),
           u0 AS (SELECT sum(c*(c-1)) AS u FROM (SELECT count(*) c FROM b GROUP BY f0)),
           u1 AS (SELECT sum(c*(c-1)) AS u FROM (SELECT count(*) c FROM b GROUP BY f1)),
           u2 AS (SELECT sum(c*(c-1)) AS u FROM (SELECT count(*) c FROM b GROUP BY f2)),
           rt AS (SELECT
                    (round(0.95e0*nn.nn/u0.u*1e6)/1e6 + 0.0e0) AS ar0,
                    (round((1.0e0-0.95e0)*nn.nn/(nn.nn-u0.u)*1e6)/1e6 + 0.0e0) AS dr0,
                    (round(0.9e0*nn.nn/u1.u*1e6)/1e6 + 0.0e0) AS ar1,
                    (round((1.0e0-0.9e0)*nn.nn/(nn.nn-u1.u)*1e6)/1e6 + 0.0e0) AS dr1,
                    (round(0.8e0*nn.nn/u2.u*1e6)/1e6 + 0.0e0) AS ar2,
                    (round((1.0e0-0.8e0)*nn.nn/(nn.nn-u2.u)*1e6)/1e6 + 0.0e0) AS dr2
                  FROM nn, u0, u1, u2),
           pr AS (SELECT a.id AS id_a, b2.id AS id_b,
                    (round((round((round((1.0e0*
                      (CASE WHEN a.f0 = b2.f0 THEN rt.ar0 ELSE rt.dr0 END))*1e6)/1e6 + 0.0e0)*
                      (CASE WHEN a.f1 = b2.f1 THEN rt.ar1 ELSE rt.dr1 END)*1e6)/1e6 + 0.0e0)*
                      (CASE WHEN a.f2 = b2.f2 THEN rt.ar2 ELSE rt.dr2 END)*1e6)/1e6 + 0.0e0) AS score
                  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id, rt)
         SELECT id_a, id_b, score,
                CASE WHEN score >= 500.0e0 THEN 'match' ELSE 'possible' END AS cls
         FROM pr WHERE score >= 10.0e0""",
    // q290: winnowing replayed with DuckDB list functions — the same
    // rightmost-min arithmetic (j + w − position(reverse(win), min(win)))
    // over the same polynomial gram hashes
    "q290_winnow" ->
      """WITH d AS (SELECT doc_id, text, len(text) - 7 AS m
                    FROM documents WHERE len(text) >= 8),
           hs AS (SELECT doc_id, m, least(4, m) AS we,
                    [list_reduce([ord(text[i+j:i+j])::BIGINT FOR j IN range(0, 8)],
                                 (a,x) -> (a*31+x) % 1000000007)
                     FOR i IN range(1, m + 1)] AS h
                  FROM d),
           pr AS (SELECT doc_id, h, we, unnest(range(1, m - we + 2)) AS j
                  FROM hs),
           ps AS (SELECT doc_id, h,
                    j + we - list_position(list_reverse(h[j:j+we-1]),
                                           list_min(h[j:j+we-1])) AS pos
                  FROM pr)
         SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, h[pos] AS fp
         FROM ps""",
    // q285: the KMV pipeline replayed — 3-round Lehmer permutation as
    // pure integer arithmetic, per-week k smallest distinct hashes,
    // exactly-associative merge, (k−1)·M/h_k estimator
    "q285_kmv_distinct" ->
      """WITH h AS (SELECT l_suppkey,
                      CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
                      ((((l_partkey % 2147483647)*48271 % 2147483647)
                        *48271 % 2147483647)*48271 % 2147483647) AS hv
                    FROM lineitem),
           sk AS (SELECT l_suppkey, wk,
                    list_sort(list(DISTINCT hv))[1:32] AS kmv
                  FROM h GROUP BY 1, 2),
           ex AS (SELECT l_suppkey, u.hv2
                  FROM sk, unnest(kmv) u(hv2)),
           mg AS (SELECT l_suppkey,
                    list_sort(list(DISTINCT hv2))[1:32] AS merged
                  FROM ex GROUP BY 1)
         SELECT l_suppkey, CAST(len(merged) AS BIGINT) AS n_kept,
                (round((CASE WHEN len(merged) < 32
                   THEN CAST(len(merged) AS DOUBLE)
                   ELSE 31.0e0 * 2147483647.0e0 / CAST(merged[32] AS DOUBLE)
                 END)*1e4)/1e4 + 0.0e0) AS est_distinct
         FROM mg""",
    // q301: the histogram-sketch quantile chain replayed — merge ≡
    // recompute exactly (integer bin counts), so the oracle histograms
    // the fact directly: clip-to-bin, cumulative count, and the
    // in-bin interpolation est = lo + width·(bin + (t − cum_before)/cnt)
    // on the identical IEEE chain (all inputs exact integers/literals)
    "q301_hist_quantiles" ->
      """WITH b AS (SELECT l_returnflag,
                      LEAST(24, GREATEST(0, CAST(FLOOR(
                        (CAST(l_quantity AS DOUBLE) - 0.0e0) / 2.0e0)
                        AS INT))) AS bin,
                      CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM lineitem WHERE l_quantity IS NOT NULL
                    GROUP BY 1, 2),
           c AS (SELECT l_returnflag, bin, cnt,
                   CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
                     ORDER BY bin) AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER (PARTITION BY l_returnflag)
                     AS BIGINT) AS n_rows
                 FROM b),
           qs AS (SELECT CAST(q AS DOUBLE) AS quantile
                  FROM (VALUES (0.5), (0.9), (0.99)) t(q))
         SELECT l_returnflag, quantile,
                (round((0.0e0 + 2.0e0 * (bin +
                   (quantile * n_rows - (cum - cnt)) / cnt)) * 1e4)/1e4
                 + 0.0e0) AS est_value,
                n_rows
         FROM c CROSS JOIN qs
         WHERE cum - cnt < quantile * n_rows
           AND quantile * n_rows <= cum""",
    // q302: the count-min chain replayed — the affine-Lehmer hash rows
    // as pure integer arithmetic (constants from the same Lehmer
    // stream the Spark plan embeds), sparse slot counts, min-over-rows
    // probe with absent slots as 0; merge ≡ recompute exactly, so the
    // oracle sketches the fact directly
    "q302_cm_frequency" ->
      """WITH cons AS (SELECT * FROM (VALUES
                (0, 175855092, 1879661991),
                (1, 1467249978, 1023573230),
                (2, 611161217, 167484469)) t(j, a, b)),
           e AS (SELECT l_returnflag, j,
                   (((l_partkey % 2147483647) * a + b) % 2147483647)
                     % 512 AS slot
                 FROM lineitem CROSS JOIN cons
                 WHERE l_partkey IS NOT NULL),
           sk AS (SELECT l_returnflag, j, slot,
                    CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM e GROUP BY 1, 2, 3),
           cand AS (SELECT DISTINCT l_returnflag, l_partkey
                    FROM lineitem WHERE l_partkey < 40),
           pr AS (SELECT c.l_returnflag, c.l_partkey, k.j,
                    (((c.l_partkey % 2147483647) * k.a + k.b)
                      % 2147483647) % 512 AS slot
                  FROM cand c CROSS JOIN cons k)
         SELECT pr.l_returnflag, pr.l_partkey,
                CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_count
         FROM pr LEFT JOIN sk ON sk.l_returnflag = pr.l_returnflag
                             AND sk.j = pr.j AND sk.slot = pr.slot
         GROUP BY 1, 2""",
    // q303: the naive band join the optimizer rule rewrites — the oracle
    // states the PRE-rewrite semantics, so a hash match proves the
    // binned equi-join plan is row-for-row equivalent
    "q303_range_rewrite" ->
      """WITH iv AS (SELECT p_brand AS b_brand,
                       MIN(p_retailprice) + 5.0 AS lo,
                       MAX(p_retailprice) - 5.0 AS hi
                     FROM part GROUP BY 1)
         SELECT b_brand, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CAST(ROUND(p_retailprice * 1e4) AS HUGEINT))
                     AS DOUBLE) / 1e4 AS sum_rp
         FROM part JOIN iv ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY 1""",
    // q284: containment algebra over per-(user, item) position extrema —
    // (a,b) iff min_pos(a) < max_pos(b); (a,b,c) iff a b-occurrence lies
    // strictly between min_pos(a) and max_pos(c); support gate vs the
    // distinct-user count
    "q284_prefixspan_portable" ->
      """WITH e0 AS (SELECT user_id AS u, event_type AS t,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS p
                     FROM events),
           mm AS (SELECT u, t, min(p) AS minp, max(p) AS maxp
                  FROM e0 GROUP BY 1, 2),
           n AS (SELECT count(DISTINCT u) AS ns FROM e0),
           l1 AS (SELECT t AS pattern, count(*) AS freq FROM mm GROUP BY 1),
           l2 AS (SELECT a.t || '>' || b.t AS pattern, count(*) AS freq
                  FROM mm a JOIN mm b ON a.u = b.u AND a.minp < b.maxp
                  GROUP BY 1),
           l3 AS (SELECT ta || '>' || tb || '>' || tc AS pattern,
                    count(*) AS freq
                  FROM (SELECT DISTINCT e0.u, a.t AS ta, e0.t AS tb, c.t AS tc
                        FROM e0 JOIN mm a ON e0.u = a.u AND a.minp < e0.p
                                JOIN mm c ON e0.u = c.u AND e0.p < c.maxp)
                  GROUP BY 1),
           allp AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2
                    UNION ALL SELECT * FROM l3)
         SELECT pattern, CAST(freq AS BIGINT) AS freq
         FROM allp, n WHERE CAST(freq AS DOUBLE) >= 0.2e0 * ns""",
    // q282: the planted-PNG formulas replayed analytically — integer
    // channel sums over the x×y grid are exact in both engines
    // q72: dims from the REAL GIF decode replay analytically; the hash
    // featurizer contributes only its constant dimensionality
    "q72_media_features" ->
      """SELECT doc_id AS media_id,
                CAST(8 + doc_id % 9 AS INT) AS width,
                CAST(8 + (7*doc_id) % 9 AS INT) AS height,
                CAST(8 AS INT) AS feat_dim
         FROM documents""",
    // q341: the planted animated-GIF gray formula replayed analytically
    // over (x, y, frame) — integer mod sums are exact in both engines
    "q341_video_decode" ->
      """WITH d AS (SELECT doc_id AS media_id,
                      CAST(8 + doc_id % 9 AS INT) AS w,
                      CAST(8 + (7*doc_id) % 9 AS INT) AS h,
                      CAST(2 + doc_id % 4 AS INT) AS nf
                    FROM documents),
           px AS (SELECT media_id, w, h, nf, x.x, y.y, f.f
                  FROM d, unnest(range(0, w)) x(x), unnest(range(0, h)) y(y),
                       unnest(range(0, nf)) f(f)),
           m AS (SELECT media_id, any_value(w) AS w, any_value(h) AS h,
                   any_value(nf) AS nf,
                   sum((media_id + 3*x + 5*y + 11*f) % 256) AS tot,
                   sum(CASE WHEN f = 0
                     THEN (media_id + 3*x + 5*y) % 256 ELSE 0 END) AS fsum,
                   sum(CASE WHEN f = nf - 1
                     THEN (media_id + 3*x + 5*y + 11*f) % 256 ELSE 0 END) AS lsum
                 FROM px GROUP BY 1)
         SELECT media_id, nf AS n_frames, w AS width, h AS height,
                (round(CAST(tot AS DOUBLE)/(w*h*nf)*1e4)/1e4 + 0.0e0) AS mean_lum,
                (round(CAST(fsum AS DOUBLE)/(w*h)*1e4)/1e4 + 0.0e0) AS first_lum,
                (round(CAST(lsum AS DOUBLE)/(w*h)*1e4)/1e4 + 0.0e0) AS last_lum,
                TRUE AS decode_ok
         FROM m""",
    "q282_image_decode" ->
      """WITH d AS (SELECT doc_id AS media_id,
                      CAST(8 + doc_id % 9 AS INT) AS w,
                      CAST(8 + (7*doc_id) % 9 AS INT) AS h
                    FROM documents),
           px AS (SELECT media_id, w, h, x.x, y.y
                  FROM d, unnest(range(0, w)) x(x), unnest(range(0, h)) y(y)),
           m AS (SELECT media_id, any_value(w) AS width, any_value(h) AS height,
                   (round((CAST(sum((media_id + 3*x + 5*y) % 256) AS DOUBLE)
                     /count(*))*1e4)/1e4 + 0.0e0) AS mean_r,
                   (round((CAST(sum((2*media_id + 7*x + 11*y) % 256) AS DOUBLE)
                     /count(*))*1e4)/1e4 + 0.0e0) AS mean_g,
                   (round((CAST(sum((3*media_id + 13*x + 17*y) % 256) AS DOUBLE)
                     /count(*))*1e4)/1e4 + 0.0e0) AS mean_b
                 FROM px GROUP BY 1)
         SELECT media_id, width, height, CAST(3 AS INT) AS channels,
                mean_r, mean_g, mean_b, TRUE AS decode_ok
         FROM m""",
    // q287: the planted-WAV sample formula replayed analytically —
    // integer amplitude sums over the t range are exact in both engines
    "q287_audio_decode" ->
      """WITH d AS (SELECT doc_id AS media_id,
                      CAST(64 + doc_id % 65 AS BIGINT) AS n
                    FROM documents),
           sm AS (SELECT media_id, n, t.t,
                    ((37*media_id + 13*t*t + 7*t) % 4096 - 2048) * 16 AS s
                  FROM d, unnest(range(0, n)) t(t)),
           lg AS (SELECT media_id, n, t, s,
                    lag(s) OVER (PARTITION BY media_id ORDER BY t) AS prev
                  FROM sm),
           ag AS (SELECT media_id, any_value(n) AS n,
                    sum(s) AS ssum, sum(s*s) AS ssq,
                    sum(CASE WHEN t > 0 AND prev * s < 0 THEN 1 ELSE 0 END) AS zc
                  FROM lg GROUP BY 1)
         SELECT media_id, CAST(8000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS n_channels, CAST(16 AS INT) AS bits,
                n AS n_samples,
                (round(n*1000.0e0/8000*1e4)/1e4 + 0.0e0) AS duration_ms,
                (round(CAST(ssum AS DOUBLE)/n*1e4)/1e4 + 0.0e0) AS mean_amp,
                (round(sqrt(CAST(ssq AS DOUBLE)/n)*1e4)/1e4 + 0.0e0) AS rms_amp,
                CAST(zc AS BIGINT) AS zero_cross, TRUE AS decode_ok
         FROM ag""",
    // q268: the quality scorecard replayed term for term — micro-int
    // sums for every error aggregate, per-row-rounded MAPE terms,
    // component scores rounded before the weighted overall, the same
    // grade ladder
    "q268_quality_scorecard" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                      sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
              lagd AS (SELECT l_suppkey, ws, q,
                      (round((lag(q,1) OVER sw)*1e4)/1e4 + 0.0e0) AS pred,
                      (round(abs(lag(q,1) OVER sw - lag(q,2) OVER sw)*1e4)/1e4 + 0.0e0) AS unc,
                      (round((CAST(sum(CAST(round(q*1e4) AS HUGEINT)) OVER sa AS DOUBLE)
                        /1e4/(count(*) OVER sa))*1e4)/1e4 + 0.0e0) AS tgt
                    FROM w
                    WINDOW sw AS (PARTITION BY l_suppkey ORDER BY ws),
                           sa AS (PARTITION BY l_suppkey)),
              base AS (SELECT l_suppkey, ws, (round(q*1e4)/1e4 + 0.0e0) AS a,
                      pred AS p, unc AS u, tgt AS t,
                      lag(pred,1) OVER (PARTITION BY l_suppkey ORDER BY ws) AS pprev
                    FROM lagd WHERE unc IS NOT NULL),
              g AS (SELECT l_suppkey, count(*) AS n_rows, CAST(count(*) AS DOUBLE) AS n,
                      CAST(sum(CAST(round(abs(a-p)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sad,
                      CAST(sum(CAST(round(abs(a)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS saa,
                      CAST(sum(CAST(round(a*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sa,
                      CAST(sum(CAST(round(a*a*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS saa2,
                      CAST(sum(CAST(round((a-p)*(a-p)*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS sse,
                      CAST(sum(CAST(round((abs(a-p)/(abs(a)+1e-8))*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS mapesum,
                      sum(CASE WHEN a >= p - 1.96e0*u AND a <= p + 1.96e0*u THEN 1 ELSE 0 END) AS cov,
                      sum(CASE WHEN pprev IS NOT NULL THEN 1 ELSE 0 END) AS nch,
                      CAST(sum(CASE WHEN pprev IS NOT NULL
                        THEN CAST(round(abs(p-pprev)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS chs,
                      CAST(sum(CASE WHEN pprev IS NOT NULL
                        THEN CAST(round(abs(p-pprev)*abs(p-pprev)*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS chss,
                      sum(CASE WHEN abs(p - t) <= 0.1e0*abs(t + 1e-8) THEN 1 ELSE 0 END) AS close
                    FROM base GROUP BY 1),
              e1 AS (SELECT *,
                      (round((sad/(saa + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS wmape,
                      saa2 - n*(sa/n)*(sa/n) AS sst
                    FROM g),
              e2 AS (SELECT *,
                      (round(greatest(0.0e0, 100 - wmape)*1e4)/1e4 + 0.0e0) AS accuracy_score,
                      (round((cov/n)*1e4)/1e4 + 0.0e0) AS coverage,
                      (round((CASE WHEN nch > 0 THEN chs/nch ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS mean_change,
                      (round((CASE WHEN nch > 1 THEN
                        sqrt(greatest(chss/nch - (chs/nch)*(chs/nch), 0.0e0))/(chs/nch + 1e-8)
                        ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS cv_changes,
                      (round((close/n)*1e4)/1e4 + 0.0e0) AS alignment_rate
                    FROM e1),
              e3 AS (SELECT *,
                      (round(abs(coverage - 0.95e0)*1e4)/1e4 + 0.0e0) AS calibration_error,
                      (round((consistency)*1e4)/1e4 + 0.0e0) AS consistency_score,
                      (round((alignment_rate*100)*1e4)/1e4 + 0.0e0) AS alignment_score
                    FROM (SELECT *, greatest(0.0e0, 100 - cv_changes*20) AS consistency FROM e2)),
              e4 AS (SELECT *,
                      (round(greatest(0.0e0, 100 - calibration_error*200)*1e4)/1e4 + 0.0e0) AS calibration_score
                    FROM e3),
              e5 AS (SELECT *,
                      (round((accuracy_score*0.4e0 + calibration_score*0.25e0
                        + consistency_score*0.2e0 + alignment_score*0.15e0)*1e4)/1e4 + 0.0e0) AS overall_quality
                    FROM e4)
         SELECT l_suppkey, n_rows, wmape,
                (round((sad/n)*1e4)/1e4 + 0.0e0) AS mae,
                (round(sqrt(sse/n)*1e4)/1e4 + 0.0e0) AS rmse,
                (CASE WHEN sst > 0 THEN round((1 - sse/sst)*1e4)/1e4 + 0.0e0 END) AS r2,
                (round((mapesum/n*100)*1e4)/1e4 + 0.0e0) AS mape,
                accuracy_score, coverage, calibration_error, calibration_score,
                mean_change, cv_changes, consistency_score, alignment_rate,
                alignment_score, overall_quality,
                (CASE WHEN overall_quality >= 90 THEN 'A'
                      WHEN overall_quality >= 80 THEN 'B'
                      WHEN overall_quality >= 70 THEN 'C'
                      WHEN overall_quality >= 60 THEN 'D'
                      ELSE 'F' END) AS quality_grade
         FROM e5""",
    // q269: channel melt → per-channel two-sample KS (q243's cumulative
    // CDF device) + micro-int moment deltas; WMAPE-degradation row with
    // the reference's 20% gate
    "q269_drift_report" ->
      """WITH g AS (SELECT l_returnflag, l_quantity,
                      CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END AS cur,
                      (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4
                        + 0.0e0) AS pred
                    FROM lineitem),
              m AS (SELECT l_returnflag, cur, 'target' AS channel,
                      (round(l_quantity*1e4)/1e4 + 0.0e0) AS value FROM g
                    UNION ALL
                    SELECT l_returnflag, cur, 'prediction', pred FROM g
                    UNION ALL
                    SELECT l_returnflag, cur, 'residual',
                      (round((l_quantity - pred)*1e4)/1e4 + 0.0e0) FROM g),
              s AS (SELECT l_returnflag, channel, value,
                      sum(cur) np, sum(1 - cur) nn
                    FROM m GROUP BY 1,2,3),
              d AS (SELECT *, sum(np) OVER c AS cp, sum(nn) OVER c AS cn,
                      sum(np) OVER a AS tp, sum(nn) OVER a AS tn
                    FROM s
                    WINDOW c AS (PARTITION BY l_returnflag, channel ORDER BY value
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                           a AS (PARTITION BY l_returnflag, channel
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
              ksx AS (SELECT l_returnflag, channel,
                      (round(max(abs(cp/tp - cn/tn))*1e4)/1e4 + 0.0e0) AS ks_stat
                    FROM d GROUP BY 1,2),
              mo AS (SELECT l_returnflag, channel,
                      CAST(sum(1 - cur) AS BIGINT) AS n_ref,
                      CAST(sum(cur) AS BIGINT) AS n_cur,
                      CAST(sum(CASE WHEN cur = 0 THEN CAST(round(value*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS rs,
                      CAST(sum(CASE WHEN cur = 0 THEN CAST(round(value*value*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS rss,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(value*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS cs,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(value*value*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS css
                    FROM m GROUP BY 1,2),
              vr AS (SELECT mo.l_returnflag, mo.channel, n_ref, n_cur, k.ks_stat,
                      (round((rs/n_ref)*1e4)/1e4 + 0.0e0) AS ref_mean,
                      (round((cs/n_cur)*1e4)/1e4 + 0.0e0) AS cur_mean,
                      (round(sqrt(greatest(rss/n_ref - (rs/n_ref)*(rs/n_ref), 0.0e0))*1e4)/1e4 + 0.0e0) AS ref_sd,
                      (round(sqrt(greatest(css/n_cur - (cs/n_cur)*(cs/n_cur), 0.0e0))*1e4)/1e4 + 0.0e0) AS cur_sd
                    FROM mo JOIN ksx k ON mo.l_returnflag = k.l_returnflag
                      AND mo.channel = k.channel),
              vrows AS (SELECT l_returnflag, channel, n_ref, n_cur, ks_stat,
                      ref_mean, cur_mean,
                      (round(abs(cur_mean - ref_mean)*1e4)/1e4 + 0.0e0) AS mean_change,
                      (round(abs(cur_sd - ref_sd)*1e4)/1e4 + 0.0e0) AS std_change,
                      CASE WHEN ks_stat > 0.1e0 THEN 1 ELSE 0 END AS drift_detected,
                      (round((CASE WHEN ks_stat > 0.1e0 THEN ks_stat ELSE 0.0e0 END)*1e4)/1e4
                        + 0.0e0) AS drift_score
                    FROM vr),
              ga AS (SELECT l_returnflag, cur,
                      (round(l_quantity*1e4)/1e4 + 0.0e0) AS a, pred AS p FROM g),
              pf0 AS (SELECT l_returnflag,
                      CAST(sum(1 - cur) AS BIGINT) AS n_ref,
                      CAST(sum(cur) AS BIGINT) AS n_cur,
                      CAST(sum(CASE WHEN cur = 0 THEN CAST(round(abs(a-p)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS rsad,
                      CAST(sum(CASE WHEN cur = 0 THEN CAST(round(abs(a)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS rsaa,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(abs(a-p)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS csad,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(abs(a)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS csaa
                    FROM ga GROUP BY 1),
              pf1 AS (SELECT l_returnflag, n_ref, n_cur,
                      (round((rsad/(rsaa + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS ref_mean,
                      (round((csad/(csaa + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS cur_mean
                    FROM pf0),
              pf2 AS (SELECT l_returnflag, n_ref, n_cur, ref_mean, cur_mean,
                      (CASE WHEN ref_mean > 0
                        THEN round(((cur_mean - ref_mean)/ref_mean)*1e4)/1e4 + 0.0e0 END) AS mean_change
                    FROM pf1),
              pf AS (SELECT l_returnflag, 'performance' AS channel, n_ref, n_cur,
                      CAST(NULL AS DOUBLE) AS ks_stat, ref_mean, cur_mean, mean_change,
                      CAST(NULL AS DOUBLE) AS std_change,
                      CASE WHEN mean_change IS NOT NULL AND mean_change > 0.2e0
                        THEN 1 ELSE 0 END AS drift_detected,
                      (round((CASE WHEN mean_change IS NOT NULL AND mean_change > 0.2e0
                        THEN greatest(0.0e0, mean_change) ELSE 0.0e0 END)*1e4)/1e4
                        + 0.0e0) AS drift_score
                    FROM pf2)
         SELECT * FROM vrows
         UNION ALL
         SELECT l_returnflag, channel, n_ref, n_cur, ks_stat, ref_mean, cur_mean,
                mean_change, std_change, drift_detected, drift_score
         FROM pf""",
    // q270: the A36 heuristic importances scored per period slice,
    // joined at feature grain; |Spearman| via the exact doubled-rank
    // device (q247), struct-max tie-break replayed as ORDER BY DESC
    "q270_importance_stability" -> {
      def impSql(src: String): String =
        Seq("l_discount", "l_tax", "l_extendedprice", "l_linenumber").map { f =>
          s"""SELECT '$f' AS feature,
                coalesce(abs(corr($f, l_quantity)), 0)*0.3
                + coalesce(stddev($f)/(abs(avg($f))+1e-8), 0)*0.2 + 0.0 AS s
              FROM $src"""
        }.mkString(" UNION ALL ")
      s"""WITH b AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'),
              c AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
              bs AS (${impSql("b")}),
              cs AS (${impSql("c")}),
              j AS (SELECT bs.feature,
                      (round(bs.s*1e4)/1e4 + 0.0e0) AS bi,
                      (round(cs.s*1e4)/1e4 + 0.0e0) AS ci
                    FROM bs JOIN cs USING (feature)),
              ch AS (SELECT feature, bi, ci,
                      (round(abs(ci - bi)*1e4)/1e4 + 0.0e0) AS chg FROM j),
              ag AS (SELECT count(*) AS n_features,
                      (round((CAST(sum(CAST(round(chg*1e4) AS HUGEINT)) AS DOUBLE)
                        /1e4/count(*))*1e4)/1e4 + 0.0e0) AS mean_change,
                      (round(max(chg)*1e4)/1e4 + 0.0e0) AS max_change
                    FROM ch),
              top AS (SELECT feature AS top_changed_feature, chg AS top_change
                    FROM ch ORDER BY chg DESC, feature DESC LIMIT 1),
              rk AS (SELECT CAST(2*rank() OVER (ORDER BY bi)
                        + count(*) OVER (PARTITION BY bi) - 1 AS BIGINT) AS rx,
                      CAST(2*rank() OVER (ORDER BY ci)
                        + count(*) OVER (PARTITION BY ci) - 1 AS BIGINT) AS ry
                    FROM ch),
              sp AS (SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
                      sum(rx*ry) AS sxy, sum(rx*rx) AS sxx, sum(ry*ry) AS syy
                    FROM rk),
              rho AS (SELECT (round((CAST(n*sxy - sx*sy AS DOUBLE) /
                        (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                         sqrt(CAST(n*syy - sy*sy AS DOUBLE))))*1e4)/1e4 + 0.0e0) AS r0
                    FROM sp),
              fin AS (SELECT ag.*, coalesce(abs(rho.r0), 0.0e0) AS rank_corr
                    FROM ag CROSS JOIN rho)
         SELECT n_features, mean_change, max_change, rank_corr,
                (round((rank_corr*(1.0e0 - mean_change))*1e4)/1e4 + 0.0e0) AS stability_score,
                CASE WHEN (round((rank_corr*(1.0e0 - mean_change))*1e4)/1e4 + 0.0e0)
                  > (1.0e0 - 0.3e0) THEN 1 ELSE 0 END AS stable,
                top.top_changed_feature, top.top_change
         FROM fin CROSS JOIN top"""
    },
    // q271: inverse-WMAPE scenario weights — melt the three members,
    // micro-int error sums, rounded raw weights normalized by an exact
    // micro-int scenario total
    "q271_model_weights" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                      sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
              t AS (SELECT l_suppkey, ws, q,
                      (round((lag(q,1) OVER sw)*1e4)/1e4 + 0.0e0) AS naive,
                      (round((lag(q,13) OVER sw)*1e4)/1e4 + 0.0e0) AS snaive,
                      (round((CAST(sum(CAST(round(q*1e4) AS HUGEINT)) OVER sa AS DOUBLE)
                        /1e4/(count(*) OVER sa))*1e4)/1e4 + 0.0e0) AS smean,
                      count(*) OVER sa AS nw
                    FROM w
                    WINDOW sw AS (PARTITION BY l_suppkey ORDER BY ws),
                           sa AS (PARTITION BY l_suppkey)),
              m AS (SELECT CASE WHEN nw >= 40 THEN 'long' WHEN nw >= 20 THEN 'mid'
                        ELSE 'short' END AS scenario, q, 'naive' AS model, naive AS pred FROM t
                    UNION ALL
                    SELECT CASE WHEN nw >= 40 THEN 'long' WHEN nw >= 20 THEN 'mid'
                        ELSE 'short' END, q, 'snaive', snaive FROM t
                    UNION ALL
                    SELECT CASE WHEN nw >= 40 THEN 'long' WHEN nw >= 20 THEN 'mid'
                        ELSE 'short' END, q, 'smean', smean FROM t),
              f AS (SELECT scenario, model, (round(q*1e4)/1e4 + 0.0e0) AS a, pred AS p
                    FROM m WHERE pred IS NOT NULL),
              g AS (SELECT scenario, model, count(*) AS n_rows,
                      CAST(sum(CAST(round(abs(a-p)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sad,
                      CAST(sum(CAST(round(abs(a)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS saa
                    FROM f GROUP BY 1,2),
              g2 AS (SELECT *, (round((sad/(saa + 1e-8))*1e4)/1e4 + 0.0e0) AS wmape FROM g),
              g3 AS (SELECT *, (round((1.0e0/(wmape + 1e-8))*1e8)/1e8 + 0.0e0) AS raw FROM g2),
              g4 AS (SELECT *, CAST(sum(CAST(round(raw*1e8) AS HUGEINT))
                        OVER (PARTITION BY scenario) AS DOUBLE)/1e8 AS tot FROM g3)
         SELECT scenario, model, n_rows, wmape,
                (round((raw/tot)*1e6)/1e6 + 0.0e0) AS weight
         FROM g4""",
    // q272: the five-check validation suite replayed — micro-int error
    // and residual power sums, exact q99 gate, the same central-moment
    // algebra and threshold ladders (all literals e0-suffixed so both
    // engines compare the same doubles)
    "q272_validation" ->
      """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                      sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
              px AS (SELECT l_suppkey, ws, q,
                      (round((lag(q,1) OVER (PARTITION BY l_suppkey ORDER BY ws))*1e4)/1e4
                        + 0.0e0) AS pred
                    FROM w),
              b0 AS (SELECT l_suppkey, ws, (round(q*1e4)/1e4 + 0.0e0) AS a, pred AS p
                    FROM px WHERE pred IS NOT NULL),
              base AS (SELECT *, (round((a - p)*1e4)/1e4 + 0.0e0) AS rr,
                      lag((round((a - p)*1e4)/1e4 + 0.0e0), 1)
                        OVER (PARTITION BY l_suppkey ORDER BY ws) AS rprev
                    FROM b0),
              qq AS (SELECT l_suppkey, (round(quantile_cont(a, 0.99)*1e4)/1e4 + 0.0e0) AS q99
                    FROM base GROUP BY 1),
              g AS (SELECT b.l_suppkey, count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
                      CAST(sum(CAST(round(abs(a-p)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sad,
                      CAST(sum(CAST(round(abs(a)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS saa,
                      CAST(sum(CAST(round((abs(a-p)/(abs(a)+1e-8))*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS mapesum,
                      sum(CASE WHEN a <> 0 THEN 1 ELSE 0 END) AS nb,
                      CAST(sum(CASE WHEN a <> 0
                        THEN CAST(round(((p-a)/a)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS biassum,
                      CAST(sum(CAST(round(rr*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS s1,
                      CAST(sum(CAST(round(rr*rr*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS s2,
                      CAST(sum(CAST(round(rr*rr*rr*1e12) AS HUGEINT)) AS DOUBLE)/1e12 AS s3,
                      CAST(sum(CAST(round(rr*rr*rr*rr*1e12) AS HUGEINT)) AS DOUBLE)/1e12 AS s4,
                      sum(CASE WHEN rprev IS NOT NULL THEN 1 ELSE 0 END) AS np,
                      CAST(sum(CASE WHEN rprev IS NOT NULL
                        THEN CAST(round(rr*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS spx,
                      CAST(sum(CAST(round(rprev*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS spy,
                      CAST(sum(CASE WHEN rprev IS NOT NULL
                        THEN CAST(round(rr*1e4) AS HUGEINT)*CAST(round(rprev*1e4) AS HUGEINT)
                        END) AS DOUBLE)/1e8 AS spxy,
                      CAST(sum(CASE WHEN rprev IS NOT NULL
                        THEN CAST(round(rr*rr*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS spxx,
                      CAST(sum(CAST(round(rprev*rprev*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS spyy,
                      sum(CASE WHEN p < 0 THEN 1 ELSE 0 END) AS nneg,
                      sum(CASE WHEN p > 3.0e0*q99 THEN 1 ELSE 0 END) AS nextreme,
                      sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS missa,
                      sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS missp,
                      CAST(sum(CAST(round(p*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sp,
                      CAST(sum(CAST(round(p*p*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS spp
                    FROM base b JOIN qq USING (l_suppkey) GROUP BY 1),
              e0 AS (SELECT *, s1/nd AS mu FROM g),
              e1 AS (SELECT *,
                      (s2 - 2.0e0*mu*s1 + nd*mu*mu)/nd AS m2,
                      (s3 - 3.0e0*mu*s2 + 3.0e0*mu*mu*s1 - nd*mu*mu*mu)/nd AS m3,
                      (s4 - 4.0e0*mu*s3 + 6.0e0*mu*mu*s2 - 4.0e0*mu*mu*mu*s1
                        + nd*mu*mu*mu*mu)/nd AS m4
                    FROM e0),
              e2 AS (SELECT *, sqrt(greatest(m2, 0.0e0)) AS sdp FROM e1),
              e3 AS (SELECT *,
                      (round((sad/(saa + 1e-8))*1e4)/1e4 + 0.0e0) AS wmape,
                      (round((mapesum/nd)*1e4)/1e4 + 0.0e0) AS mape,
                      (CASE WHEN nb > 0 THEN round((biassum/nb)*1e4)/1e4 + 0.0e0 END) AS bias,
                      (round((CASE WHEN n < 3 OR sdp <= 0 THEN 0.0e0
                        ELSE m3/(sdp*sdp*sdp) END)*1e4)/1e4 + 0.0e0) AS skewness,
                      (round((CASE WHEN n < 4 OR sdp <= 0 THEN 3.0e0
                        ELSE m4/(m2*m2) - 3.0e0 END)*1e4)/1e4 + 0.0e0) AS kurtosis,
                      -- the zero-variance guard mirrors Spark's
                      -- nanToNull: a degenerate pair series (0/0 = NaN
                      -- there) must be NULL here too, not DuckDB's NaN
                      (round((CASE WHEN np < 2 THEN 0.0e0
                        WHEN (np*spxx - spx*spx) <= 0
                          OR (np*spyy - spy*spy) <= 0 THEN NULL
                        ELSE (np*spxy - spx*spy) /
                          (sqrt(np*spxx - spx*spx)*sqrt(np*spyy - spy*spy))
                        END)*1e4)/1e4 + 0.0e0) AS autocorr_lag1
                    FROM e2),
              e4 AS (SELECT *,
                      (CASE WHEN abs(skewness) > 2 THEN 1 ELSE 0 END)
                        + (CASE WHEN abs(kurtosis) > 7 THEN 1 ELSE 0 END)
                        + (CASE WHEN abs(autocorr_lag1) > 0.3e0 THEN 1 ELSE 0 END) AS resissues,
                      (CASE WHEN nneg > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN nextreme > nd*0.01e0 THEN 1 ELSE 0 END) AS bizissues,
                      (CASE WHEN missa > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN missp > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN n < 30 THEN 1 ELSE 0 END)
                        + (CASE WHEN sqrt(greatest(spp/nd - pow(sp/nd, 2), 0.0e0)) < 1e-6
                           THEN 1 ELSE 0 END) AS dqissues
                    FROM e3)
         SELECT l_suppkey, CAST(n AS BIGINT) AS n_rows,
                'accuracy_check' AS check_name, 'statistical' AS category,
                wmape, mape, CAST(NULL AS DOUBLE) AS bias,
                CAST(NULL AS DOUBLE) AS skewness, CAST(NULL AS DOUBLE) AS kurtosis,
                CAST(NULL AS DOUBLE) AS autocorr_lag1,
                CAST(NULL AS BIGINT) AS n_negative, CAST(NULL AS BIGINT) AS n_extreme,
                CAST(NULL AS BIGINT) AS n_missing,
                (CASE WHEN wmape <= 0.2e0 AND mape <= 0.25e0 THEN 0 ELSE 1 END) AS n_issues,
                (CASE WHEN wmape <= 0.2e0 AND mape <= 0.25e0 THEN 'PASSED'
                      WHEN wmape <= 0.2e0*1.2e0 THEN 'WARNING'
                      ELSE 'FAILED' END) AS result
         FROM e4
         UNION ALL
         SELECT l_suppkey, CAST(n AS BIGINT), 'bias_check', 'statistical',
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), bias,
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                (CASE WHEN abs(bias) <= 0.1e0 THEN 0 ELSE 1 END),
                (CASE WHEN abs(bias) <= 0.1e0 THEN 'PASSED'
                      WHEN abs(bias) <= 0.1e0*1.5e0 THEN 'WARNING'
                      ELSE 'FAILED' END)
         FROM e4
         UNION ALL
         SELECT l_suppkey, CAST(n AS BIGINT), 'residual_analysis', 'statistical',
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                skewness, kurtosis, autocorr_lag1,
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                resissues,
                (CASE WHEN resissues = 0 THEN 'PASSED'
                      WHEN resissues <= 1 THEN 'WARNING' ELSE 'FAILED' END)
         FROM e4
         UNION ALL
         SELECT l_suppkey, CAST(n AS BIGINT), 'business_rules', 'business',
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(nneg AS BIGINT), CAST(nextreme AS BIGINT), CAST(NULL AS BIGINT),
                bizissues,
                (CASE WHEN bizissues = 0 THEN 'PASSED'
                      WHEN bizissues <= 2 THEN 'WARNING' ELSE 'FAILED' END)
         FROM e4
         UNION ALL
         SELECT l_suppkey, CAST(n AS BIGINT), 'data_quality', 'data_quality',
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(missa + missp AS BIGINT),
                dqissues,
                (CASE WHEN dqissues = 0 THEN 'PASSED'
                      WHEN dqissues <= 1 THEN 'WARNING' ELSE 'FAILED' END)
         FROM e4""",
    // q273: the per-team position report replayed — rank/percentile/
    // zone windows, the reference's k-th-score-or-zero convention for
    // top-3/10/25, rounded factor pipeline into the achievability and
    // target ladders
    "q273_leaderboard" -> (supplierBoardSql +
      """,
              rk AS (SELECT l_suppkey AS team, score,
                      CAST(row_number() OVER (ORDER BY score, l_suppkey) AS BIGINT) AS rank,
                      count(*) OVER () AS total_teams,
                      min(score) OVER () AS top_score,
                      lag(score, 1) OVER (ORDER BY score, l_suppkey) AS prev
                    FROM brd),
              rk2 AS (SELECT *,
                      CASE WHEN total_teams >= 3 THEN
                        max(CASE WHEN rank = 3 THEN score END) OVER () ELSE 0.0e0 END AS s3,
                      CASE WHEN total_teams >= 10 THEN
                        max(CASE WHEN rank = 10 THEN score END) OVER () ELSE 0.0e0 END AS s10,
                      CASE WHEN total_teams >= 25 THEN
                        max(CASE WHEN rank = 25 THEN score END) OVER () ELSE 0.0e0 END AS s25,
                      sum(CASE WHEN rank <= 20 THEN 1 ELSE 0 END) OVER () AS n20,
                      CAST(sum(CASE WHEN rank <= 20
                        THEN CAST(round(score*1e4) AS HUGEINT) END) OVER () AS DOUBLE)/1e4 AS s20,
                      CAST(sum(CASE WHEN rank <= 20
                        THEN CAST(round(score*score*1e8) AS HUGEINT) END) OVER () AS DOUBLE)/1e8 AS ss20
                    FROM rk),
              e AS (SELECT *, CAST(total_teams AS DOUBLE) AS nd,
                      (round(abs(score - s3)*1e4)/1e4 + 0.0e0) AS g3,
                      (round(abs(score - s10)*1e4)/1e4 + 0.0e0) AS g10,
                      (round(abs(score - s25)*1e4)/1e4 + 0.0e0) AS g25
                    FROM rk2),
              e2 AS (SELECT *,
                      (round(((nd - rank + 1)/nd*100)*1e4)/1e4 + 0.0e0) AS percentile,
                      CASE WHEN rank <= 3 THEN 'leader' WHEN rank <= 10 THEN 'contender'
                           WHEN rank <= nd*0.5e0 THEN 'middle_pack'
                           ELSE 'bottom' END AS competitive_zone,
                      (round(abs(score - top_score)*1e4)/1e4 + 0.0e0) AS gap_to_top,
                      (round((CASE WHEN rank > 1 THEN abs(score - prev)
                        ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS gap_to_next,
                      (round((g3*(1.0e0 + 0.05e0))*1e4)/1e4 + 0.0e0) AS i3,
                      (round((g10*(1.0e0 + 0.05e0))*1e4)/1e4 + 0.0e0) AS i10,
                      (round((g25*(1.0e0 + 0.05e0))*1e4)/1e4 + 0.0e0) AS i25,
                      (round(greatest(score*0.05e0, 1.0e0)*1e4)/1e4 + 0.0e0) AS ib
                    FROM e),
              e3 AS (SELECT *,
                      (i3 + i10 + i25 + ib)/4.0e0 AS avgimp,
                      sqrt(greatest(ss20/n20 - pow(s20/n20, 2), 0.0e0)) AS std20
                    FROM e2),
              e4 AS (SELECT *,
                      (round(greatest(0.1e0, 1.0e0 - rank/nd)*1e4)/1e4 + 0.0e0) AS posf,
                      (round(greatest(0.1e0, 1.0e0/(1.0e0 + avgimp/10.0e0))*1e4)/1e4 + 0.0e0) AS impf,
                      (round(least(1.0e0, std20/5.0e0)*1e4)/1e4 + 0.0e0) AS densf
                    FROM e3),
              e5 AS (SELECT *,
                      (round(least(1.0e0, (posf + impf + densf)/3.0e0)*1e4)/1e4 + 0.0e0) AS achievability
                    FROM e4)
         SELECT team, score, rank, total_teams, percentile, competitive_zone,
                gap_to_top, gap_to_next,
                g3 AS gap_to_top_3, g10 AS gap_to_top_10, g25 AS gap_to_top_25,
                i3 AS improve_top_3, i10 AS improve_top_10, i25 AS improve_top_25,
                ib AS improve_baseline, achievability,
                CAST(CASE WHEN achievability > 0.8e0 AND i3 < 3.0e0
                       THEN least(3, rank - 1)
                     WHEN achievability > 0.6e0 AND i10 < 5.0e0
                       THEN least(10, rank - 2)
                     WHEN achievability > 0.4e0
                       THEN greatest(1, CAST(floor(rank*0.8e0) AS BIGINT))
                     ELSE greatest(1, CAST(floor(rank*0.9e0) AS BIGINT))
                     END AS BIGINT) AS recommended_target
         FROM e5"""),
    // q274: the one-row competition summary — rank-conditional
    // micro-int sums, the reference's n-gates (top-10 range at 10,
    // density at 20, intensity fallback 0.5 under 10 teams)
    "q274_competition" -> (supplierBoardSql +
      """,
              rk AS (SELECT *, row_number() OVER (ORDER BY score, l_suppkey) AS rank
                    FROM brd),
              a AS (SELECT count(*) AS n_teams,
                      CAST(sum(CAST(round(score*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS s,
                      CAST(sum(CAST(round(score*score*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS ss,
                      min(score) AS mn, max(score) AS mx,
                      sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS n10,
                      min(CASE WHEN rank <= 10 THEN score END) AS mn10,
                      max(CASE WHEN rank <= 10 THEN score END) AS mx10,
                      CAST(sum(CASE WHEN rank <= 10
                        THEN CAST(round(score*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS s10,
                      CAST(sum(CASE WHEN rank <= 10
                        THEN CAST(round(score*score*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS ss10,
                      sum(CASE WHEN rank <= 20 THEN 1 ELSE 0 END) AS n20,
                      CAST(sum(CASE WHEN rank <= 20
                        THEN CAST(round(score*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS sc20,
                      CAST(sum(CASE WHEN rank <= 20
                        THEN CAST(round(score*score*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS ssc20,
                      sum(CASE WHEN rank <= 20 THEN n_weeks ELSE 0 END) AS sub20,
                      sum(n_weeks) AS subs, max(n_weeks) AS max_submissions,
                      corr(rank, n_weeks) AS eff
                    FROM rk)
         SELECT n_teams,
                (round((s/n_teams)*1e4)/1e4 + 0.0e0) AS mean_score,
                (round(sqrt(greatest(ss/n_teams - pow(s/n_teams, 2), 0.0e0))*1e4)/1e4
                  + 0.0e0) AS std_score,
                (round((mx - mn)*1e4)/1e4 + 0.0e0) AS score_range,
                (round((CASE WHEN n_teams >= 10 THEN mx10 - mn10
                  ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS top_10_range,
                (round((CASE WHEN n_teams >= 20 THEN
                  sqrt(greatest(ssc20/n20 - pow(sc20/n20, 2), 0.0e0))
                  ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS competitive_density,
                (round((CAST(subs AS DOUBLE)/n_teams)*1e4)/1e4 + 0.0e0) AS avg_submissions,
                CAST(max_submissions AS BIGINT) AS max_submissions,
                (round((coalesce(CASE WHEN n_teams > 1 THEN eff END, 0.0e0))*1e4)/1e4
                  + 0.0e0) AS submission_efficiency,
                (round((CASE WHEN n_teams < 10 THEN 0.5e0
                  ELSE least(1.0e0,
                    1.0e0/((round((ss10/n10 - pow(s10/n10, 2))*1e8)/1e8 + 0.0e0) + 0.001e0)*0.1e0
                    + (CAST(sub20 AS DOUBLE)/n20)/10.0e0) END)*1e4)/1e4 + 0.0e0) AS competitive_intensity
         FROM a"""),
    // q278: the bias detector replayed — three explicit grains instead
    // of GROUPING SETS (same integers), the doubled-rank signed-rank
    // device, rounded stats into every gate, the month-grain OLS trend
    "q278_systematic_bias" ->
      """WITH gg AS (SELECT l_returnflag, l_linestatus AS linestatus,
                      strftime(l_shipdate, '%Y-%m') AS month,
                      (round(l_quantity*1e4)/1e4 + 0.0e0) AS a,
                      (round((l_quantity -
                        (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4
                          + 0.0e0))*1e4)/1e4 + 0.0e0) AS e
                    FROM lineitem),
              st AS (SELECT l_returnflag,
                      CAST(NULL AS VARCHAR) AS dimension, CAST(NULL AS VARCHAR) AS segment,
                      count(*) AS n,
                      CAST(sum(CAST(round(e*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS s,
                      CAST(sum(CAST(round(e*e*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS ss,
                      quantile_cont(e, 0.5) AS med,
                      CAST(sum(CAST(round(a*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sa,
                      sum(CASE WHEN e < 0 THEN 1 ELSE 0 END) AS nneg,
                      sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS npos
                    FROM gg GROUP BY 1
                    UNION ALL
                    SELECT l_returnflag, 'linestatus', linestatus, count(*),
                      CAST(sum(CAST(round(e*1e4) AS HUGEINT)) AS DOUBLE)/1e4,
                      CAST(sum(CAST(round(e*e*1e8) AS HUGEINT)) AS DOUBLE)/1e8,
                      quantile_cont(e, 0.5),
                      CAST(sum(CAST(round(a*1e4) AS HUGEINT)) AS DOUBLE)/1e4,
                      sum(CASE WHEN e < 0 THEN 1 ELSE 0 END),
                      sum(CASE WHEN e > 0 THEN 1 ELSE 0 END)
                    FROM gg GROUP BY 1, 3
                    UNION ALL
                    SELECT l_returnflag, 'month', month, count(*),
                      CAST(sum(CAST(round(e*1e4) AS HUGEINT)) AS DOUBLE)/1e4,
                      CAST(sum(CAST(round(e*e*1e8) AS HUGEINT)) AS DOUBLE)/1e8,
                      quantile_cont(e, 0.5),
                      CAST(sum(CAST(round(a*1e4) AS HUGEINT)) AS DOUBLE)/1e4,
                      sum(CASE WHEN e < 0 THEN 1 ELSE 0 END),
                      sum(CASE WHEN e > 0 THEN 1 ELSE 0 END)
                    FROM gg GROUP BY 1, 3),
              base AS (SELECT l_returnflag, dimension, segment, n,
                      CAST(n AS DOUBLE) AS nd,
                      (round((s/n)*1e4)/1e4 + 0.0e0) AS mean_bias,
                      (round(med*1e4)/1e4 + 0.0e0) AS median_bias,
                      (CASE WHEN n > 1 THEN
                        round(sqrt(greatest((ss - s*s/n)/(n - 1), 0.0e0))*1e4)/1e4 + 0.0e0
                        END) AS std_bias,
                      (round((CASE WHEN sa <> 0 THEN (s/n)/(sa/n)*100 ELSE 0.0e0 END)*1e4)/1e4
                        + 0.0e0) AS bias_pct,
                      (round((nneg/CAST(n AS DOUBLE)*100)*1e4)/1e4 + 0.0e0) AS pct_over,
                      (round((npos/CAST(n AS DOUBLE)*100)*1e4)/1e4 + 0.0e0) AS pct_under
                    FROM st),
              nz AS (SELECT l_returnflag, e,
                      CAST(2*rank() OVER (PARTITION BY l_returnflag ORDER BY abs(e))
                        + count(*) OVER (PARTITION BY l_returnflag, abs(e)) - 1 AS BIGINT) AS r2
                    FROM gg WHERE e <> 0),
              wx AS (SELECT l_returnflag,
                      (round((CAST(least(sum(CASE WHEN e > 0 THEN r2 ELSE 0 END),
                        sum(r2) - sum(CASE WHEN e > 0 THEN r2 ELSE 0 END)) AS DOUBLE)/2.0e0)*1e4)/1e4
                        + 0.0e0) AS wilcoxon_w
                    FROM nz GROUP BY 1),
              ov AS (SELECT b.l_returnflag, 'overall' AS section,
                      b.dimension, b.segment, b.n, b.mean_bias, b.median_bias,
                      b.std_bias, b.bias_pct, b.pct_over, b.pct_under,
                      (CASE WHEN b.n > 10 AND b.std_bias > 0 THEN
                        round((b.mean_bias/(b.std_bias/sqrt(b.nd)))*1e4)/1e4 + 0.0e0
                        END) AS t_stat,
                      (CASE WHEN b.n > 10 THEN w.wilcoxon_w END) AS wilcoxon_w,
                      (CASE WHEN abs(b.bias_pct) > 10 THEN 'High'
                            WHEN abs(b.bias_pct) > 5 THEN 'Medium'
                            ELSE 'Low' END) AS severity,
                      (CASE WHEN b.mean_bias < 0 THEN 'Overestimate'
                            ELSE 'Underestimate' END) AS direction
                    FROM base b LEFT JOIN wx w USING (l_returnflag)
                    WHERE b.dimension IS NULL),
              ov2 AS (SELECT *,
                      (CASE WHEN coalesce(abs(t_stat) > 1.96e0, FALSE)
                            OR abs(bias_pct) > 5 THEN 1 ELSE 0 END) AS sig_flag
                    FROM ov),
              dm AS (SELECT l_returnflag, 'dimension' AS section, dimension, segment,
                      n, mean_bias, median_bias, std_bias, bias_pct, pct_over, pct_under,
                      (CASE WHEN std_bias IS NOT NULL AND std_bias > 0 AND n > 1
                            AND abs(mean_bias) > 2.0e0*(std_bias/sqrt(nd))
                        THEN 1 ELSE 0 END) AS sig_flag,
                      (CASE WHEN row_number() OVER (PARTITION BY l_returnflag, dimension
                          ORDER BY abs(mean_bias) DESC, segment ASC) = 1
                        THEN 1 ELSE 0 END) AS is_max_segment
                    FROM base WHERE dimension IS NOT NULL),
              tp AS (SELECT l_returnflag, mean_bias AS y,
                      CAST(row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY segment) - 1 AS DOUBLE) AS x
                    FROM base WHERE dimension = 'month'),
              tg AS (SELECT l_returnflag, count(*) AS n,
                      sum(x) AS sx,
                      CAST(sum(CAST(round(y*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sy,
                      CAST(sum(CAST(round(x*y*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sxy,
                      sum(x*x) AS sxx,
                      CAST(sum(CAST(round(y*y*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS syy
                    FROM tp GROUP BY 1),
              tr AS (SELECT l_returnflag, n,
                      (round(((sxy - sx*sy/nd)/(sxx - sx*sx/nd))*1e4)/1e4 + 0.0e0) AS trend_slope,
                      (round((CASE WHEN (syy - sy*sy/nd) > 0 THEN
                        (sxy - sx*sy/nd)*(sxy - sx*sy/nd)
                          /((sxx - sx*sx/nd)*(syy - sy*sy/nd))
                        ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS trend_r2
                    FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM tg) WHERE n > 2)
         SELECT l_returnflag, section, dimension, segment, CAST(n AS BIGINT) AS n_rows,
                mean_bias, median_bias, std_bias, bias_pct, pct_over, pct_under,
                t_stat, wilcoxon_w, sig_flag, CAST(NULL AS INTEGER) AS is_max_segment,
                severity, direction, CAST(NULL AS DOUBLE) AS trend_slope,
                CAST(NULL AS DOUBLE) AS trend_r2
         FROM ov2
         UNION ALL
         SELECT l_returnflag, section, dimension, segment, CAST(n AS BIGINT),
                mean_bias, median_bias, std_bias, bias_pct, pct_over, pct_under,
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), sig_flag, is_max_segment,
                CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         FROM dm
         UNION ALL
         SELECT l_returnflag, 'trend', 'month', CAST(NULL AS VARCHAR), CAST(n AS BIGINT),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
                CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                trend_slope, trend_r2
         FROM tr""",
    // q281: the cross-dim matrix replayed — micro-int cell sums,
    // deterministic rank windows
    "q281_cross_dim_wmape" ->
      """WITH gg AS (SELECT l_returnflag AS dim1, l_linestatus AS dim2,
                      (round(l_quantity*1e4)/1e4 + 0.0e0) AS a,
                      (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4
                        + 0.0e0) AS p
                    FROM lineitem),
              g AS (SELECT dim1, dim2, count(*) AS n_rows,
                      CAST(sum(CAST(round(abs(a-p)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sad,
                      CAST(sum(CAST(round(abs(a)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS saa
                    FROM gg GROUP BY 1, 2),
              sc AS (SELECT dim1, dim2, n_rows,
                      (round((sad/(saa + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS wmape
                    FROM g)
         SELECT dim1, dim2, CAST(n_rows AS BIGINT) AS n_rows, wmape,
                CAST(row_number() OVER (ORDER BY wmape ASC, dim1 ASC, dim2 ASC) AS BIGINT) AS best_rank,
                CAST(row_number() OVER (ORDER BY wmape DESC, dim1 ASC, dim2 ASC) AS BIGINT) AS worst_rank
         FROM sc""",
    // q279: the volume-pattern analysis replayed — rounded quantile
    // cuts, micro-int segment sums, first_value summary windows
    "q279_volume_patterns" ->
      """WITH gg AS (SELECT l_returnflag,
                      (round(l_quantity*1e4)/1e4 + 0.0e0) AS a,
                      (round((l_quantity -
                        (round((avg(l_quantity) OVER (PARTITION BY l_partkey, l_suppkey))*1e4)/1e4
                          + 0.0e0))*1e4)/1e4 + 0.0e0) AS e
                    FROM lineitem),
              g2 AS (SELECT *,
                      (round((abs(e)/(abs(a) + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS pe
                    FROM gg),
              th AS (SELECT l_returnflag,
                      (round(quantile_cont(a, 0.33)*1e4)/1e4 + 0.0e0) AS t33,
                      (round(quantile_cont(a, 0.67)*1e4)/1e4 + 0.0e0) AS t67
                    FROM g2 GROUP BY 1),
              seg AS (SELECT g2.*,
                      CASE WHEN a <= t33 THEN 'Small'
                           WHEN a <= t67 THEN 'Medium'
                           ELSE 'Large' END AS volume_segment
                    FROM g2 JOIN th USING (l_returnflag)),
              ag AS (SELECT l_returnflag, volume_segment, count(*) AS n,
                      CAST(count(*) AS DOUBLE) AS nd,
                      min(a) AS vmin, max(a) AS vmax,
                      CAST(sum(CAST(round(a*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS va,
                      CAST(sum(CAST(round(abs(e)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS sad,
                      CAST(sum(CAST(round(abs(a)*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS saa,
                      CAST(sum(CAST(round(pe*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS spe,
                      CAST(sum(CAST(round(e*1e4) AS HUGEINT)) AS DOUBLE)/1e4 AS se,
                      CAST(sum(CAST(round(e*e*1e8) AS HUGEINT)) AS DOUBLE)/1e8 AS sse,
                      sum(CASE WHEN e < 0 THEN 1 ELSE 0 END) AS nneg,
                      sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS npos,
                      sum(CASE WHEN pe > 50 THEN 1 ELSE 0 END) AS nlarge
                    FROM seg GROUP BY 1, 2),
              sc AS (SELECT l_returnflag, volume_segment, n,
                      (round(vmin*1e4)/1e4 + 0.0e0) AS volume_min,
                      (round(vmax*1e4)/1e4 + 0.0e0) AS volume_max,
                      (round((va/nd)*1e4)/1e4 + 0.0e0) AS volume_mean,
                      (round((sad/(saa + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS wmape,
                      (round((sad/nd)*1e4)/1e4 + 0.0e0) AS mae,
                      (round((spe/nd)*1e4)/1e4 + 0.0e0) AS mape,
                      (round((se/nd)*1e4)/1e4 + 0.0e0) AS bias,
                      (CASE WHEN n > 1 THEN
                        round(sqrt(greatest((sse - se*se/nd)/(nd - 1), 0.0e0))*1e4)/1e4 + 0.0e0
                        END) AS std_error,
                      (round((nneg/nd*100)*1e4)/1e4 + 0.0e0) AS overestimate_pct,
                      (round((npos/nd*100)*1e4)/1e4 + 0.0e0) AS underestimate_pct,
                      (round((nlarge/nd*100)*1e4)/1e4 + 0.0e0) AS large_errors_pct
                    FROM ag),
              fin AS (SELECT *,
                      first_value(volume_segment) OVER
                        (PARTITION BY l_returnflag ORDER BY wmape ASC, volume_segment ASC) AS best_segment,
                      first_value(volume_segment) OVER
                        (PARTITION BY l_returnflag ORDER BY wmape DESC, volume_segment ASC) AS worst_segment,
                      (round((max(wmape) OVER pa - min(wmape) OVER pa)*1e4)/1e4 + 0.0e0) AS wmape_range,
                      max(CASE WHEN volume_segment = 'Small' THEN wmape END) OVER pa AS sw,
                      max(CASE WHEN volume_segment = 'Large' THEN wmape END) OVER pa AS lw
                    FROM sc
                    WINDOW pa AS (PARTITION BY l_returnflag))
         SELECT l_returnflag, volume_segment, CAST(n AS BIGINT) AS n_rows,
                volume_min, volume_max, volume_mean, wmape, mae, mape, bias,
                std_error, overestimate_pct, underestimate_pct, large_errors_pct,
                best_segment, worst_segment, wmape_range,
                (CASE WHEN wmape_range > 5 THEN 1 ELSE 0 END) AS sig_volume_diff,
                (CASE WHEN coalesce(sw > lw*1.2e0, FALSE) THEN 1 ELSE 0 END) AS small_struggles,
                (CASE WHEN coalesce(lw > sw*1.2e0, FALSE) THEN 1 ELSE 0 END) AS large_struggles
         FROM fin""",
    // q275: the health composite replayed — q260's uncertainty frame,
    // q269's KS device feeding the REAL drift scores, micro-int error
    // sums, every component rounded before the weighted combination
    "q275_health_report" ->
      """WITH gg AS (SELECT l_returnflag, l_quantity,
                      CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END AS cur,
                      (round((avg(l_quantity) OVER pw)*1e4)/1e4 + 0.0e0) AS pred,
                      CAST(count(*) OVER pw AS DOUBLE) AS pn,
                      sum(l_quantity) OVER pw AS psq,
                      sum(l_quantity*l_quantity) OVER pw AS psqq
                    FROM lineitem
                    WINDOW pw AS (PARTITION BY l_partkey, l_suppkey)),
              u AS (SELECT l_returnflag, cur,
                      (round(l_quantity*1e4)/1e4 + 0.0e0) AS a, pred AS p,
                      (round((CASE WHEN pn > 1
                        THEN sqrt((pn*psqq - psq*psq)/(pn*(pn - 1))) END)*1e4)/1e4 + 0.0e0) AS uu
                    FROM gg),
              f AS (SELECT * FROM u WHERE uu IS NOT NULL),
              g AS (SELECT l_returnflag,
                      CAST(sum(cur) AS BIGINT) AS n_cur,
                      CAST(sum(1 - cur) AS BIGINT) AS n_ref,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(abs(a-p)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS sad,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(abs(a)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS saa,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(a*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS sa,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(a*a*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS saa2,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round((a-p)*(a-p)*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS sse,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(p*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS sp,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(p*p*1e8) AS HUGEINT) END) AS DOUBLE)/1e8 AS spp,
                      CAST(sum(CASE WHEN cur = 1 THEN CAST(round(abs(p)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS sap,
                      sum(CASE WHEN cur = 1 AND a >= p - 1.96e0*uu AND a <= p + 1.96e0*uu
                        THEN 1 ELSE 0 END) AS cov,
                      CAST(sum(CASE WHEN cur = 0 THEN CAST(round(abs(a-p)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS rsad,
                      CAST(sum(CASE WHEN cur = 0 THEN CAST(round(abs(a)*1e4) AS HUGEINT) END) AS DOUBLE)/1e4 AS rsaa
                    FROM f GROUP BY 1),
              m AS (SELECT l_returnflag, cur, 'target' AS channel, a AS value FROM f
                    UNION ALL
                    SELECT l_returnflag, cur, 'residual',
                      (round((a - p)*1e4)/1e4 + 0.0e0) FROM f),
              s AS (SELECT l_returnflag, channel, value, sum(cur) np, sum(1 - cur) nn
                    FROM m GROUP BY 1,2,3),
              d AS (SELECT *, sum(np) OVER c AS cp, sum(nn) OVER c AS cn,
                      sum(np) OVER a2 AS tp, sum(nn) OVER a2 AS tn
                    FROM s
                    WINDOW c AS (PARTITION BY l_returnflag, channel ORDER BY value
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                           a2 AS (PARTITION BY l_returnflag, channel
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
              ksx AS (SELECT l_returnflag, channel,
                      (round(max(abs(cp/tp - cn/tn))*1e4)/1e4 + 0.0e0) AS ks
                    FROM d GROUP BY 1,2),
              dsc AS (SELECT l_returnflag, channel,
                      (round((CASE WHEN ks > 0.1e0 THEN ks ELSE 0.0e0 END)*1e4)/1e4 + 0.0e0) AS dscore
                    FROM ksx),
              dr AS (SELECT l_returnflag,
                      max(CASE WHEN channel = 'residual' THEN dscore END) AS concept_drift_score,
                      max(CASE WHEN channel = 'target' THEN dscore END) AS data_drift_score
                    FROM dsc GROUP BY 1),
              j0 AS (SELECT g.*, dr.concept_drift_score, dr.data_drift_score,
                      CAST(n_cur AS DOUBLE) AS n
                    FROM g JOIN dr USING (l_returnflag)),
              j1 AS (SELECT *,
                      (round((sad/(saa + 1e-8)*100)*1e4)/1e4 + 0.0e0) AS wmape,
                      saa2 - n*(sa/n)*(sa/n) AS sst,
                      sqrt(greatest(spp/n - pow(sp/n, 2), 0.0e0))/(sap/n + 1e-8) AS cvp
                    FROM j0),
              j2 AS (SELECT *,
                      (round((CASE WHEN n_cur < 2 THEN 1.0e0
                        ELSE greatest(0.0e0, 1.0e0 - cvp) END)*1e4)/1e4 + 0.0e0) AS prediction_stability,
                      (round((cov/n)*1e4)/1e4 + 0.0e0) AS coverage,
                      (round(greatest(0.0e0, 100 - wmape)*1e4)/1e4 + 0.0e0) AS business_impact_score,
                      (CASE WHEN n_ref > 0 THEN
                        round((rsad/(rsaa + 1e-8)*100)*1e4)/1e4 + 0.0e0 END) AS reference_wmape
                    FROM j1),
              j3 AS (SELECT *,
                      (round((greatest(0.0e0,
                        100 - (round(abs(coverage - 0.95e0)*1e4)/1e4 + 0.0e0)*200)/100.0e0)*1e4)/1e4
                        + 0.0e0) AS calibration_score,
                      (CASE WHEN reference_wmape > 0 THEN
                        round(((wmape - reference_wmape)/reference_wmape)*1e4)/1e4 + 0.0e0 END) AS degradation
                    FROM j2),
              j4 AS (SELECT *,
                      (round((business_impact_score*0.4e0
                        + (prediction_stability + 1.0e0)*50.0e0*0.2e0
                        + calibration_score*100.0e0*0.15e0
                        + business_impact_score*0.25e0
                        - (concept_drift_score + data_drift_score)*50.0e0*0.1e0)*1e4)/1e4
                        + 0.0e0) AS raw
                    FROM j3),
              j5 AS (SELECT *,
                      (round(greatest(0.0e0, least(100.0e0,
                        CASE WHEN degradation IS NOT NULL AND degradation > 0.2e0
                          THEN raw*0.8e0 ELSE raw END))*1e4)/1e4 + 0.0e0) AS health_score
                    FROM j4),
              j6 AS (SELECT *,
                      (CASE WHEN degradation IS NOT NULL AND degradation > 0.2e0 THEN 1 ELSE 0 END) AS alert_degradation,
                      (CASE WHEN concept_drift_score > 0.05e0 THEN 1 ELSE 0 END) AS alert_drift,
                      (CASE WHEN health_score < 70 THEN 1 ELSE 0 END) AS alert_low_health,
                      (CASE WHEN wmape > 30 THEN 1 ELSE 0 END) AS alert_high_error,
                      (CASE WHEN prediction_stability < 0.7e0 THEN 1 ELSE 0 END) AS warn_low_stability,
                      (CASE WHEN wmape > 20 AND wmape <= 30 THEN 1 ELSE 0 END) AS warn_elevated_error
                    FROM j5)
         SELECT l_returnflag, n_cur, n_ref, wmape,
                (round((sad/n)*1e4)/1e4 + 0.0e0) AS mae,
                (round(sqrt(sse/n)*1e4)/1e4 + 0.0e0) AS rmse,
                (CASE WHEN sst > 0 THEN round((1 - sse/sst)*1e4)/1e4 + 0.0e0 END) AS r2,
                prediction_stability,
                1.0e0 AS feature_importance_stability,
                calibration_score, concept_drift_score, data_drift_score,
                business_impact_score, reference_wmape, degradation, health_score,
                alert_degradation, alert_drift, alert_low_health, alert_high_error,
                warn_low_stability, warn_elevated_error,
                (alert_degradation + alert_drift + alert_low_health + alert_high_error) AS n_alerts,
                (warn_low_stability + warn_elevated_error) AS n_warnings
         FROM j6"""
  )

  /** q68 oracle (also the exact-truth CTE of q277). */
  private lazy val annBruteSql: String =
    """WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] qv FROM embeddings
                    WHERE vec_id < 5),
              c AS (SELECT vec_id, embedding::DOUBLE[] cv FROM embeddings),
              s AS (SELECT query_id, vec_id neighbor_id,
                      (round(list_dot_product(cv, qv)
                        /(sqrt(list_dot_product(cv, cv))*sqrt(list_dot_product(qv, qv)))
                        *1e4)/1e4 + 0.0e0) cos_sim
                    FROM c, q WHERE vec_id <> query_id),
              rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) rank FROM s)
         SELECT query_id, neighbor_id, cos_sim, rank FROM rk WHERE rank <= 10"""

  /** q69 oracle (also the approximate CTE of q277). LSH ANN: the
    * hyperplanes are deterministic driver-side literals
    * (Similarity.hyperplane), so the oracle embeds the IDENTICAL plane
    * constants and reproduces signatures, bands, candidates, and the
    * final top-k exactly. Sign bits compare the ROUNDED dot on both
    * sides, so summation-order ulps cannot flip a bit. */
  private lazy val annLshSql: String = {
    val sigTerms = (0 until 16).map { p =>
      val lits = graft.sim.Similarity.hyperplane(p, 64, 42L).mkString(", ")
      s"(CASE WHEN (round(list_dot_product(v, [$lits]::DOUBLE[])*1e4)/1e4 + 0.0e0) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n                + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT vec_id, $b AS band, (sig // ${1 << (b * 4)}) % 16 AS bucket FROM sg")
      .mkString("\n                UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
           sg AS (SELECT vec_id, $sigTerms AS sig FROM e),
           bd AS ($bandSelects),
           cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                    FROM bd q JOIN bd c USING (band, bucket)
                    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
           s AS (SELECT cand.query_id, cand.neighbor_id,
                   (round(list_dot_product(ec.v, eq.v)
                     /(sqrt(list_dot_product(ec.v, ec.v))*sqrt(list_dot_product(eq.v, eq.v)))
                     *1e4)/1e4 + 0.0e0) AS cos_sim
                 FROM cand JOIN e ec ON cand.neighbor_id = ec.vec_id
                           JOIN e eq ON cand.query_id = eq.vec_id),
           rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM s)
         SELECT query_id, neighbor_id, cos_sim, rank FROM rk WHERE rank <= 10"""
  }

  /** Shared q273/q274 board CTE: per-supplier naive-forecast WMAPE
    * score + week count, mirroring [[supplierBoard]] term for term. */
  private lazy val supplierBoardSql: String =
    """WITH w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_suppkey,
                      sum(l_quantity) q
                    FROM lineitem GROUP BY 1,2),
              b0 AS (SELECT l_suppkey, (round(q*1e4)/1e4 + 0.0e0) AS a,
                      (round((lag(q,1) OVER (PARTITION BY l_suppkey ORDER BY ws))*1e4)/1e4
                        + 0.0e0) AS pred
                    FROM w),
              brd AS (SELECT l_suppkey, count(*) AS n_weeks,
                      (round(((CAST(sum(CAST(round(abs(a - pred)*1e4) AS HUGEINT)) AS DOUBLE)/1e4)
                        /((CAST(sum(CAST(round(abs(a)*1e4) AS HUGEINT)) AS DOUBLE)/1e4) + 1e-8))*1e4)/1e4
                        + 0.0e0) AS score
                    FROM b0 WHERE pred IS NOT NULL GROUP BY 1)"""

  /** Shared Holt-Winters recursion (q191/q266): the withHoltWinters
    * fold unrolled as a recursive CTE carrying the full 4-slot season
    * ring per row, weekly (part, supplier) grain, α=0.3 β=0.1 γ=0.2. */
  private lazy val hwRecursionSql: String = {
    val sPrev = "(CASE (t.rn-1)%4 WHEN 0 THEN e.s0 WHEN 1 THEN e.s1 WHEN 2 THEN e.s2 ELSE e.s3 END)"
    val lv = s"(0.3e0*(t.q - $sPrev) + (1e0-0.3e0)*(e.lvl + e.tr))"
    val tr = s"(0.1e0*($lv - e.lvl) + (1e0-0.1e0)*e.tr)"
    val sn = s"(0.2e0*(t.q - $lv) + (1e0-0.2e0)*$sPrev)"
    s"""WITH RECURSIVE
           w AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) ws, l_partkey,
                   l_suppkey, sum(l_quantity) q
                 FROM lineitem GROUP BY 1,2,3),
           t AS (SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                   ORDER BY ws) rn FROM w),
           e AS (
             SELECT l_partkey, l_suppkey, ws, rn,
               q AS lvl, 0.0e0 AS tr, 0.0e0 AS sea,
               0.0e0 AS s0, 0.0e0 AS s1, 0.0e0 AS s2, 0.0e0 AS s3
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.l_partkey, t.l_suppkey, t.ws, t.rn,
               $lv, $tr, $sn,
               CASE WHEN (t.rn-1)%4 = 0 THEN $sn ELSE e.s0 END,
               CASE WHEN (t.rn-1)%4 = 1 THEN $sn ELSE e.s1 END,
               CASE WHEN (t.rn-1)%4 = 2 THEN $sn ELSE e.s2 END,
               CASE WHEN (t.rn-1)%4 = 3 THEN $sn ELSE e.s3 END
             FROM t JOIN e ON t.l_partkey = e.l_partkey
               AND t.l_suppkey = e.l_suppkey AND t.rn = e.rn + 1)"""
  }

  /** q266 oracle: last ring + rounded state, then f_s = l + s*b +
    * round(slot (rn-1+s) mod 4) — pure literal arithmetic, mirroring
    * holtWintersForecast's rounded extraction. */
  private lazy val hwForecastSql: String =
    s"""$hwRecursionSql,
           last AS (SELECT l_partkey, l_suppkey, rn, lvl, tr, s0, s1, s2, s3,
                      row_number() OVER (PARTITION BY l_partkey, l_suppkey
                        ORDER BY rn DESC) rd
                    FROM e),
           l1 AS (SELECT l_partkey, l_suppkey, rn,
                    (round(lvl*1e4)/1e4 + 0.0e0) AS l,
                    (round(tr*1e4)/1e4 + 0.0e0) AS b,
                    s0, s1, s2, s3 FROM last WHERE rd = 1),
           f AS (SELECT l_partkey, l_suppkey, CAST(st.step AS BIGINT) AS step,
                   (round((l + st.step*b + (round((CASE CAST((rn - 1 + st.step)%4 AS INTEGER)
                      WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END)*1e4)/1e4))*1e4)/1e4
                    + 0.0e0) AS hw_forecast
                 FROM l1, unnest(range(1, 4)) st(step))
         SELECT l_partkey, l_suppkey, step, hw_forecast FROM f"""

  /** Shared PQ oracle pyramid (q263/q264): per-subspace portable Lloyd
    * exactly as Pq.trainCodebooks runs it — m=4 subspaces of 16 dims,
    * ksub=4 lowest-id seeds, 2 rounded rounds; pa3 is the encode
    * assignment carrying the rounded expanded distance (quant_err).
    * Same expanded-distance/rounding rationale as the q204 oracle. */
  private def pqDistCte(n: Int, prev: String): String =
    s"""
       pd$n AS (SELECT s.vec_id, s.sub, c.cell,
                 (round((list_dot_product(s.sv, s.sv)
                    - 2.0*list_dot_product(s.sv, c.cv)
                    + list_dot_product(c.cv, c.cv))*1e4)/1e4 + 0.0e0) AS dist
               FROM s JOIN (SELECT sub, cell, list(cv ORDER BY j) AS cv
                            FROM $prev GROUP BY 1,2) c ON s.sub = c.sub),
       pa$n AS (SELECT vec_id, sub, cell, dist FROM (SELECT vec_id, sub, cell, dist,
                 row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cell ASC) rn
                 FROM pd$n) WHERE rn = 1)"""

  private def pqCentCte(n: Int): String =
    s""",
       pcc$n AS (SELECT a.sub, a.cell, x.j, (round(avg(x.xj)*1e4)/1e4 + 0.0e0) AS cv
                FROM pa$n a JOIN x ON a.vec_id = x.vec_id AND a.sub = x.sub
                GROUP BY 1,2,3)"""

  private lazy val pqPyramidSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       s AS (SELECT vec_id, t.sub, list_slice(v, t.sub*16 + 1, t.sub*16 + 16) AS sv
             FROM e, unnest(range(0, 4)) t(sub)),
       x AS (SELECT vec_id, sub, j, sv[j + 1] AS xj
             FROM s, unnest(range(0, len(sv))) t(j)),
       seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
                FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
       pcc0 AS (SELECT seed.cell, x.sub, x.j, (round(x.xj*1e4)/1e4 + 0.0e0) AS cv
               FROM seed JOIN x ON seed.vec_id = x.vec_id),${pqDistCte(1, "pcc0")}${pqCentCte(1)},${pqDistCte(2, "pcc1")}${pqCentCte(2)},${pqDistCte(3, "pcc2")}"""

  private lazy val pqCodesSql: String =
    s"""$pqPyramidSql
       SELECT vec_id, sub, cell AS code, dist AS quant_err FROM pa3"""

  private lazy val pqAdcSql: String =
    s"""$pqPyramidSql,
       qs AS (SELECT vec_id AS query_id, sub, sv FROM s WHERE vec_id < 5),
       lut AS (SELECT q.query_id, q.sub, c.cell AS code,
                 (round(list_dot_product(q.sv, c.cv)*1e4)/1e4 + 0.0e0) AS sim
               FROM qs q JOIN (SELECT sub, cell, list(cv ORDER BY j) AS cv
                               FROM pcc2 GROUP BY 1,2) c ON q.sub = c.sub),
       sc AS (SELECT l.query_id, a.vec_id AS neighbor_id,
                (round(sum(l.sim)*1e4)/1e4 + 0.0e0) AS adc_score
              FROM pa3 a JOIN lut l ON a.sub = l.sub AND a.cell = l.code
                AND a.vec_id <> l.query_id
              GROUP BY 1,2),
       rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adc_score DESC, neighbor_id ASC) AS rank FROM sc)
       SELECT query_id, neighbor_id, adc_score, rank FROM rk WHERE rank <= 10"""

  /** q164 oracle: 5 unrolled min-label-propagation rounds over the
    * symmetrized part<->supplier bipartite graph — pure BIGINT min/join
    * arithmetic, bit-identical to graph/LabelProp.ccFixed by
    * construction. */
  private lazy val labelPropSql: String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM lineitem),
           e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           nodes AS (SELECT DISTINCT src AS node FROM e),
           l0 AS (SELECT node, node AS lbl FROM nodes)"""
    val iters = (1 to 5).map { i =>
      s""",
           c$i AS (SELECT e.dst AS node, min(l.lbl) AS m
                   FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1),
           l$i AS (SELECT l.node, least(l.lbl, coalesce(c.m, l.lbl)) AS lbl
                   FROM l${i - 1} l LEFT JOIN c$i c ON l.node = c.node)"""
    }.mkString
    s"$head$iters\n         SELECT node, lbl AS label FROM l5"
  }
}
