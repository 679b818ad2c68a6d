package graft.model

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** Collaborative-filtering recommendation over implicit co-purchase
  * counts (customer × part), and sequential-pattern mining over event
  * streams — the recommendation/mining face of the basket-analysis
  * family (A28/A29 co-occurrence gives item↔item lift; ALS gives
  * personalized user→item scores; PrefixSpan gives ordered patterns).
  *
  * Scale shape: ALS is MLlib's blocked alternating least squares —
  * factor matrices are block-partitioned, never driver-resident;
  * recommendForAllUsers is a blocked cross-product with per-block
  * top-k. PrefixSpan is the distributed projected-database algorithm.
  * Both are seeded for reproducibility; like the GBT/KMeans paths,
  * their outputs are model artifacts (spec-tested, not oracle-hashed).
  */
object Recommend {

  /** Implicit-feedback ALS on (user, item, strength) triples. */
  def fitAls(ratings: DataFrame, userCol: String, itemCol: String,
             ratingCol: String, rank: Int = 8, regParam: Double = 0.1,
             maxIter: Int = 10, seed: Long = 42L): ALSModel =
    new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setImplicitPrefs(true).setRank(rank).setRegParam(regParam)
      .setMaxIter(maxIter).setSeed(seed)
      .setColdStartStrategy("drop")
      .fit(ratings)

  /** Top-k item recommendations per user as flat rows
    * (user, item, score, rank). */
  def recommendTopK(model: ALSModel, k: Int, userCol: String,
                    itemCol: String): DataFrame =
    model.recommendForAllUsers(k)
      .select(col(userCol), posexplode(col("recommendations")))
      .select(col(userCol), col("col")(itemCol).as(itemCol),
        col("col")("rating").cast("double").as("score"),
        (col("pos") + 1).cast("long").as("rank"))

  /** Fully-oracle-comparable ALS twin: rank-2 EXPLICIT alternating
    * least squares with fixed iterations and 4dp-rounded factor state —
    * the Lloyd recipe applied to matrix factorization. Each half-step
    * solves the 2×2 ridge normal equations in closed form (Cramer), so
    * no iterative linear solver is involved; the sufficient statistics
    * (ΣyᵀY, Σr·y) accumulate by the house exact micro-int convention,
    * making every comparison input bit-identical cross-engine. Item
    * factors initialize from fixed formulas of the item id
    * (y = [0.1 + (i mod 7)/10, 0.1 + (i mod 11)/10]) — deterministic,
    * non-degenerate, seedless.
    *
    * DECLARED DIVERGENCE from [[fitAls]]: MLlib's path is IMPLICIT ALS
    * (confidence-weighted, solves over the full user×item grid); the
    * portable twin is explicit (observed triples only), which is what
    * admits a SQL oracle. Both expose the same alternating-update
    * semantics; the MLlib path stays the engine's production route.
    *
    * Scale shape: each half-step is one equi-join ratings⋈factors plus
    * one key-grain aggregate (factor tables are entity-grain tiny);
    * state is localCheckpointed per half-step (lineage stays O(1) per
    * iteration). The final all-pairs scoring is the DEMO tail — at
    * corpus scale you'd hand the factor tables to the ANN module
    * (Similarity.ivfPortableTopK) instead of cross-scoring; here the
    * item-factor table is dimension-grain and broadcast. */
  def alsPortable(ratings: DataFrame, userCol: String, itemCol: String,
                  ratingCol: String, iters: Int = 2, lambda: Double = 0.1,
                  k: Int = 5, scoreUserMod: Option[Long] = None): DataFrame = {
    val rt = ratings.select(col(userCol).cast("long").as("u"),
      col(itemCol).cast("long").as("i"),
      col(ratingCol).cast("double").as("rv"))
      .localCheckpoint(true)
    // exact micro-int sums: f1*f2 lives on the 1e-8 grid, rv*f on 1e-4
    // (ratings are integral counts). LONG accumulators, not
    // decimal(38,0): per-key sums of |f·f|·1e8 ≤ ~5e8/row stay below
    // 2^63 to ~10^9 rows per entity (far past any user/item degree),
    // integer addition is order-exact either way, and the long path
    // halves the solve wall (AlsProfile r16: 4.2 s → 2.3 s for the four
    // half-steps, bit-identical factors via except() both directions).
    def s8(c: Column) =
      sum(graft.expr.RoundHalfUpExpr.column(c * lit(1e8)).cast("long"))
        .cast("double") / lit(1e8)
    def s4(c: Column) =
      sum(graft.expr.RoundHalfUpExpr.column(c * lit(1e4)).cast("long"))
        .cast("double") / lit(1e4)
    // closed-form 2×2 ridge solve (A + λI)x = b, factors rounded to 4dp
    def solve(joined: DataFrame, key: String): DataFrame = {
      val g = joined.groupBy(col(key))
        .agg(s8(col("f1") * col("f1")).as("a11"),
          s8(col("f1") * col("f2")).as("a12"),
          s8(col("f2") * col("f2")).as("a22"),
          s4(col("rv") * col("f1")).as("b1"),
          s4(col("rv") * col("f2")).as("b2"))
      val det = (col("a11") + lit(lambda)) * (col("a22") + lit(lambda)) -
        col("a12") * col("a12")
      // Overflow guard for the long accumulators (r16 ADVICE): clamp
      // factors to ±9 after each solve. With |f| ≤ 9 the per-row
      // |f·f|·1e8 term is ≤ 8.1e9, so a single entity needs > 1.1e9
      // ratings before a long s8 sum can reach 2^63 — far past any
      // real user/item degree, and the bound now holds REGARDLESS of
      // how degenerate the ridge solve gets (a near-zero det can no
      // longer inflate f unboundedly into the next half-step's sums).
      // The clamp is mirrored verbatim in the DuckDB oracle.
      def clamp(c: Column) = least(greatest(c, lit(-9.0)), lit(9.0))
      g.select(col(key),
        r(clamp(((col("a22") + lit(lambda)) * col("b1") - col("a12") * col("b2")) / det))
          .as("f1"),
        r(clamp(((col("a11") + lit(lambda)) * col("b2") - col("a12") * col("b1")) / det))
          .as("f2"))
    }
    var itemF = rt.select(col("i")).distinct()
      .select(col("i"),
        r(lit(0.1) + (col("i") % 7) / lit(10.0)).as("f1"),
        r(lit(0.1) + (col("i") % 11) / lit(10.0)).as("f2"))
      .localCheckpoint(true)
    var userF: DataFrame = null
    for (_ <- 1 to iters) {
      // factor tables are entity-grain (one row per user/item) — always
      // the broadcast side against the ratings fact. Eager checkpoints:
      // each half-step has TWO consumers (the next solve's broadcast and
      // the scoring tail), so materializing once is the cheaper shape
      // (lazy checkpoints measured no faster — the materialization job
      // just moves into the broadcast collect)
      userF = solve(rt.join(broadcast(itemF), "i"), "u").localCheckpoint(true)
      itemF = solve(rt.join(broadcast(userF), "u"), "i").localCheckpoint(true)
    }
    // the factorization trains on EVERY rating; the all-items scoring
    // tail is restricted to a deterministic user subset when asked
    // (scoreUserMod = Some(m) keeps users with u ≡ 0 mod m) — the ANN
    // query-set convention: full-corpus cross-scoring is quadratic and
    // at scale you'd hand the factor tables to the ANN module instead
    val scoreUsers = scoreUserMod match {
      case Some(m) => userF.filter(pmod(col("u"), lit(m)) === 0)
      case None => userF
    }
    // r17: the scoring tail is the exact MIPS kernel, not the all-pairs
    // crossJoin — the 10× scale probe measured the cross form at 12×
    // wall for 10× data (users × items both scale, pairs scale 100×),
    // while the norm-pruned scan only TOUCHES pairs whose rounded
    // upper bound |x||y| can still enter the user's top-k. Output is
    // bit-identical (same FP ops, same rounding, same tie contract) —
    // R17OpsSpec pins row-for-row equality with the cross form
    // (RecommendReference.crossScoreTopK in the test tree), and the
    // q283 oracle is unchanged.
    mipsTopK(scoreUsers.select(col("u"), col("f1"), col("f2")),
      itemF.select(col("i"), col("f1"), col("f2")), k, userCol, itemCol)
  }

  /** EXACT maximum-inner-product top-k (the LEMP/FEXIPRO norm-pruning
    * pattern): items are broadcast sorted by norm descending, and each
    * user's scan STOPS as soon as the rounded Cauchy–Schwarz bound
    * r(|x|·|y_j|) falls below its current k-th score — no remaining
    * item can beat the heap (r is monotone and score ≤ |x||y|). Same
    * score arithmetic as the cross form (x·y rounded through
    * RoundHalfUpExpr.compute at 1e4) and the same tie contract (score
    * desc, id asc via java.lang.Double.compare, NaN above finite), so
    * the result is row-for-row identical to the all-pairs form
    * (`RecommendReference.crossScoreTopK` in the test tree) — only the
    * touched-pair count changes: all n per user in the adversarial
    * equal-norm worst case, a handful on real skewed-norm factor
    * tables.
    *
    * One deliberate dimension-grain driver collect: the item factor
    * table (one row per item — the PCA/MMR precedent class; ~24 B/item,
    * so 10⁷ items ≈ 240 MB is the practical bound, far past any
    * factorization's item side; a require pins 10⁶). */
  def mipsTopK(users: DataFrame, items: DataFrame, k: Int,
               userCol: String, itemCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val itemRows = items.toDF("i", "y1", "y2")
      .select(col("i").cast("long"), col("y1").cast("double"),
        col("y2").cast("double")).collect()
    require(itemRows.length <= 1000000,
      s"mipsTopK broadcasts the item table (${itemRows.length} rows) — " +
        "past 1e6 items hand the factors to the ANN module instead")
    val sorted = itemRows
      .map(r0 => (r0.getLong(0), r0.getDouble(1), r0.getDouble(2)))
      .sortBy { case (i, y1, y2) => (-math.sqrt(y1 * y1 + y2 * y2), i) }
    val itemIds = sorted.map(_._1)
    val itemY1 = sorted.map(_._2)
    val itemY2 = sorted.map(_._3)
    val itemNorm = sorted.map(t => math.sqrt(t._2 * t._2 + t._3 * t._3))
    val spark = users.sparkSession
    val bcIds = spark.sparkContext.broadcast(itemIds)
    val bcY1 = spark.sparkContext.broadcast(itemY1)
    val bcY2 = spark.sparkContext.broadcast(itemY2)
    val bcNorm = spark.sparkContext.broadcast(itemNorm)
    val outSchema = StructType(Seq(
      StructField(userCol, LongType, nullable = false),
      StructField(itemCol, LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("rank", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    def r4(x: Double): Double =
      graft.expr.RoundHalfUpExpr.compute(x * 1e4) / 1e4 + 0.0
    // (score desc, id asc): a beats b?
    def beats(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
      val c = java.lang.Double.compare(sa, sb)
      c > 0 || (c == 0 && ia < ib)
    }
    users.toDF("u", "x1", "x2").mapPartitions { rows =>
      val ids = bcIds.value; val y1 = bcY1.value; val y2 = bcY2.value
      val nm = bcNorm.value
      val n = ids.length
      rows.flatMap { row =>
        val u = row.getLong(0)
        val x1 = row.getDouble(1); val x2 = row.getDouble(2)
        val xn = math.sqrt(x1 * x1 + x2 * x2)
        // insertion top-k (k is single digits): kept sorted best-first
        val ks = new Array[Double](k); val ki = new Array[Long](k)
        var m = 0
        var j = 0
        var done = false
        while (j < n && !done) {
          if (m == k && java.lang.Double.compare(r4(xn * nm(j)), ks(m - 1)) < 0)
            done = true // no remaining item can enter the heap
          else {
            val s = r4(x1 * y1(j) + x2 * y2(j))
            val id = ids(j)
            if (m < k || beats(s, id, ks(m - 1), ki(m - 1))) {
              var p = if (m < k) m else m - 1
              while (p > 0 && beats(s, id, ks(p - 1), ki(p - 1))) {
                ks(p) = ks(p - 1); ki(p) = ki(p - 1); p -= 1
              }
              ks(p) = s; ki(p) = id
              if (m < k) m += 1
            }
            j += 1
          }
        }
        (0 until m).map(p => Row(u, ki(p), ks(p), (p + 1).toLong))
      }
    }(enc)
  }

  /** Fully-oracle-comparable sequential-pattern twin for single-item
    * sequences up to length 3: pattern support = number of keys whose
    * ordered item sequence CONTAINS the pattern as a subsequence —
    * exactly MLlib PrefixSpan's count on single-element itemsets, but
    * computed by containment algebra instead of projected databases:
    *
    *   (a)       supported by every key where a occurs;
    *   (a,b)     supported iff min_pos(a) < max_pos(b);
    *   (a,b,c)   supported iff some b-occurrence lies strictly between
    *             min_pos(a) and max_pos(c).
    *
    * Scale shape: one window pass assigns positions, one aggregate
    * collapses events to the (key, item, min_pos, max_pos) table —
    * alphabet-bounded per key — and each pattern length is an equi-join
    * on the key against that small table (the length-3 probe joins the
    * event table once, never two self-joins of raw events). The support
    * gate is a broadcast 1-row aggregate, no driver scalar. */
  def sequentialPatternsPortable(events: DataFrame, keyCol: String,
                                 itemCol: String, ordCols: Seq[Column],
                                 minSupport: Double,
                                 maxLength: Int = 3): DataFrame = {
    require(maxLength >= 1 && maxLength <= 3, "portable twin covers lengths 1-3")
    val w = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    val e = events.select(col(keyCol).as("u"), col(itemCol).as("t"),
      row_number().over(w).as("p"))
      .localCheckpoint(true)
    val mm = e.groupBy(col("u"), col("t"))
      .agg(min("p").as("minp"), max("p").as("maxp"))
      .localCheckpoint(true)
    val l1 = mm.groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .select(col("t").as("pattern"), col("freq"))
    val l2 = mm.select(col("u"), col("t").as("ta"), col("minp"))
      .join(mm.select(col("u"), col("t").as("tb"), col("maxp")), "u")
      .filter(col("minp") < col("maxp"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(">", col("ta"), col("tb")).as("pattern"), col("freq"))
    val l3 = e
      .join(mm.select(col("u"), col("t").as("ta"), col("minp")), "u")
      .filter(col("minp") < col("p"))
      .join(mm.select(col("u"), col("t").as("tc"), col("maxp")), "u")
      .filter(col("p") < col("maxp"))
      .select(col("u"), col("ta"), col("t").as("tb"), col("tc")).distinct()
      .groupBy(col("ta"), col("tb"), col("tc")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(">", col("ta"), col("tb"), col("tc")).as("pattern"),
        col("freq"))
    val all = Seq(Some(l1), Option.when(maxLength >= 2)(l2),
      Option.when(maxLength >= 3)(l3)).flatten.reduce(_ unionByName _)
    val nseq = e.agg(countDistinct(col("u")).as("ns"))
    all.crossJoin(broadcast(nseq))
      .filter(col("freq").cast("double") >= lit(minSupport) * col("ns"))
      .select(col("pattern"), col("freq"))
  }

  /** Frequent sequential patterns (MLlib PrefixSpan) over per-key
    * ordered item sequences. Input: one row per (key, ordered seq of
    * items); each item becomes a single-element itemset. Returns
    * (pattern string joined with '>', freq). */
  def sequentialPatterns(sequences: DataFrame, seqCol: String,
                         minSupport: Double, maxLength: Int = 4): DataFrame = {
    import org.apache.spark.ml.fpm.PrefixSpan
    val wrapped = sequences
      .select(transform(col(seqCol), x => array(x)).as("sequence"))
    new PrefixSpan()
      .setMinSupport(minSupport).setMaxPatternLength(maxLength)
      .setSequenceCol("sequence")
      .findFrequentSequentialPatterns(wrapped)
      .select(array_join(flatten(col("sequence")), ">").as("pattern"),
        col("freq"))
  }
}
