package graft

import org.apache.spark.sql.functions._
import graft.operators.SketchRollup

class CmSketchSpec extends SparkSpec {
  import spark.implicits._

  private val Depth = 3
  private val Width = 4096

  /** 2 keys × 4 periods; item frequencies follow a known ramp (item i
    * occurs i+1 times per (key, period)) so exact counts are analytic. */
  private def ledger = (0 until 2).flatMap { g =>
    (0 until 4).flatMap { p =>
      (0 until 50).flatMap { item =>
        (0 to item).map(_ => (g.toLong, p.toLong, item.toLong))
      }
    }
  }.toDF("g", "period", "item")

  private def candidates = (0 until 2).flatMap { g =>
    (0 until 50).map(i => (g.toLong, i.toLong))
  }.toDF("g", "item")

  test("estimates never undercount, and are exact when width >> items") {
    val sk = SketchRollup.cmSketchTable(ledger, Seq("g"), col("period"),
      col("item"), Depth, Width)
    val est = SketchRollup.cmEstimate(sk, Seq("g"), candidates, "item",
      Depth, Width)
      .as[(Long, Long, Long)].collect()
    assert(est.length == 100)
    est.foreach { case (_, item, e) =>
      val exact = 4L * (item + 1) // 4 periods × (item+1) occurrences
      assert(e >= exact, s"CM undercounted item $item: $e < $exact")
      // deterministic hash constants, 50 items in 3×4096 slots: no
      // full-row collision set exists for this fixture, so exact
      assert(e == exact, s"item $item est $e != exact $exact")
    }
  }

  test("period merge is equivalent to a direct whole-range sketch") {
    val whole = SketchRollup.cmSketchTable(ledger, Seq("g"), lit("all"),
      col("item"), Depth, Width)
      .groupBy("g", "row", "slot").agg(sum("cnt").as("cnt"))
      .as[(Long, Int, Long, Long)].collect().toSet
    val merged = SketchRollup.cmSketchTable(ledger, Seq("g"), col("period"),
      col("item"), Depth, Width)
      .groupBy("g", "row", "slot").agg(sum("cnt").as("cnt"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(merged == whole)
  }

  test("array build ≡ explode build, rows schema and values (r18 kernel swap)") {
    val arr = SketchRollup.cmSketchTable(ledger, Seq("g"), col("period"),
      col("item"), Depth, Width)
    val exp = SketchRollupReference.cmSketchTableExplode(ledger, Seq("g"), col("period"),
      col("item"), Depth, Width)
    assert(arr.schema == exp.schema,
      s"schemas differ:\n${arr.schema}\n${exp.schema}")
    val a = arr.as[(Long, Long, Int, Long, Long)].collect().sorted.toSeq
    val e = exp.as[(Long, Long, Int, Long, Long)].collect().sorted.toSeq
    assert(a == e)
    // negative items now fail loudly instead of hashing to a negative slot
    val neg = Seq((1L, -5L)).toDF("g", "item")
    val ex = intercept[Exception](SketchRollup.cmSketchTable(neg, Seq("g"),
      lit("all"), col("item"), Depth, Width).collect())
    assert(ex.getMessage != null || ex.getCause != null)
  }

  test("NULL items are not counted") {
    val df = Seq[(Long, java.lang.Long)]((1L, 7L), (1L, 7L), (1L, null))
      .toDF("g", "item")
    val sk = SketchRollup.cmSketchTable(df, Seq("g"), lit("all"),
      col("item"), Depth, Width)
    assert(sk.agg(sum("cnt")).as[Long].head == 2L * Depth)
    val est = SketchRollup.cmEstimate(sk, Seq("g"),
      Seq((1L, 7L)).toDF("g", "item"), "item", Depth, Width)
      .as[(Long, Long, Long)].head
    assert(est._3 == 2L)
  }
}
