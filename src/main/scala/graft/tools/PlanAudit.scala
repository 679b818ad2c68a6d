package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-shape audit CLI — the quick feedback loop behind the PlanSpec
  * pins, in two modes:
  *
  *  - default: prints the FORMATTED physical plan for each named query
  *    so shuffle/broadcast/pushdown shape can be audited by eye.
  *  - `--counts`: prints one summary line per query with
  *    exchange/broadcast/scan/sort/single-partition counts of the
  *    executed plan (all queries when none are named).
  *
  * `--conf=key=value` sets a session conf before the plans are built.
  *
  * Usage: `runMain graft.tools.PlanAudit [--counts] [--conf=key=value ...] [sfDir] [query...]`
  */
object PlanAudit {
  val Usage = "PlanAudit [--counts] [--conf=key=value ...] [sfDir] [query...]"

  def main(args: Array[String]): Unit = {
    val counts = args.contains("--counts")
    val (confs, rest) = QTime.splitConfs(args.filterNot(_ == "--counts").toSeq, Usage)
    // a leading registered-query name means the sfDir was omitted — use
    // the default dir instead of treating the query name as a path
    val (dirArg, nameArgs) = rest match {
      case head +: _ if graft.SparkEntry.queries.contains(head) => (None, rest)
      case head +: tail => (Some(head), tail)
      case _ => (None, Seq.empty)
    }
    val dir = dirArg.getOrElse(
      if (counts) "/root/testdata/sf0.001" else "/root/testdata/sf0.01")
    // a typo'd query name would otherwise be inferred as the sfDir and
    // surface later as a confusing scan error — name the bad token now
    dirArg.foreach { d =>
      if (!new java.io.File(d).isDirectory) {
        System.err.println(s"PlanAudit: '$d' is neither a registered query " +
          s"name nor an existing sfDir. Usage: $Usage")
        sys.exit(2)
      }
    }
    val unknown = nameArgs.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"PlanAudit: unknown quer${if (unknown.size == 1) "y" else "ies"} " +
        unknown.mkString(", "))
      sys.exit(2)
    }
    val names = if (nameArgs.nonEmpty) nameArgs
      else if (counts) graft.SparkEntry.queries.keys.toSeq.sorted
      else Seq("q22_weekly_aggregate", "q23_enrich_join", "q40_rolling_stats",
        "q41_rolling_slope", "q21_cooccurrence", "q68_ann_brute", "q69_ann_lsh")
    val builder = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      if (counts) {
        val plan = df.queryExecution.executedPlan.toString
        val nBc = "BroadcastExchange".r.findAllIn(plan).length
        val nEx = "Exchange".r.findAllIn(plan).length - nBc
        val nScan = "Scan parquet".r.findAllIn(plan).length
        val nSort = "Sort \\[".r.findAllIn(plan).length
        val n1p = "Exchange SinglePartition".r.findAllIn(plan).length
        println(s"AUDIT $n exchanges=$nEx broadcast=$nBc scans=$nScan " +
          s"sorts=$nSort single_partition=$n1p")
      } else {
        println(s"\n===== $n =====")
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
