package graft

/** The session-scoped memo registry behind the shared fit tables
  * (weeklyShared / championShared / extShared / extFitShared /
  * smaShared / sarmaShared): bounded, evictable, and releasing a session's entries
  * actually frees its localCheckpointed blocks — the r12 verdict's
  * multi-session-service leak fix (the previous identityHashCode-keyed
  * unbounded maps pinned checkpointed RDDs for the JVM's life). */
class MemoSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("two sessions memoize independently; releasing one drops its entry " +
    "and its checkpoint blocks, leaving the other intact") {
    val sc = spark.sparkContext
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val base = SparkEntry.memoSessionCount

    // populate both sessions' champion memos (eager localCheckpoints)
    val r1 = SparkEntry.queries("q259_champion")(s1, dir).count()
    val idsAfterS1 = sc.getPersistentRDDs.keySet
    val r2 = SparkEntry.queries("q259_champion")(s2, dir).count()
    assert(r1 == r2 && r1 > 0)
    assert(SparkEntry.memoSessionCount == base + 2)
    val s2Ids = sc.getPersistentRDDs.keySet -- idsAfterS1
    assert(s2Ids.nonEmpty, "the second session must checkpoint its own frames")

    // a second run on the same session is a pure memo hit — no new
    // session entry, no new checkpointed RDDs
    SparkEntry.queries("q259_champion")(s2, dir).count()
    assert(SparkEntry.memoSessionCount == base + 2)
    assert((sc.getPersistentRDDs.keySet -- idsAfterS1) == s2Ids)

    // release s2: its entry leaves the registry and its blocks unpersist
    SparkEntry.releaseMemos(s2)
    assert(SparkEntry.memoSessionCount == base + 1)
    // the memoized frames' own blocks unpersist eagerly; build-time
    // intermediates (e.g. the member-table source checkpoint) are
    // reclaimed by ContextCleaner once GC proves them unreachable —
    // nudge it and poll until every RDD s2 pinned is gone
    def s2Remaining = sc.getPersistentRDDs.keySet.intersect(s2Ids)
    val deadline = System.currentTimeMillis() + 30000
    while (s2Remaining.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(s2Remaining.isEmpty,
      s"releasing s2 must free every checkpoint block it pinned; " +
        s"still persisted: $s2Remaining of $s2Ids")

    // idempotent, and s1 still serves from its intact memo
    SparkEntry.releaseMemos(s2)
    assert(SparkEntry.queries("q259_champion")(s1, dir).count() == r1)
    SparkEntry.releaseMemos(s1)
    assert(SparkEntry.memoSessionCount == base)
  }

  test("the extended board fits each seasonal base once: q308 and q310 " +
    "after q299 checkpoint nothing new") {
    val sc = spark.sparkContext
    val s = spark.newSession()
    // q299 builds the fourteen-member board over the memoized sma and
    // sarma fit tables, so q308/q310 must be pure memo hits on them
    SparkEntry.queries("q299_order_search_ext")(s, dir).count()
    val before = sc.getPersistentRDDs.keySet
    SparkEntry.queries("q308_sarima011")(s, dir).count()
    SparkEntry.queries("q310_sarma11")(s, dir).count()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty && sc.getPersistentRDDs.size <= before.size,
      s"q308/q310 re-fit a seasonal base q299 already checkpointed: new $added")
    SparkEntry.releaseMemos(s)
  }

  test("q259 then q299 aggregate lineitem to the weekly grain once per session") {
    val sc = spark.sparkContext
    val s = spark.newSession()
    // stages that read a parquet file: lineitem is the only table q259
    // and q299 read, so each such stage is a pass over it
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries("q259_champion")(s, dir).count()
      org.apache.spark.sql.GraftSqlBridge.statusJobs(s) // drains the listener bus
      val q259Scans = scans.get
      SparkEntry.queries("q299_order_search_ext")(s, dir).count()
      org.apache.spark.sql.GraftSqlBridge.statusJobs(s)
      assert(q259Scans >= 1, "q259 must aggregate lineitem")
      assert(scans.get == q259Scans,
        s"q299 scanned lineitem again (${scans.get - q259Scans} stages) " +
          "instead of reading the weekly grain q259 memoized")
    } finally {
      sc.removeSparkListener(listener)
      SparkEntry.releaseMemos(s)
    }
  }

  test("the registry is bounded: LRU eviction frees the evicted session's " +
    "blocks instead of accumulating for the JVM's life") {
    val sc = spark.sparkContext
    val base = SparkEntry.memoSessionCount
    val basePersisted = sc.getPersistentRDDs.size
    // far past the cap; each session memoizes the sma fit table plus
    // the weekly frame it rides on (2 checkpointed frames per session)
    val sessions = (1 to 12).map(_ => spark.newSession())
    var perSession = 0
    sessions.zipWithIndex.foreach { case (s, i) =>
      SparkEntry.queries("q308_sarima011")(s, dir).count()
      if (i == 0) perSession = sc.getPersistentRDDs.size - basePersisted
    }
    assert(perSession > 0)
    assert(SparkEntry.memoSessionCount <= 8,
      s"registry must stay bounded, saw ${SparkEntry.memoSessionCount}")
    // SparkContext.persistentRdds pins checkpointed RDDs STRONGLY, so
    // eviction must unpersist, not merely drop references: at most the
    // cap's worth of sessions may still hold blocks
    assert(sc.getPersistentRDDs.size <= basePersisted + 8 * perSession,
      s"evicted sessions must not leak blocks: ${sc.getPersistentRDDs.size} " +
        s"persisted vs base $basePersisted + 8x$perSession cap")
    // an evicted-but-active session transparently rebuilds on its next miss
    assert(SparkEntry.queries("q308_sarima011")(sessions.head, dir).count() > 0)
    sessions.foreach(SparkEntry.releaseMemos)
    assert(SparkEntry.memoSessionCount <= base)
    assert(sc.getPersistentRDDs.size <= basePersisted,
      s"full release must return to the baseline " +
        s"(${sc.getPersistentRDDs.size} vs $basePersisted)")
  }
}
