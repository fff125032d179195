package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Memo}

/** Pins the session lifecycle of the memo's DataFrame entries: a
  * retired child session's entries are purged (explicitly via
  * onSessionEnd — Spark has no per-child-session stop event) while a
  * live session's entries survive, and the context-stop listener path
  * empties everything for a stopping SparkContext.
  */
class SessionCacheLifecycleSpec extends SparkSpec {

  test("onSessionEnd purges the retired session's entries; live sessions survive") {
    Memo.clear()
    val s2 = spark.newSession()
    val live = Memo.frame(spark, "lifecycle:live") {
      spark.range(3).toDF("id")
    }
    Memo.frame(s2, "lifecycle:dead")(s2.range(5).toDF("id"))
    assert(Memo.size === 2)

    GraftSession.onSessionEnd(s2)
    assert(Memo.size === 1)
    // The live session still HITS (same memoized frame back)...
    val hit = Memo.frame(spark, "lifecycle:live") {
      fail("live session's entry must not have been purged")
    }
    assert(hit eq live)
    // ...and the dead session's key is gone: a re-memo rebuilds.
    var rebuilt = false
    Memo.frame(s2, "lifecycle:dead") {
      rebuilt = true; s2.range(5).toDF("id")
    }
    assert(rebuilt)
    GraftSession.onSessionEnd(s2)
    Memo.clear()
  }

  test("onSessionEnd purges the retired session's CC label tables; live survive") {
    Memo.clear()
    val s2 = spark.newSession()
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val pairs2 = {
      import s2.implicits._
      Seq((1L, 2L), (5L, 6L)).toDF("id1", "id2")
    }
    Dedup.connectedComponents(pairs).count()
    Dedup.connectedComponents(pairs2).count()
    assert(Memo.size === 2)
    GraftSession.onSessionEnd(s2)
    assert(Memo.size === 1)
    // live session's entry still present (memo hit leaves size at 1)
    Dedup.connectedComponents(pairs).count()
    assert(Memo.size === 1)
    Memo.clear()
  }

  test("a stopping SparkContext purges every entry of its sessions (listener path)") {
    Memo.clear()
    Memo.frame(spark, "lifecycle:ctx")(spark.range(2).toDF("id"))
    assert(Memo.size === 1)
    // The listener is registered on the shared test context; drive its
    // purge action directly (actually stopping the context would kill
    // every other suite sharing it).
    Memo.purgeContext(spark.sparkContext)
    assert(Memo.size === 0)
  }
}
