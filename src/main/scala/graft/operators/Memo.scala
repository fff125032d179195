package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

import graft.operators.Pin._

/** The one driver-side memo: every result graft derives once and
  * reuses across queries lives here, under one entry cap, one
  * lifecycle and one set of counters. Two kinds of entry share one
  * least-recently-used order:
  *
  *  - [[frame]]: a session-scoped DataFrame — a derivation several
  *    queries share (graph edge tables, near-dup pair plans, CC label
  *    tables). It is pinned lazily, so the first action materializes
  *    it and an entry nothing executes costs nothing. Frames die with
  *    their session: a stopping SparkContext purges its sessions'
  *    frames (a listener registered on first use), and a host retiring
  *    a child session calls [[onSessionEnd]] (Spark emits no
  *    per-child-session stop event).
  *  - [[value]]: a JVM-wide plain value — trainer output (k-means
  *    centroids, PQ codebooks, PCA models, BPE merges) or a corpus
  *    statistic — keyed on the analyzed plan plus an input fingerprint,
  *    so the same corpus reuses it across sessions while a rewrite at
  *    the same path recomputes. Values reference no session and
  *    [[onSessionEnd]] leaves them alone.
  *
  * Entries are built OUTSIDE the lock, then put if absent: a build may
  * itself call the memo (k-means training sizes its sample from
  * [[count]]) and no lock is held across a Spark job. A racing
  * duplicate build is deterministic; the loser is dropped.
  *
  * Frames pinned by the default `localCheckpoint` path are not
  * recoverable: after an executor loss call [[clear]].
  */
object Memo {
  /** Entry cap. A one-JVM drive of every declared query on one
    * directory holds 31 entries (14 frame sites, the CC label tables of
    * its pair plans, the trainer and statistic keys); at the cap, one
    * more key would evict-thrash every query. */
  private[graft] val Max = 48

  /** `None` owner: a JVM-wide value entry. */
  private type Key = (Option[SparkSession], String)
  private final class Entry(val value: Any, var used: Long)

  private val entries = mutable.HashMap.empty[Key, Entry]
  private var clock = 0L
  private val contexts = mutable.Set.empty[SparkContext]
  private val hitCount, missCount, evictionCount = new AtomicLong

  final case class Stats(entries: Int, hits: Long, misses: Long, evictions: Long)

  def stats: Stats = entries.synchronized(
    Stats(entries.size, hitCount.get, missCount.get, evictionCount.get))

  private[graft] def size: Int = entries.synchronized(entries.size)

  /** Memoized session-scoped derivation `key`. Pinned per the
    * deployment conf ([[Pin]]), or with `persist(MEMORY_AND_DISK)` when
    * `persist` is set — for derivations whose OUTPUT PARTITIONING is
    * the point (iteration edge tables hash-partitioned on the join
    * key): a checkpointed LogicalRDD reports UnknownPartitioning, so
    * every consumer would re-exchange it, while a cached
    * InMemoryRelation keeps the partitioning. */
  def frame(spark: SparkSession, key: String, persist: Boolean = false)(
      build: => DataFrame): DataFrame = {
    ensureListener(spark.sparkContext)
    getOrBuild((Some(spark), key)) {
      if (persist) build.persist(StorageLevel.MEMORY_AND_DISK) else build.pin(false)
    }
  }

  /** Memoized JVM-wide value of `df` under `tag` (which must carry
    * every parameter the value depends on besides the corpus). */
  def value[T](df: DataFrame, tag: String)(compute: => T): T =
    getOrBuild((None, s"$tag@${planKey(df)}"))(compute)

  /** Memoized `df.count()` — the one corpus statistic every adaptive
    * grid needs. EAGER on first touch (an action inside what is
    * otherwise lazy plan construction), so callers must not pass a
    * streaming DataFrame. */
  def count(df: DataFrame): Long = {
    require(!df.isStreaming,
      "adaptive operating points need a batch corpus: deriving the grid " +
        "runs an eager count(), which a streaming DataFrame cannot serve — " +
        "pass an explicit grid parameter instead")
    value(df, "count")(df.count())
  }

  /** The identity of `df`'s data: the analyzed plan's semantic hash,
    * which cannot see a file rewritten at the same path, plus each
    * input file's path, size and mtime as the scan's file index listed
    * them, which can. */
  private[operators] def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val files = plan.collectWithSubqueries { case r: LogicalRelation => r.relation }
      .collect { case fs: HadoopFsRelation => fs.location.listFiles(Nil, Nil).flatMap(_.files) }
      .flatten
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
    s"${plan.semanticHash()}:${MurmurHash3.seqHash(files)}"
  }

  private def getOrBuild[T](k: Key)(build: => T): T = {
    val cached = entries.synchronized(entries.get(k).map(touch))
    cached match {
      case Some(v) => hitCount.incrementAndGet(); v.asInstanceOf[T]
      case None =>
        missCount.incrementAndGet()
        val built = build
        entries.synchronized {
          entries.get(k).map(touch).getOrElse {
            entries(k) = new Entry(built, tick())
            if (entries.size > Max) {
              val (lru, e) = entries.minBy(_._2.used)
              entries -= lru
              evictionCount.incrementAndGet()
              release(e.value)
            }
            built
          }
        }.asInstanceOf[T]
    }
  }

  private def tick(): Long = { clock += 1; clock }
  private def touch(e: Entry): Any = { e.used = tick(); e.value }

  /** A persisted frame's blocks are keyed by PLAN in the session's
    * CacheManager, so dropping the entry alone would leak them; a
    * checkpointed frame's blocks are released by the ContextCleaner
    * once nothing references it. */
  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => try { ds.unpersist(false); () } catch { case _: Throwable => () }
    case _ => ()
  }

  private def removeWhere(p: Key => Boolean, unpersist: Boolean): Unit =
    entries.synchronized {
      val gone = entries.keys.filter(p).toList
      gone.foreach(k => entries.remove(k).foreach(e => if (unpersist) release(e.value)))
    }

  private def ensureListener(sc: SparkContext): Unit =
    if (entries.synchronized(contexts.add(sc)))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          purgeContext(sc)
          entries.synchronized(contexts.remove(sc))
        }
      })

  /** Drop the frames of every session of a stopping context (its blocks
    * die with it). Driven by the listener; callable directly too. */
  private[graft] def purgeContext(sc: SparkContext): Unit =
    removeWhere(_._1.exists(_.sparkContext eq sc), unpersist = false)

  /** Drop the frames of ONE retiring session, for a long-lived context
    * that retires short-lived child sessions (`spark.newSession()`). */
  def onSessionEnd(spark: SparkSession): Unit =
    removeWhere(_._1.contains(spark), unpersist = true)

  /** Drop every entry, e.g. after an executor loss invalidated the
    * non-recoverable checkpoint blocks, or for a cold measurement. */
  def clear(): Unit = removeWhere(_ => true, unpersist = true)
}
