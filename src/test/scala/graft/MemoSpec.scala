package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import graft.operators.{Bpe, Memo, Pca, Similarity}

/** Pins the memo's contracts beyond the session lifecycle
  * (SessionCacheLifecycleSpec): value keys see a rewrite at the same
  * path, a build may call the memo, the entry cap and the pinned RDDs
  * stay bounded under a stream of distinct corpora, and concurrent
  * queries racing on shared entries answer what sequential ones do.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  /** A tiny embedding + text corpus; distinct per `i`. */
  private def corpus(i: Int, n: Int = 16): DataFrame =
    (0 until n).map { j =>
      (j.toLong, Seq((j % 4).toFloat + i, (j / 4).toFloat, 1f), s"ab$i ba cab abc")
    }.toDF("vec_id", "embedding", "text")

  private def kmeans(df: DataFrame) = Similarity.kmeansCentroids(df, 2, 1, 100L)

  test("a rewrite at the same path recomputes count and centroids; an unchanged re-read hits") {
    val path = java.nio.file.Files.createTempDirectory("graft_memo_stale").toString + "/c"
    corpus(0).write.parquet(path)
    val n1 = Memo.count(spark.read.parquet(path))
    assert(n1 === 16L)
    val c1 = kmeans(spark.read.parquet(path))
    val misses = Memo.stats.misses
    // A fresh read of the SAME files: same plan, same fingerprint.
    assert(Memo.count(spark.read.parquet(path)) === n1)
    assert(kmeans(spark.read.parquet(path)) eq c1)
    assert(Memo.stats.misses === misses)

    corpus(7, n = 24).write.mode("overwrite").parquet(path)
    assert(Memo.count(spark.read.parquet(path)) === 24L)
    val c2 = kmeans(spark.read.parquet(path))
    assert(!(c2 eq c1))
    assert(c2.map(_.toSeq).toSeq !== c1.map(_.toSeq).toSeq)
  }

  test("k-means training completes its nested count call and memoizes both") {
    Memo.clear()
    val c = corpus(1)
    val before = Memo.stats
    val cents = kmeans(c)
    assert(cents.length === 2)
    // the trainer's miss and the nested count's miss, both kept
    assert(Memo.stats.misses - before.misses === 2)
    assert(Memo.size === 2)
    assert(kmeans(c) eq cents)
    assert(Memo.stats.hits - before.hits >= 1)
    // values are JVM-wide: retiring a session leaves them
    GraftSession.onSessionEnd(spark)
    assert(Memo.size === 2)
  }

  test("three caps' worth of distinct corpora keep the entries and pinned RDDs bounded") {
    Memo.clear()
    val sc = spark.sparkContext
    def pinned(): Int = { System.gc(); sc.getPersistentRDDs.size }
    val before = pinned()
    val evictions = Memo.stats.evictions
    for (i <- 0 until 3 * Memo.Max) {
      val c = corpus(i)
      Memo.frame(spark, s"spec:bound:$i", persist = i % 2 == 0)(c).count()
      assert(Memo.count(c) === 16L)
      kmeans(c)
      Pca.fit(c, r = 1)
      Bpe.trainMerges(c, nMerges = 1)
      assert(Memo.size <= Memo.Max, s"corpus $i")
    }
    assert(Memo.stats.evictions - evictions > 2 * Memo.Max)
    // Live frames pin at most one RDD each; evicted ones are released
    // (persisted: unpersisted on eviction; checkpointed: unreferenced).
    var grown = pinned() - before
    for (_ <- 1 to 5 if grown > Memo.Max) { Thread.sleep(200); grown = pinned() - before }
    assert(grown <= Memo.Max, s"$grown pinned RDDs survive the loop")
    Memo.clear()
  }

  test("concurrent queries on one session match their sequential results") {
    val names = Seq("ann_ivf_pq", "knn_classify_ivf", "vec_pca", "text_bpe_vocab",
      "dedup_cluster_sizes", "graph_pagerank", "mm_image_meta", "dedup_exact")
    // Order-insensitive digest of a query's full result.
    def digest(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).sorted.toSeq

    Memo.clear()
    val pool = Executors.newFixedThreadPool(8)
    val concurrent =
      try {
        val futures = names.map(n => pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = digest(n)
        }))
        futures.map(_.get(20, TimeUnit.MINUTES))
      } finally pool.shutdownNow()
    Memo.clear()
    val sequential = names.map(digest)
    for ((n, (c, s)) <- names.zip(concurrent.zip(sequential))) {
      assert(s.nonEmpty, n)
      assert(c === s, n)
    }
    Memo.clear()
  }
}
