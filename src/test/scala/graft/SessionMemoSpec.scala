package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Lifecycle of the session-keyed memos (r12 verdict item 5 + advice
  * item 2): stopped sessions must not pin entries, and an in-session
  * TableSink.replaceDir swap must evict artifacts trained on the
  * pre-swap corpus.
  */
class SessionMemoSpec extends SparkSpecBase {

  test("replaceDir invalidates memoized layouts trained on the swapped dir") {
    val d = Files.createTempDirectory("graft-memoswap").toString
    val small = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 120)
    small.write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    // memoize the coarse layout on the 120-vector corpus: K = 11
    val before = operators.Similarity.coarseCentroids(spark, d).count()
    assert(before <= operators.Similarity.coarseK(120),
      s"pre-swap centroid count $before exceeds K(120)")
    // swap in the full 500-vector corpus THROUGH the production seam
    sources.TableSink.replaceDir(spark, s"$d/embeddings.parquet") { tmp =>
      Tables.embeddings(spark, sf0001).write.parquet(tmp)
    }
    // the memoized centroid table AND the memoized row count must have
    // been evicted: the next call re-derives K(500) = 23 from the new
    // corpus instead of serving the stale 11-cell layout
    val after = operators.Similarity.coarseCentroids(spark, d).count()
    assert(after > before,
      s"post-swap layout not re-derived: $before -> $after centroids")
    assert(after <= operators.Similarity.coarseK(500),
      s"post-swap centroid count $after exceeds K(500)")
    assert(TableStats.rowCount(spark, d, "embeddings")(-1L) == 500L,
      "stale row count survived the swap")
  }

  test("stopped sessions are purged from every registered memo") {
    // the sweep itself, driven through the probe seam: a REAL stop
    // would kill the suite's one-per-JVM SparkContext (clones share
    // it), so the spec marks a clone as stopped instead — the
    // production signal is sparkContext.isStopped, a one-line
    // delegation the probe replaces
    val clone = spark.newSession()
    val d = Files.createTempDirectory("graft-memostop").toString
    Tables.embeddings(spark, sf0001).filter(col("vec_id") < 60)
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    operators.Similarity.coarseCentroids(clone, d).count()
    assert(operators.Similarity.coarseMemo.sizeFor(clone) == 1)
    val keep = operators.Similarity.coarseMemo.sizeFor(spark)
    val probe0 = SessionMemos.stoppedProbe
    try {
      SessionMemos.stoppedProbe = s => (s eq clone) || probe0(s)
      SessionMemos.purgeStopped()
      assert(operators.Similarity.coarseMemo.sizeFor(clone) == 0,
        "stopped session's centroids still pinned")
      assert(operators.Similarity.coarseMemo.sizeFor(spark) == keep,
        "live session's entries were swept too")
    } finally SessionMemos.stoppedProbe = probe0
  }

  test("concurrent first access builds a memoized artifact once") {
    val memo = new SessionMemo[(SparkSession, String), DataFrame](_.unpersist())
    val key = (spark, Files.createTempDirectory("graft-memorace").toString)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    def build(): DataFrame = {
      val n = builds.incrementAndGet()
      Thread.sleep(200) // hold the build open so the other thread races it
      // a distinct plan per build, so a second build caches its own copy
      val df = spark.range(0L, 1000L + n, 1L, 1).toDF("id").cache()
      df.count()
      df
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val got = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            start.await()
            memo.getOrElseUpdate(key, build())
          }
        }))
      start.countDown()
      val frames = got.map(_.get())
      assert(builds.get == 1, s"artifact built ${builds.get} times")
      assert(frames(0) eq frames(1))
      assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore + 1,
        "a losing build left a cached frame behind")
    } finally {
      pool.shutdown()
      SessionMemos.invalidate(spark, key._2)
    }
  }
}
