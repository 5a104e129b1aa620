package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.sources.ChunkStore
import org.apache.spark.sql.{DataFrame, Row}

/** Lifetime of the session-resident index behind
  * `ChunkStore.similaritySearch`: one fence per (context, store,
  * fingerprint), rebuilt and released when the store is rewritten,
  * shared by concurrent first callers, never carried across a stopped
  * context. The last test stops the shared context; SparkSpec rebuilds
  * it for the suites that follow.
  */
class VectorIndexSpec extends SparkSpec {

  private def store(texts: String*): String = {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_index").toString + "/store"
    ChunkStore.addDocuments(spark, texts.map(t => (t, "a.pdf")).toDF("text", "source"),
      path, Seq("text"))
    path
  }

  private def texts(df: DataFrame): Seq[String] = df.collect().map(_.getAs[String]("text")).toSeq

  /** `body`'s value and the RDDs it left persisted in the context. */
  private def persistedBy[T](body: => T): (T, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val v = body
    (v, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("a rewritten store is reloaded and its superseded fence released") {
    import spark.implicits._
    val path = store("alpha chunk text", "beta chunk text")
    val (hits, first) = persistedBy(ChunkStore.similaritySearch(spark, path, "alpha chunk text", 1))
    assert(texts(hits) == Seq("alpha chunk text"))
    assert(first.size == 1, "the first question fences the store once")
    assert(persistedBy(texts(ChunkStore.similaritySearch(spark, path, "beta", 1)))._2.isEmpty,
      "an unchanged store is served from its fence")

    ChunkStore.reset(spark, path, spark.read.parquet(path).schema)
    val (empty, second) = persistedBy(texts(ChunkStore.similaritySearch(spark, path, "alpha", 5)))
    assert(empty.isEmpty)
    assert(second.size == 1)
    assert(!spark.sparkContext.getPersistentRDDs.contains(first.head), "superseded fence kept")

    ChunkStore.addDocuments(spark, Seq(("omega chunk text", "b.pdf")).toDF("text", "source"),
      path, Seq("text"))
    val (fresh, third) = persistedBy(texts(ChunkStore.similaritySearch(spark, path, "alpha", 5)))
    assert(fresh == Seq("omega chunk text"))
    assert(third.size == 1)
    assert(!spark.sparkContext.getPersistentRDDs.contains(second.head), "superseded fence kept")
  }

  test("4 threads first-touching one store share one fence and get identical answers") {
    val path = store("alpha chunk text", "beta chunk text", "gamma chunk text", "delta chunk text")
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val (answers, fences) = persistedBy {
      val futures = (1 to 4).map(_ => pool.submit(new Callable[Seq[Row]] {
        def call(): Seq[Row] = {
          start.await()
          ChunkStore.similaritySearch(spark, path, "delta chunk text", 3).collect().toSeq
        }
      }))
      start.countDown()
      try futures.map(_.get(2, TimeUnit.MINUTES)) finally pool.shutdown()
    }
    assert(fences.size == 1)
    assert(answers.distinct.size == 1)
    assert(answers.head.head.getAs[String]("text") == "delta chunk text")
  }

  test("the fence storage-level conf applies to the index") {
    val path = store("alpha chunk text", "beta chunk text")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.fence.storageLevel", "DISK_ONLY")
    val (_, fences) = persistedBy(ChunkStore.similaritySearch(s2, path, "alpha", 1).collect())
    assert(fences.size == 1)
    assert(spark.sparkContext.getPersistentRDDs(fences.head).getStorageLevel ==
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
  }

  test("a session built after spark.stop() never reuses the stopped context's index") {
    val path = store("alpha chunk text", "beta chunk text")
    val want = texts(ChunkStore.similaritySearch(spark, path, "alpha chunk text", 2))
    val old = spark.sparkContext
    spark.stop()
    val next = SparkSpec.session
    assert(next.sparkContext ne old)
    val before = next.sparkContext.getPersistentRDDs.keySet
    assert(texts(ChunkStore.similaritySearch(next, path, "alpha chunk text", 2)) == want)
    assert((next.sparkContext.getPersistentRDDs.keySet -- before).size == 1)
  }
}
