package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Cache-lifetime discipline: every op that persists an internal stage
  * registers it with [[graft.ops.Caches]], so ONE `Caches.release()` after
  * materialization leaves the session with zero cached plans — a library
  * embedded in a long-lived session must not accumulate MEMORY_AND_DISK
  * blocks per invocation. `clearCache()` in Bench/Verify is thereby
  * belt-and-braces, not load-bearing. */
class CacheDisciplineSpec extends SparkSuite {
  import spark.implicits._

  private def cachedPlans: Int = {
    // the CacheManager is the source of truth for df.persist() entries
    if (spark.sharedState.cacheManager.isEmpty) 0 else 1
  }

  private def docs = spark.read.parquet(s"$sf0/documents.parquet").limit(200)
  private def embs = spark.read.parquet(s"$sf0/embeddings.parquet").limit(200)

  private def assertReleased(label: String)(run: => Long): Unit = {
    val n = run
    assert(n >= 0, s"$label produced a result")
    assert(Caches.trackedCount > 0,
      s"$label persisted nothing through Caches.track — either it no " +
        "longer caches (update this spec) or a raw .persist() crept back in")
    Caches.release()
    assert(Caches.trackedCount === 0, s"$label left tracked entries")
    assert(cachedPlans === 0, s"$label left cached plans after release()")
  }

  test("allPairsCosine releases its persisted base") {
    spark.catalog.clearCache()
    assertReleased("allPairsCosine") {
      Similarity.allPairsCosine(
        embs.withColumn("g", pmod(col("vec_id"), lit(4))),
        "vec_id", "embedding", Seq("g"), blocks = 2).count()
    }
  }

  test("dsirSelect releases its tokenized corpus") {
    spark.catalog.clearCache()
    assertReleased("dsirSelect") {
      Sampling.dsirSelect(docs, "doc_id", col("lang") === "en").count()
    }
  }

  test("containment / ngram / prefix shingle stages release") {
    spark.catalog.clearCache()
    assertReleased("containmentPairs") {
      Dedup.containmentPairs(docs, "doc_id", "text").count()
    }
    assertReleased("ngramJaccardPairs") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text").count()
    }
    assertReleased("prefixJaccardPairs") {
      Dedup.prefixJaccardPairs(docs, "doc_id", "text").count()
    }
  }

  test("perplexityBuckets releases its scored corpus") {
    spark.catalog.clearCache()
    assertReleased("perplexityBuckets") {
      TextOps.perplexityBuckets(docs, "doc_id", "lang").count()
    }
  }

  test("pagerank and clustering release their edge/label tables") {
    spark.catalog.clearCache()
    assertReleased("pagerank") {
      Graph.pagerank(docs, "doc_id", iters = 2).count()
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // the distributed label path persists its edges and label rounds ...
    assertReleased("propagateLabels") {
      Dedup.propagateLabels(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))).count()
    }
    // ... while dedupClusters' union-find path, taken below MaxDriverEdges,
    // collects the edges once and caches nothing at all
    assert(Dedup.dedupClusters(docs, "doc_id", pairs).count() === 200)
    assert(Caches.trackedCount === 0 && cachedPlans === 0,
      "dedupClusters cached a stage on its union-find path")
  }

  test("release is scoped per SparkSession — concurrent pipelines don't clobber") {
    spark.catalog.clearCache()
    import Caches.TrackedPersist
    val other = spark.newSession() // shares the context, distinct session
    val mine = docs.select("doc_id").persistTracked()
    val theirs = other.range(100).toDF("n").persistTracked()
    assert(Caches.trackedCount(spark) === 1)
    assert(Caches.trackedCount(other) === 1)
    // releasing the OTHER session must not unpersist this session's stage
    Caches.release(other)
    assert(Caches.trackedCount(other) === 0)
    assert(Caches.trackedCount(spark) === 1,
      "another session's release dropped this session's in-flight stage")
    assert(theirs.storageLevel.useMemory === false, "other's stage released")
    assert(mine.storageLevel.useMemory === true, "own stage still persisted")
    Caches.release(spark)
    assert(Caches.trackedCount === 0)
  }

  test("release is idempotent and safe before materialization") {
    spark.catalog.clearCache()
    // releasing twice is a no-op; releasing BEFORE an action just costs a
    // recompute — the result is still correct
    val sel = Sampling.dsirSelect(docs, "doc_id", col("lang") === "en")
    Caches.release()
    Caches.release()
    assert(sel.count() >= 0)
    Caches.release()
    assert(cachedPlans === 0)
  }
}
