package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.Hints

/** Pins the shared-leaf registry contract (Hints.leaf / rebuildLeaf): one
  * entry per (session, directory, tag); a changed source fingerprint or a
  * rebuild displaces the entry and unpersists the displaced leaf; tags on
  * one directory never evict each other; and a leaf's build may publish
  * another leaf (Dedup's labels build publishes the shingle-set leaf at
  * corpus scale). */
class MemoEvictionSpec extends SparkSpec {

  private def df(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).toDF("v")
  }

  private def cached(x: DataFrame): Boolean = x.storageLevel != StorageLevel.NONE

  private def unbuilt: DataFrame = fail("expected a registry hit, not a build")

  test("the same key returns the same leaf and builds once") {
    var builds = 0
    def get() = Hints.leaf(spark, sf0001, "documents", "spec-same") {
      builds += 1; df(3)
    }
    val first = get()
    assert(first eq get(), "same key must return the cached leaf")
    assert(builds === 1)
  }

  test("same variant with a changed fingerprint evicts the stale entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft-leaf").toString
    def write(n: Int): Unit =
      df(n).write.mode("overwrite").parquet(s"$dir/t.parquet")
    write(1)
    val stale = Hints.leaf(spark, dir, "t", "spec-fp")(df(5).persist())
    stale.count()
    assert(cached(stale))
    write(2)
    val fresh = Hints.leaf(spark, dir, "t", "spec-fp")(df(6).persist())
    assert(!(fresh eq stale), "regenerated table must rebuild the leaf")
    assert(!cached(stale), "the superseded leaf must be unpersisted")
    assert(Hints.leaf(spark, dir, "t", "spec-fp")(unbuilt) eq fresh)
    Hints.evictAllMemos()
  }

  test("different variant tags under the same dir+fingerprint coexist") {
    val a = Hints.leaf(spark, sf0001, "documents", "spec-tag-a")(df(7).persist())
    val b = Hints.rebuildLeaf(spark, sf0001, "documents", "spec-tag-b")(
      df(8).persist())
    assert(cached(a), "publishing tag b must not unpersist tag a")
    assert(cached(b))
    assert(Hints.leaf(spark, sf0001, "documents", "spec-tag-a")(unbuilt) eq a)
    assert(Hints.leaf(spark, sf0001, "documents", "spec-tag-b")(unbuilt) eq b)
    Hints.evictAllMemos()
  }

  test("a rebuild displaces and unpersists the previous leaf") {
    val first = Hints.rebuildLeaf(spark, sf0001, "documents", "spec-rebuild")(
      df(9).persist())
    val second = Hints.rebuildLeaf(spark, sf0001, "documents", "spec-rebuild")(
      df(10).persist())
    assert(!cached(first), "the displaced leaf must be unpersisted")
    assert(cached(second))
    assert(Hints.leaf(spark, sf0001, "documents", "spec-rebuild")(unbuilt) eq second)
    Hints.evictAllMemos()
  }

  test("a leaf build may publish other leaves (labels -> shingle sets)") {
    // Enough nested publications to hit the outer key's bin or force a
    // resize of the map: a build run inside the map's compute fails
    // here with "Recursive update".
    Hints.evictAllMemos()
    val inner = (0 until 200).map(i => s"spec-inner-$i")
    val x = df(11)
    val outer = Hints.leaf(spark, sf0001, "documents", "spec-outer") {
      inner.foreach(t => Hints.rebuildLeaf(spark, sf0001, "documents", t)(x))
      df(12)
    }
    assert(Hints.leaf(spark, sf0001, "documents", "spec-outer")(unbuilt) eq outer)
    inner.foreach(t =>
      assert(Hints.leaf(spark, sf0001, "documents", t)(unbuilt) eq x, t))
    Hints.evictAllMemos()
  }

  test("dedupIncr and dedupLshSweep leaves coexist in the live memo") {
    // Regression for the round-10 bug where the second construction
    // unpersisted the first's still-current signature leaf.
    Hints.evictAllMemos()
    val d = sf0001
    val before = org.apache.spark.sql.CachedPlans.count(spark)
    operators.Dedup.dedupIncr(spark, d)
    operators.Dedup.dedupLshSweep(spark, d)
    val docs = Tables.documents(spark, d)
    assert(cached(operators.Dedup.minhashSignatures(docs, 2, 32)),
      "dedupIncr's signature leaf is not cached")
    assert(cached(operators.Dedup.minhashMd5Sigs(docs)),
      "dedupLshSweep's construction evicted dedupIncr's leaf or its own")
    assert(org.apache.spark.sql.CachedPlans.count(spark) === before + 2)
    Hints.evictAllMemos()
  }
}
