package graft.operators

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class CacheRegistrySpec extends AnyFunSuite with SparkSpec {

  test("releaseAll unpersists registered DataFrames and checkpoint RDD ids") {
    import spark.implicits._
    val sc = spark.sparkContext
    CacheRegistry.releaseAll(blocking = true)
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))

    val df = CacheRegistry.persist((1 to 100).toDF("x"))
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize the cached blocks
    val ck = (1 to 50).toDF("y").localCheckpoint(true)
    assert(ck.count() === 50)
    val ckIds = sc.getPersistentRDDs.keySet --
      Set.empty // checkpoint + df blocks are both live now
    assert(sc.getPersistentRDDs.nonEmpty)
    CacheRegistry.registerRddIds(sc, ckIds)

    CacheRegistry.releaseAll(blocking = true)
    assert(sc.getPersistentRDDs.isEmpty,
      s"blocks left: ${sc.getPersistentRDDs.keySet}")

    // idempotent / stale-safe: releasing again (and with made-up ids)
    // is a no-op, not an error
    CacheRegistry.registerRddIds(sc, Seq(999999))
    CacheRegistry.releaseAll(blocking = true)
  }
}
