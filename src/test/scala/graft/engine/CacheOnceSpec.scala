package graft.engine

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

class CacheOnceSpec extends SparkSpec {

  test("equal plans share one cached RDD; after unpersist a call caches again") {
    def plan = spark.range(0, 2000)
      .selectExpr("id % 17 AS cache_once_k", "id")
      .groupBy("cache_once_k").count()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def added = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet -- before

    val a = CacheOnce(plan)
    a.count() shouldBe 17
    val b = CacheOnce(plan)
    b.count() shouldBe 17
    added should have size 1
    b.storageLevel should not be StorageLevel.NONE
    val first = added.head

    a.unpersist(blocking = true)
    b.storageLevel shouldBe StorageLevel.NONE
    added shouldBe empty

    val c = CacheOnce(plan)
    c.storageLevel should not be StorageLevel.NONE
    c.count() shouldBe 17
    added should have size 1
    added should not contain first
    c.unpersist(blocking = true)
  }
}
