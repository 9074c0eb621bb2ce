package graft

import org.apache.spark.storage.StorageLevel

/** The shared-input memo ([[Tables.memo]]): one handle per
  * (session, dir, kind), rebuilt when its cache was cleared externally,
  * and dropped — DataFrames and driver-side values alike — by
  * [[Tables.clearPairCache]]. */
class SharedInputsSpec extends SparkSpec {

  test("memo returns one handle, rebuilds a cleared cache, and clearPairCache drops driver-side values") {
    Tables.clearPairCache()
    val pairs = sf0001.documentNearDupPairs
    assert(sf0001.documentNearDupPairs eq pairs, "second access must return the memoized handle")

    spark.sharedState.cacheManager.clearCache()
    val rebuilt = sf0001.documentNearDupPairs
    assert(!(rebuilt eq pairs), "a handle whose cache was cleared must be rebuilt")
    assert(rebuilt.storageLevel != StorageLevel.NONE, "the rebuilt handle must be persisted")

    val w = PipelineQueries.sharedClassifierWeights(sf0001)
    assert(PipelineQueries.sharedClassifierWeights(sf0001) eq w)
    Tables.clearPairCache()
    val retrained = PipelineQueries.sharedClassifierWeights(sf0001)
    assert(!(retrained eq w), "clearPairCache must drop driver-side memo values")
    assert(retrained.sameElements(w), "the retrained weights are deterministic")
    Tables.clearPairCache()
  }
}
