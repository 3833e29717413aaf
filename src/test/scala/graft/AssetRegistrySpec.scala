package graft

/** The stored-asset registry's build order. Bench forces `assetBuilders` in
  * order and times each entry under its own `assets` key, so an entry must
  * build exactly its own asset: everything it reads was built by an earlier
  * entry, and nothing listed after it is built inside it (a build that
  * lands inside another entry times at 0 s under its own key). */
class AssetRegistrySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def built: Set[String] =
    SparkEntry.memoizedAssets.collect { case (`spark`, `dir`, name) => name }

  test("asset names are unique") {
    val names = SparkEntry.assetBuilders.map(_._1)
    assert(names.nonEmpty)
    assert(names.distinct == names, s"duplicated: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("forcing assetBuilders in order adds only each entry's own memo entry") {
    SparkEntry.clearAssetCaches()
    try {
      SparkEntry.assetBuilders.foreach { case (name, force) =>
        val before = built
        force(spark, dir)
        val added = built -- before
        assert(added == Set(name),
          s"forcing $name built [${added.toSeq.sorted.mkString(", ")}]")
      }
      assert(built == SparkEntry.assetBuilders.map(_._1).toSet)
      SparkEntry.clearAssetCaches()
      assert(SparkEntry.memoizedAssets.isEmpty, "clearAssetCaches must leave the memo empty")
    } finally {
      SparkEntry.clearAssetCaches()
      spark.catalog.clearCache()
    }
  }
}
