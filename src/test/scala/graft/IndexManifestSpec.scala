package graft

import graft.ops.IndexStore

/** The index manifests read their row counts from the parquet footers of
  * each artifact's data files instead of running a count job per
  * artifact. The footer sum must be the same read-back a Spark scan of the
  * written directory gives, for every artifact of all four manifests.
  */
class IndexManifestSpec extends SparkSpec {

  test("index manifests: each artifact's footer row count equals a Spark count of its directory") {
    val manifests = Seq(
      ("index_build_vecsearch", IndexStore.indexDir(sf), IndexStore.ArtifactNames),
      ("index_build_mediasig", IndexStore.mediaDir(sf), IndexStore.MediaArtifactNames),
      ("index_update_mediasig", IndexStore.mediaUpdDir(sf),
        IndexStore.MediaUpdateArtifactNames),
      ("index_update_vecsearch", IndexStore.vecUpdDir(sf),
        IndexStore.VecUpdateArtifactNames))
    val conf = spark.sparkContext.hadoopConfiguration
    manifests.foreach { case (key, dir, names) =>
      val manifest = run(key).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(manifest.keySet === names.toSet, key)
      names.foreach { n =>
        val path = s"$dir/$n"
        val counted = spark.read.parquet(path).count()
        assert(IndexStore.footerRows(path, conf) === counted, s"$key/$n")
        assert(manifest(n) === counted, s"$key/$n")
      }
    }
  }
}
