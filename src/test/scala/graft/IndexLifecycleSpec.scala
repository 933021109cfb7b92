package graft

import graft.ops.IndexStore
import java.nio.file.{Files, Path, Paths}

/** The standing-store lifecycle, checked on all six stores the four
  * `index_*` registry keys build: a store is a fingerprint-keyed
  * directory under the store root, complete once its marker holds its
  * key, and published by an atomic swap. A complete store is served as it
  * is: ensuring it again runs no Spark job and does not rewrite it.
  */
class IndexLifecycleSpec extends SparkSpec {

  private def marker(dir: String): Path = Paths.get(dir, "_GRAFT_INDEX_OK")

  private def leftovers(dirs: Seq[String]): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dirs.head).getParent
    val names = dirs.map(d => Paths.get(d).getFileName.toString)
    if (!Files.isDirectory(root)) Set.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString).filter { n =>
        names.exists(d => n.startsWith(s"$d.build-") || n.startsWith(s"$d.trash-"))
      }.toSet
      finally s.close()
    }
  }

  test("index stores: six keyed markers, a second ensure is free, no temp or trash left") {
    val stores = Seq(
      "vecsearch" -> IndexStore.indexDir(sf),
      "media" -> IndexStore.mediaDir(sf),
      "mediabase" -> IndexStore.mediaBaseDir(sf),
      "mediaupd" -> IndexStore.mediaUpdDir(sf),
      "vecbase" -> IndexStore.vecBaseDir(sf),
      "vecupd" -> IndexStore.vecUpdDir(sf))
    val dirs = stores.map(_._2)
    // a crash in an earlier JVM can leave siblings behind; only this
    // spec's own builds are under test
    val before = leftovers(dirs)
    Seq("index_build_vecsearch", "index_build_mediasig",
        "index_update_mediasig", "index_update_vecsearch")
      .foreach(k => assert(run(k).collect().nonEmpty, k))

    // each store's directory name is its prefix and then its key (the
    // vecsearch store has no prefix), and its marker holds the key
    stores.foreach { case (name, dir) =>
      val leaf = Paths.get(dir).getFileName.toString
      val key = leaf.substring(leaf.lastIndexOf('_') + 1)
      assert(leaf === (if (name == "vecsearch") key else s"${name}_$key"), name)
      assert(key.matches("[0-9a-f]{16}"), name)
      assert(Files.isRegularFile(marker(dir)), name)
      assert(Files.readString(marker(dir)) === key, name)
    }
    assert(dirs.distinct.size === dirs.size)

    val ensured: Seq[(String, String, () => String)] = Seq(
      ("vecsearch", IndexStore.indexDir(sf), () => IndexStore.ensure(spark, sf)),
      ("media", IndexStore.mediaDir(sf), () => IndexStore.ensureMedia(spark, sf)),
      ("mediabase", IndexStore.mediaBaseDir(sf),
        () => IndexStore.ensureMediaBase(spark, sf)),
      ("vecbase", IndexStore.vecBaseDir(sf),
        () => IndexStore.ensureVecBase(spark, sf)))
    ensured.foreach { case (name, dir, ensure) =>
      val mtime = Files.getLastModifiedTime(marker(dir))
      var got = ""
      assert(JobCount.jobsDuring(spark) { got = ensure() } === 0, name)
      assert(got === dir, name)
      assert(Files.getLastModifiedTime(marker(dir)) === mtime, name)
    }

    assert(leftovers(dirs) -- before === Set.empty[String])
  }
}
