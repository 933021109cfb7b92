package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Failed index builds leave no work and no files behind, driven through
  * the `private[graft]` publish and inParallel seams with filesystem
  * fixtures, in the Round10Spec style — no Spark session needed.
  */
class IndexPublishSpec extends AnyFunSuite {

  private def siblings(root: Path): Seq[String] = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    } finally s.close()
  }

  test("publish: a build that throws leaves no .build- sibling, propagates, and keeps the live store") {
    val root = Files.createTempDirectory("graft_publish_fail_spec")
    val dst = root.resolve("store")
    Files.createDirectories(dst)
    Files.writeString(dst.resolve("artifact"), "live")
    Files.writeString(dst.resolve("_GRAFT_INDEX_OK"), "live")
    val e = intercept[IllegalStateException] {
      ops.IndexStore.publish(dst.toString, force = true) { tmp =>
        Files.createDirectories(Paths.get(tmp, "half_written"))
        Files.writeString(Paths.get(tmp, "half_written", "part-0"), "torn")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(siblings(root) === Seq("store"))
    assert(Files.readString(dst.resolve("artifact")) === "live")
    assert(Files.readString(dst.resolve("_GRAFT_INDEX_OK")) === "live")
  }

  test("inParallel: a failing lane returns only after every sibling lane has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      ops.IndexStore.inParallel(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); slowDone.set(true) },
        () => { Thread.sleep(100); throw new IllegalStateException("later") }))
    }
    assert(slowDone.get(), "inParallel returned while a lane was still running")
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("later"))
  }
}
