package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Utils
import graft.index.IndexLifecycle
import graft.sinks.Sinks

/** Directory listings close their streams: an unclosed `Files.list`
  * holds a descriptor for the life of the JVM, even once consumed. */
class ListingSpec extends AnyFunSuite {

  private val fds = Paths.get("/proc/self/fd")
  private def openFds(): Long =
    scala.util.Using.resource(Files.list(fds))(_.count())

  test("version listing and snapshot deletes leak no descriptors") {
    assume(Files.isDirectory(fds), "needs /proc/self/fd")
    val lake = Files.createTempDirectory("graft_listing")
    try {
      Files.createDirectories(lake.resolve("v=0"))
      Files.createFile(lake.resolve("v=0/_SUCCESS"))
      Files.createDirectories(lake.resolve("v=1")) // uncommitted
      val root = lake.resolve("index")
      val before = openFds()
      (1 to 50).foreach { _ =>
        assert(Sinks.Versioned.versions(lake.toString) === Seq(0L))
      }
      (1 to 20).foreach { _ =>
        val files = Seq("cell=0/batch=1/part-0.parquet",
          "cell=1/part-1.parquet").map { f =>
          val p = root.resolve(f)
          Files.createDirectories(p.getParent)
          Files.createFile(p)
        }
        Files.createFile(root.resolve("cell=1/_SUCCESS"))
        IndexLifecycle.deleteSnapshot(root.toString, files)
        assert(!Files.exists(root))
      }
      val grown = openFds() - before
      assert(grown < 5, s"$grown descriptors left open")
    } finally Utils.rmTree(lake)
  }
}
