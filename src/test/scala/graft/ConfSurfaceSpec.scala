package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's settable surface: the `graft.*` session conf keys that
  * `src/main` reads. A new knob fails here until it is added to [[Pinned]]
  * on purpose; a size gate belongs under `graft.driver.localThreshold`
  * (`Algorithms.driverGate`), not under a key of its own.
  *
  * A conf key is a string literal that is a whole dotted `graft.` name.
  * Two kinds of `graft.` strings are not conf reads and are told apart:
  *  - generated-code calls (`"graft.plans.VecKernels.norm6($c)"`) are not
  *    whole dotted names, so the pattern skips them;
  *  - table properties (`graft.lsh.bands`, `graft.lsh.bitsPerBand`) are
  *    read from a table's TBLPROPERTIES through `props.get(…)`, and a
  *    literal in that position is skipped.
  * Test-only keys (the `graft.spec.marker` job property) live under
  * `src/test`, which is not scanned. */
class ConfSurfaceSpec extends AnyFunSuite {

  private val Pinned = Set(
    "graft.driver.localThreshold",
    "graft.iter.broadcastBytes",
    "graft.topk.maxKeysPerPartition",
    "graft.silver.ratings.table",
    "graft.ann.lsh.postingsTable")

  private val Literal = """(props\.get\(\s*)?"(graft\.[A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)+)"""".r

  test("src/main reads exactly the pinned graft.* conf keys") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def keys(f: Path): Seq[String] =
      Literal.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .filter(_.group(1) == null).map(_.group(2)).toSeq
    val found = files.flatMap(keys).toSet
    assert(found == Pinned,
      s"unpinned keys: ${(found -- Pinned).toSeq.sorted.mkString(", ")}; " +
        s"pinned keys no longer read: ${(Pinned -- found).toSeq.sorted.mkString(", ")}")
  }
}
