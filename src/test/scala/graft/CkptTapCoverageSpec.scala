package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint tap is only a census guarantee if EVERY engine
  * checkpoint goes through it: a raw `.localCheckpoint(...)` /
  * `.checkpoint(...)` call truncates its frame's logical plan into a
  * `LogicalRDD` leaf that both plan censuses (self-join mass, forced
  * broadcast) walk straight past — the r13 blind spot where `part`'s
  * forced broadcast hid behind `agg_market_basket`'s checkpoint. This
  * source-scan makes a dodge a compile-adjacent failure: the only
  * file in `src/main` allowed to spell the raw calls is the shim
  * itself ([[graft.core.CkptTap]]). */
class CkptTapCoverageSpec extends AnyFunSuite {

  private val raw = """\.(localCheckpoint|checkpoint)\(""".r

  test("no raw checkpoint/localCheckpoint call in src/main outside CkptTap") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"source root $root missing")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "CkptTap.scala")
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
      .toSeq
    assert(offenders.isEmpty,
      "raw checkpoint calls bypass the census tap — use " +
        "tappedLocalCheckpoint() from " +
        "graft.core.CkptTap:\n  " + offenders.mkString("\n  "))
  }
}
