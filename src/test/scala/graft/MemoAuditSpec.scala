package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One frame cache: outside the memo's own file, no main source keeps
  * frames in a `TrieMap` of its own or pins one with `persist()`. Each
  * such cache had its own eviction rule, off the byte ledger and out
  * of reach of the one release point; [[graft.functions.KeyedFrameMemo]]
  * is the place for a new one.
  */
class MemoAuditSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")
  private val memoFile = main.resolve("graft/functions/KeyedFrameMemo.scala")
  private val frameMap = """TrieMap(?:\.empty)?\[.*,\s*DataFrame\]""".r

  test("no main source outside KeyedFrameMemo caches frames by hand") {
    assert(Files.isRegularFile(memoFile), s"run from the project root: $memoFile")
    val sources = Files.walk(main)
    val offenders = try sources.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != memoFile).toSeq
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if frameMap.findFirstIn(l).isDefined || l.contains(".persist(") =>
            s"$p:${i + 1}: ${l.trim}"
        }
      }
    finally sources.close()
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
