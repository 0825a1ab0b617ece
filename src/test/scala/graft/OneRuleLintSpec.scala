package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guard for rules the DuckDB oracle pins and the code states
  * once: a second copy of such a rule's text is a second place to keep
  * in step with the oracle, and fails here. Such code should call the
  * rule's one home instead. Comment lines are skipped.
  */
class OneRuleLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file under src/main/scala, line) per occurrence of `token` in the
    * files whose path starts with `under`. */
  private def hits(token: String, under: String): Seq[(String, Int)] =
    for {
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      rel = root.relativize(f).toString.replace('\\', '/')
      if rel.startsWith(under)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//"))
      if line.contains(token)
    } yield (rel, i + 1)

  private def once(token: String, under: String, home: String): Unit = {
    val seen = hits(token, under)
    assert(seen.size == 1,
      s"'$token' must appear once (in $home), found:\n  " +
        seen.map { case (r, l) => s"$r:$l" }.mkString("\n  "))
  }

  test("the dense-bucket gate's raise_error is written once in ops/Dedup") {
    once("raise_error(", "graft/ops/Dedup.scala",
      "Dedup.bucketPairs, the giant-bucket guard")
  }

  test("the new-batch decile cutoff is written once in src/main") {
    once("max(doc_id) * 9 DIV 10", "", "Dedup.decileSplit")
  }

  test("the bin-length integer log2 is written once under graft/ops") {
    once("length(bin(", "graft/ops", "graft.ops.ilog2")
  }

  test("the word n-gram window is written once in ops/TextOps") {
    once("sequence(0, size(words) -", "graft/ops/TextOps.scala",
      "TextOps.ngramWindow")
  }
}
