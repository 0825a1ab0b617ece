package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guard for the one storage policy: [[Memo]] is the only code
  * that persists or checkpoints a frame, so every stored frame has an
  * owner that releases it. A persist written anywhere else is a
  * session-wide CacheManager entry that nothing unpersists; such code
  * should call `Memo.truncate`, `stage`, `pin` or `scoped` instead.
  * Comment lines are skipped.
  */
class StorageLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val memo = "graft/Memo.scala"

  private val banned =
    Seq(".persist(", ".cache()", "localCheckpoint(", ".checkpoint(",
        "StorageLevel")

  /** The tokens Memo itself may hold, each with its reason. */
  private val allowed: Map[String, String] = Map(
    ".persist(" -> "stage, pin and scoped persist",
    "localCheckpoint(" -> "truncate in the local memo mode",
    ".checkpoint(" -> "truncate in the reliable memo mode",
    "StorageLevel" -> "the one storage level, and scoped's stored check")

  /** (file under src/main/scala, line, token) per occurrence. */
  private def hits: Seq[(String, Int, String)] =
    for {
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//"))
      token <- banned
      if line.contains(token)
    } yield (rel, i + 1, token)

  test("only graft.Memo persists or checkpoints a frame") {
    val bad = hits.filterNot { case (rel, _, token) =>
      rel == memo && allowed.contains(token)
    }
    assert(bad.isEmpty,
      "storage calls outside graft.Memo (use Memo.truncate/stage/pin/" +
        "scoped):\n  " + bad.map { case (r, l, t) => s"$r:$l: $t" }
        .mkString("\n  "))
  }

  test("every allowed token still appears in Memo") {
    val seen = hits.collect { case (`memo`, _, token) => token }.toSet
    val stale = allowed.keySet -- seen
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
