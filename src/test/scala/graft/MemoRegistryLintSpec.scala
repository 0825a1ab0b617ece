package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guard for the one-registry decision: in-session memo state
  * lives in [[Caches]] and nowhere else. A module that grows its own
  * concurrent map, mutable map or list of persisted frames re-creates the
  * per-module get/put/release/invalidate copies whose drift caused the
  * r19 "Recursive update" crash and the leaked concurrent-build loser —
  * it fails here and should call `Caches.grain` / `Caches.track` instead.
  */
class MemoRegistryLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val banned = Seq(
    "ConcurrentHashMap" -> "ConcurrentHashMap".r,
    "mutable.Map" -> """mutable\.Map""".r,
    "persisted-frame ArrayBuffer" ->
      """ArrayBuffer(\.empty)?\[\s*(DataFrame|Dataset\b)""".r)

  /** (file under src/main/scala, banned pattern) pairs allowed to stay,
    * each with its reason. Keep the reasons current. */
  private val allowed: Map[(String, String), String] = Map(
    ("graft/Caches.scala", "ConcurrentHashMap") -> "the memo registry itself",
    ("graft/ScaleProbe.scala", "mutable.Map") ->
      "a probe's local per-phase timing accumulator; holds no frames")

  private def sources: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("memo state lives only in the registry") {
    val hits = for {
      f <- sources
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (name, re) <- banned
      if re.findFirstIn(line).isDefined && !allowed.contains((rel, name))
    } yield s"$rel:${i + 1}: $name"
    assert(hits.isEmpty,
      "memo state outside graft.Caches (use Caches.grain/track):\n  " +
        hits.mkString("\n  "))
  }

  test("every allowlist entry still matches its file") {
    val stale = allowed.keys.filterNot { case (rel, name) =>
      val re = banned.toMap.apply(name)
      re.findFirstIn(Files.readString(root.resolve(rel))).isDefined
    }
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
