package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guard for the one commit protocol: a filesystem rename or a
  * dynamic partition overwrite anywhere but the protocol's own helpers is
  * a second, drifting copy of the swap or the partition rewrite — the kind
  * whose missing heal once let a partitioned merge replace a crash-parked
  * table with just its updates. Such code should call the Warehouse verbs
  * instead. A hit is attributed to the nearest `def` above it. */
class WarehouseCommitLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val warehouse = "graft/catalog/Warehouse.scala"

  /** Each banned token, with the Warehouse helpers that may hold it. */
  private val allowed: Map[String, Set[String]] = Map(
    ".rename(" -> Set("swap", "heal"),
    "partitionOverwriteMode" -> Set("rewritePartitions"))

  private val defName = """\bdef\s+(\w+)""".r

  /** (file under src/main/scala, enclosing def, token) per occurrence. */
  private def hits: Seq[(String, String, String)] =
    for {
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      rel = root.relativize(f).toString.replace('\\', '/')
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      token <- allowed.keys
      if line.contains(token)
    } yield {
      val owner = lines.take(i + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1)))
        .nextOption().getOrElse("<top level>")
      (rel, owner, token)
    }

  test("renames and dynamic overwrites live only in the commit helpers") {
    val bad = hits.filterNot { case (rel, owner, token) =>
      rel == warehouse && allowed(token)(owner)
    }
    assert(bad.isEmpty,
      "write-commit code outside Warehouse.swap/heal/rewritePartitions:\n  " +
        bad.map { case (r, o, t) => s"$r ($o): $t" }.mkString("\n  "))
  }

  test("every allowed helper still holds its token") {
    val seen = hits.map { case (_, owner, token) => (owner, token) }.toSet
    val stale = for {
      (token, owners) <- allowed.toSeq
      owner <- owners
      if !seen((owner, token))
    } yield s"$owner: $token"
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
