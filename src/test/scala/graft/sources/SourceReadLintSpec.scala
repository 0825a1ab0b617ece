package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guard for the one source reader: a `.read … .parquet(` chain
  * without `.schema(` makes Spark infer the schema, which runs one job
  * (`mergeSchemasInParallel`) per read. Input tables go through
  * [[SourceReader]], which takes the schema from the footer on the driver;
  * other reads pass a schema they already hold. A hit is attributed to the
  * nearest `def` above it. Comment lines are skipped.
  */
class SourceReadLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file under src/main/scala, enclosing def) allowed a schema-less
    * parquet read, each with its reason. Keep the reasons current. */
  private val allowed: Map[(String, String), String] = Map(
    ("graft/catalog/Warehouse.scala", "readPhysical") ->
      ("a warehouse table's first read after a write infers once, so " +
        "partition discovery types its layout columns; the schema is then " +
        "a Caches grain every later read passes"))

  private val defName = """\bdef\s+(\w+)""".r
  /** A DataFrameReader chain up to its terminal load call. */
  private val chain =
    """\.read(?=\s*\.)((?:(?!\.read\b)[\s\S])*?)\.(parquet|csv|json|orc|text|load|table)\(""".r

  /** (file, enclosing def) per schema-less parquet read. */
  private def hits: Seq[(String, String)] =
    for {
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      rel = root.relativize(f).toString.replace('\\', '/')
      lines = Files.readAllLines(f).asScala.toIndexedSeq.map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
        else l
      }
      text = lines.mkString("\n")
      m <- chain.findAllMatchIn(text).toSeq
      if m.group(2) == "parquet" && !m.group(1).contains("schema(")
    } yield {
      val line = text.take(m.start).count(_ == '\n')
      val owner = lines.take(line + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1)))
        .nextOption().getOrElse("<top level>")
      (rel, owner)
    }

  test("no parquet read outside the allowlist infers its schema") {
    val bad = hits.filterNot(allowed.contains)
    assert(bad.isEmpty,
      "schema-less parquet reads (input tables: use SourceReader.table; " +
        "other reads: pass .schema(s)):\n  " +
        bad.map { case (r, o) => s"$r ($o)" }.mkString("\n  "))
  }

  test("every allowlist entry still holds a schema-less read") {
    val stale = allowed.keySet -- hits.toSet
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
