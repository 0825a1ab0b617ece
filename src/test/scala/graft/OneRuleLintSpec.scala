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

  /** (file under src/main/scala, line number, line) per non-comment
    * line. */
  private lazy val mainLines: Seq[(String, Int, String)] =
    for {
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//"))
    } yield (rel, i + 1, line)

  /** (file under src/main/scala, line) per occurrence of `token` in the
    * files whose path starts with `under`. */
  private def hits(token: String, under: String): Seq[(String, Int)] =
    for ((rel, n, line) <- mainLines
         if rel.startsWith(under) && line.contains(token)) yield (rel, n)

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

  private val SparkDirDef =
    """^(\s*)def (\w+)\(spark: SparkSession, dir: String\)(?:: DataFrame)? =(.*)$""".r

  /** `body` is one `…Of(…)` call: the paren its head opens closes at its
    * end. */
  private def oneCoreCall(body: String): Boolean =
    """^[\w.]*Of\(""".r.findPrefixMatchOf(body).exists { m =>
      var depth = 0
      var inStr = false
      val closes = body.indices.drop(m.end - 1).find { i =>
        val c = body(i)
        if (c == '"') inStr = !inStr
        if (!inStr && c == '(') depth += 1
        if (!inStr && c == ')') depth -= 1
        depth == 0
      }
      closes.contains(body.length - 1)
    }

  test("a registry core is bound once, in SparkEntry") {
    // a `(spark, dir)` function whose body only applies a core to its
    // inputs, and that nothing but the registry calls, is a second
    // binding of the query: SparkEntry's lambda should call the core
    val bindings = for {
      f <- Files.walk(root.resolve("graft/ops")).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      m <- SparkDirDef.findFirstMatchIn(line).toSeq
      indent = m.group(1).length
      body = (m.group(3) +: lines.drop(i + 1).takeWhile(l =>
        l.trim.nonEmpty && l.takeWhile(_ == ' ').length > indent))
        .map(_.trim).mkString(" ").trim
      if !body.contains("Caches.grain") && oneCoreCall(body)
    } yield (root.relativize(f).toString, i + 1, m.group(2))
    val registryOnly = bindings.filter { case (_, _, name) =>
      val call = ("(?<![\\w$])" + name + "\\s*\\(").r
      val own = ("\\bdef " + name + "\\b").r
      !mainLines.exists { case (rel, _, line) =>
        !rel.endsWith("/SparkEntry.scala") && own.findFirstIn(line).isEmpty &&
          call.findFirstIn(line).nonEmpty
      }
    }
    assert(registryOnly.isEmpty,
      s"${registryOnly.size} registry-only bindings, call the core in " +
        "SparkEntry instead:\n  " +
        registryOnly.map { case (r, l, n) => s"$r:$l $n" }.mkString("\n  "))
  }
}
