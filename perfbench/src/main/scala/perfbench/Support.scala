package perfbench

/** The expected outputs the checks compare against (`expected.txt`,
  * `key=value` lines): per-table digests of a reference-DAG run and
  * per-query digests (with the module family) of the registry. */
final case class Pinned(dag: Map[String, String],
                        registry: Map[String, Pinned.Query])

object Pinned {
  final case class Query(family: String, digest: String)

  def load(path: String): Pinned = {
    val kv = scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toSeq
    def under(prefix: String) = kv.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v }.toMap
    Pinned(
      under("dag."),
      under("registry.").map { case (k, v) =>
        val i = v.indexOf(':'); k -> Query(v.take(i), v.drop(i + 1)) })
  }
}

/** The JSON the JVM hands back to run.py (numbers and plain strings only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(kv: Iterable[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) })

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def result(run: Main.Run, t: Trace.Summary, cold: Trace.Summary,
             fatal: String,
             storageMb: Double, heapAfterGcMb: Double,
             heapMaxMb: Double): String = obj(Seq(
    "fatal" -> str(fatal),
    "session_s" -> num(run.sessionSeconds),
    "preflight_s" -> num(run.preflightSeconds),
    "ops" -> arr(run.ops.map(o => obj(Seq(
      "kind" -> str(o.kind), "s" -> num(o.seconds),
      "ok" -> o.ok.toString, "traced" -> o.traced.toString,
      "name" -> str(o.name),
      "family" -> str(o.family), "error" -> str(o.error))))),
    "storage_held_mb" -> num(storageMb),
    "heap_after_gc_mb" -> num(heapAfterGcMb),
    "heap_max_mb" -> num(heapMaxMb),
    "traced_ops" -> t.tracedOps.toString,
    "layers" -> nums(t.layers),
    "cold_layers" -> nums(cold.layers),
    "self_s" -> nums(t.selfSeconds)))

  def span(s: Trace.Span): String = obj(Seq(
    "id" -> s.id.toString, "name" -> str(s.name), "parent" -> s.parent.toString,
    "op" -> s.op.toString, "start_ms" -> s.startMs.toString,
    "end_ms" -> s.endMs.toString, "s" -> num(s.seconds)))
}
