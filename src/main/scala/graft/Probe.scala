package graft

import graft.catalog.PipelineRunner
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}
import scala.util.{Failure, Success, Try}

/** Full-result timer for any list of registry queries and the reference DAG:
  *
  *   sbt "runMain graft.Probe <sfDir> <name,name,…|all> [passes]"
  *
  * One `local[SPARK_GRAFT_CPUS]` session runs the names in order, `passes`
  * times (default 1); pass 1 is the cold pass. A query op times its
  * construction (`SparkEntry.queries(name)(spark, sfDir)`) apart from its
  * full result, which is the `noop` write perfbench times — never
  * `count()`, whose plan Catalyst prunes to the columns a count needs. The
  * pseudo-name `dag` times one `PipelineRunner.run` into a fresh temp root
  * (no separate construction: its `construct_s` is 0). Each op prints one
  * JSON line; a failed op carries `error` and the run goes on.
  */
object Probe {
  val Dag = "dag"

  /** One op's timings, and its error if it failed. */
  private[graft] final case class Op(constructS: Double, runS: Double,
                                     error: Option[String])

  /** The names in `arg` (`all` = the whole registry), each checked
    * against the registry or `dag`. */
  private[graft] def parseNames(arg: String): Seq[String] = {
    val names =
      if (arg == "all") SparkEntry.queries.keys.toSeq.sorted
      else arg.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(n => n == Dag || SparkEntry.queries.contains(n))
    require(names.nonEmpty, "no names given")
    require(unknown.isEmpty,
      s"unknown names: ${unknown.mkString(", ")} (known: SparkEntry.queries and $Dag)")
    names
  }

  private def timed[A](f: => A): (Double, Try[A]) = {
    val t0 = System.nanoTime()
    val r = Try(f)
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Times the construction of a frame, then its full result. */
  private[graft] def timeOp(construct: => DataFrame): Op = timed(construct) match {
    case (c, Failure(e)) => Op(c, 0.0, Some(Verify.describe(e)))
    case (c, Success(df)) =>
      val (r, res) = timed(df.write.format("noop").mode("overwrite").save())
      Op(c, r, res.failed.toOption.map(Verify.describe))
  }

  private def timeDag(spark: SparkSession, sfDir: String): Op = {
    val root = Files.createTempDirectory("graft_probe_dag")
    try {
      val (r, res) = timed(PipelineRunner.run(spark, sfDir, root.toString))
      Op(0.0, r, res.failed.toOption.map(Verify.describe))
    } finally deleteRecursively(root)
  }

  private[graft] def jsonLine(name: String, pass: Int, op: Op): String = {
    def n(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    s"""{"name":${Verify.q(name)},"pass":$pass,"construct_s":${n(op.constructS)},""" +
      s""""run_s":${n(op.runS)},"ok":${op.error.isEmpty}""" +
      op.error.fold("")(e => s""","error":${Verify.q(e)}""") + "}"
  }

  /** Recursive delete of a local temp directory; a missing one is
    * already deleted. */
  private[graft] def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Checks the arguments, and only then builds the session. */
  private[graft] def run(args: Array[String], session: => SparkSession): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Probe <sfDir> <name,name,…|all> [passes]")
    val sfDir = args(0)
    val names = parseNames(args(1))
    val passes = args.lift(2).fold(1)(_.toInt)
    val spark = session
    for (pass <- 1 to passes; name <- names) {
      val op =
        if (name == Dag) timeDag(spark, sfDir)
        else timeOp(SparkEntry.queries(name)(spark, sfDir))
      println(jsonLine(name, pass, op))
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = run(args, SparkEntry.localSession(32))
}
