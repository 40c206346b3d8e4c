package graft

import graft.operators.{Grep, VertexDegree, WordCount}
import org.apache.spark.sql.SparkSession

/** CLI entry point — the Spark-native analog of the reference's client
  * (`/root/reference/src/bin/client.rs`: submit+process for a named app over
  * an arbitrary input-file list). Prints the app's golden-format report to
  * stdout.
  *
  * Parity with `mr-client submit` (client.rs:80-99):
  *   - MULTIPLE input paths, like the reference's `files` list (one map
  *     task per file there; one scan over the union of paths here — Spark
  *     additionally splits large files, a free upgrade).
  *   - `--num-reduce N` (client.rs:39-40, default 5) maps to
  *     `spark.sql.shuffle.partitions` — the reduce-parallelism knob is the
  *     shuffle-partition count in both systems.
  *   - grep's `--term t` replaces the reference's re-parsed `-- aux args`
  *     channel (grep.rs:25-34) with a typed flag, a deliberate divergence
  *     documented in SURVEY §2.B.
  *
  * Usage:  runMain graft.Cli wc <path>... [--num-reduce N]
  *         runMain graft.Cli grep <path>... --term <t> [--num-reduce N]
  *         runMain graft.Cli vertex-degree <path>... [--num-reduce N]
  */
object Cli {

  private[graft] final case class Invocation(app: String, paths: Seq[String],
      term: Option[String], numReduce: Option[Int])

  private[graft] val usage: String =
    "usage: wc <path>... [--num-reduce N] | " +
      "grep <path>... --term <t> [--num-reduce N] | " +
      "vertex-degree <path>... [--num-reduce N]"

  /** Pure argv parser: app name first, then any mix of paths and flags. */
  private[graft] def parse(argv: List[String]): Either[String, Invocation] = {
    argv match {
      case app :: rest if Set("wc", "grep", "vertex-degree", "vdeg")(app) =>
        var paths = Vector.empty[String]
        var term: Option[String] = None
        var numReduce: Option[Int] = None
        var args = rest
        while (args.nonEmpty) {
          args match {
            case "--term" :: t :: tail    => term = Some(t); args = tail
            case "--term" :: Nil          => return Left("--term requires a value")
            case ("--num-reduce" | "-n") :: n :: tail =>
              numReduce = n.toIntOption.filter(_ > 0) match {
                case some @ Some(_) => some
                case None => return Left(s"--num-reduce needs a positive int, got '$n'")
              }
              args = tail
            case ("--num-reduce" | "-n") :: Nil =>
              return Left("--num-reduce requires a value")
            case p :: _ if p.startsWith("-") && p != "-" =>
              // a typo'd flag — single- or double-dash — must not silently
              // become an input path and surface later as an unrelated
              // read error ("-" alone stays a path by convention)
              return Left(s"unknown flag: $p\n$usage")
            case p :: tail                => paths :+= p; args = tail
            case Nil                      => ()
          }
        }
        if (paths.isEmpty) Left(s"$app: at least one input path required")
        else if (app == "grep" && term.isEmpty) Left("grep: --term <t> required")
        else if (app != "grep" && term.isDefined) Left(s"$app does not take --term")
        else Right(Invocation(if (app == "vdeg") "vertex-degree" else app,
          paths, term, numReduce))
      case other =>
        Left(s"unknown invocation: ${other.mkString(" ")}\n$usage")
    }
  }

  /** Dispatch a parsed invocation on an existing session; returns the
    * golden-format report (the `process_output` analog). Session-owned
    * conf (shuffle partitions) is applied by `main`, not here, so tests
    * can call this against the shared session without conf mutation.
    */
  private[graft] def run(spark: SparkSession, inv: Invocation): String =
    inv.app match {
      case "wc" =>
        WordCount.report(WordCount.overTextFiles(spark, inv.paths))
      case "grep" =>
        Grep.report(Grep.overTextFiles(spark, inv.paths, inv.term.get))
      case "vertex-degree" =>
        VertexDegree.report(VertexDegree.overTextFiles(spark, inv.paths))
    }

  def main(args: Array[String]): Unit = {
    parse(args.toList) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
      case Right(inv) =>
        val spark = Session.builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"),
            inv.numReduce.map(_.toString)
              .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))
          .appName("graft-cli")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        try print(run(spark, inv))
        finally spark.stop()
    }
  }
}
