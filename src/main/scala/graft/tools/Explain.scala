package graft.tools

import graft.{Session, SparkEntry}

/** Dev utility: print the formatted physical plan of named queries — the
  * loop for checking pushdown (`PushedFilters`), pruning (`ReadSchema`),
  * join strategies (BroadcastHashJoin vs SortMergeJoin) and codegen spans.
  *
  * Usage: runMain graft.tools.Explain <sfDir> <query> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
