package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is configured, and the one inter-query
  * reset. Every entry point (Bench, Verify, the CLI, the dev tools, the
  * test session) builds from `builder`, so the confs that fix answers
  * cannot drift between the run that times a query and the run that
  * checks it.
  */
object Session {

  /** A builder with the answer-fixing confs: UTC session time zone, parquet
    * nanosecond timestamps read as longs, the UI off, and
    * `shufflePartitions` shuffle partitions.
    * Callers add their app name, extensions or warehouse dir and call
    * `getOrCreate()`.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Free all cross-query state, so a query's work and timing do not depend
    * on what ran before it in the JVM: the table relation and footer-count
    * memos (each query pays its own file listing), the SQL cache, and every
    * persistent RDD block — both `persist()` and `localCheckpoint()` blocks.
    * The query modules hold no memo of their own, so no plan can outlive
    * the checkpoint blocks its lineage was truncated to.
    */
  def reset(spark: SparkSession): Unit = {
    Tables.reset()
    spark.catalog.clearCache()
    // blocking: block removal lands here, outside any timed window, never
    // inside the next query's measurement
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // Drain the previous query's GC debt outside the timed window (the JMH
    // forced-GC-between-iterations discipline). Without it, a query
    // scheduled right after a heap-pressure-heavy one read 3-10x its
    // isolated cost (e.g. pipeline_decontam 20.1 s in-run vs 5.1 s solo at
    // sf0.1) purely from inherited old-gen pressure.
    System.gc()
  }
}
