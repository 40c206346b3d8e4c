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

  /** A private child of `parent` (same SparkContext and catalog, its own SQL
    * conf and temp views) with `confs` applied: per-query confs live and die
    * with the child, never flipped on the shared session. Artifact isolation
    * is turned off first (the repository adds no artifacts): with it on,
    * each child's tasks run under their own classloader, a new key in
    * Spark's codegen cache, so every child recompiled every class the
    * parent had already compiled. The artifact manager reads that conf once,
    * lazily, so it is set before the child runs anything.
    */
  def child(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val cs = parent.newSession()
    cs.conf.set("spark.sql.artifact.isolation.enabled", "false")
    confs.foreach { case (k, v) => cs.conf.set(k, v) }
    cs
  }

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
