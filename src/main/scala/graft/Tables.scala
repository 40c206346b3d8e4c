package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet star schema (TESTDATA.md / FIXTURES.md §B).
  *
  * Each table is one parquet file (or a directory of them) under `sfDir`.
  * We always go through `spark.read.parquet` so Catalyst gets a relation it
  * can push filters and column pruning into — `.explain` on any query here
  * should show `PushedFilters` / a narrowed `ReadSchema`.
  *
  * At 100 TB these would be partitioned/ bucketed catalog tables; the loader
  * is the single seam where that swap happens (nothing else in the library
  * hardcodes paths).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoize resolved relations per (session, path): DataFrames are immutable
  // plans, and re-resolving re-lists files + re-reads parquet footers — pure
  // overhead when dozens of registry queries hit the same ten tables.
  // Assumes read-only fixtures (the driver's testdata contract) and
  // short-lived processes; a long-lived multi-session service would want a
  // weak/expiring cache here.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop memoized relations (bench/verify inter-query hygiene). */
  def reset(): Unit = { cache.clear(); countCache.clear() }

  private val countCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  /** Exact row count of a base table, read from the parquet footers on the
    * driver (r12, VERDICT item 6): identical to `count()` on the unfiltered
    * relation — a parquet footer's record count is exact — but costs ZERO
    * Spark jobs, so plan-build-time sizing decisions (`scaledLshBits`,
    * `vecsFitBroadcast`) stop billing a job per fresh plan. This is the
    * statistic a catalog table carries for free at 100 TB; the footer reads
    * are the stand-in for that metadata lookup.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    countCache.getOrElseUpdate((spark, s"$sfDir/$name.parquet"), {
      val conf = spark.sessionState.newHadoopConf()
      dataFiles(conf, s"$sfDir/$name.parquet")
        .map(f => withFooter(conf, f)(_.getRecordCount)).sum
    })

  /** The schema `spark.read.parquet(path).schema` would infer, read on the
    * driver from one footer. Inference runs this very conversion
    * (`ParquetFileFormat.mergeSchemasInParallel`: the first data file by
    * path, the Spark row metadata when present, else the parquet schema
    * through a converter built from the session conf) — but inside a
    * one-task job. Passing the result to `spark.read.schema(...)` makes a
    * table load cost zero jobs. The result depends on the session conf
    * (`nanosAsLong`, NTZ inference).
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = dataFiles(conf, path).head
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    withFooter(conf, first) { r =>
      ParquetFileFormat.readSchemaFromFooter(new Footer(first, r.getFooter), converter)
    }
  }

  /** Data files of a parquet path: the path itself when it is a file, else
    * every file below it at any depth, skipping `_`/`.`-prefixed names
    * (`_SUCCESS`, `.crc` sidecars, `_temporary/`) as Spark's file index
    * does, sorted by path as schema inference orders them. A layout with
    * no data file fails here rather than counting 0 rows.
    */
  private def dataFiles(conf: Configuration, path: String): Seq[Path] = {
    val fs = new Path(path).getFileSystem(conf)
    // qualified, so the hidden-name test below never sees the components
    // of a relative root's working directory
    val root = fs.makeQualified(new Path(path))
    val files =
      if (!fs.getFileStatus(root).isDirectory) Seq(root)
      else {
        val rootDepth = root.depth
        val it = fs.listFiles(root, true)
        val out = Seq.newBuilder[Path]
        while (it.hasNext) {
          val f = it.next().getPath
          val hidden = Iterator.iterate(f)(_.getParent)
            .takeWhile(_.depth > rootDepth)
            .exists { p =>
              val n = p.getName
              (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
            }
          if (!hidden) out += f
        }
        out.result().sortBy(_.toString)
      }
    require(files.nonEmpty, s"no parquet data files under $path")
    files
  }

  private def withFooter[T](conf: Configuration, f: Path)(fn: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try fn(r) finally r.close()
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, s"$sfDir/$name.parquet"), {
      // events.ts is parquet timestamp[ns], which Spark's vectorized reader
      // rejects outright. Parquet exposes no per-read option for this
      // (ParquetOptions: mergeSchema/compression/rebase only), so the
      // session must carry spark.sql.legacy.parquet.nanosAsLong=true — all
      // graft entry points (Bench/Verify/Cli/Explain/SparkSpec) set it at
      // build; the rescue below only fires for foreign sessions, at most
      // once per session (conf.getOption returns the registered DEFAULT
      // for unset keys, so compare the value — an isEmpty check never
      // fires).
      if (name == "events" &&
          spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // footer-read schema (set AFTER the conf rescue above, which the
      // conversion reads): the load starts no job
      val path = s"$sfDir/$name.parquet"
      val raw = spark.read.schema(footerSchema(spark, path)).parquet(path)
      // Normalize events.ts to TimestampType regardless of how the fixture
      // ships it, so every downstream query sees one stable type:
      //  - timestamp[ns]  → LongType via nanosAsLong → timestamp_micros(ns/1000)
      //    (the same ns→µs truncation DuckDB applies, so oracles stay
      //    bit-identical);
      //  - timestamp[us]  → TimestampNTZType under Spark 4's NTZ inference →
      //    cast to TimestampType (value-identical: all graft sessions pin
      //    spark.sql.session.timeZone=UTC);
      //  - already TimestampType → pass through.
      if (name == "events") normalizeTs(raw, raw.schema("ts").dataType)
      else raw
    })

  /** The ONE place events.ts fixture-type drift is absorbed (batch load
    * above; the streaming source probes its schema and calls this too, so
    * the two paths cannot diverge). `dt` is passed explicitly because the
    * streaming caller normalizes a frame built from a separately-probed
    * schema.
    */
  private[graft] def normalizeTs(df: DataFrame,
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    dt match {
      case LongType      => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** ns-timestamp handling lives in load() so no path can read events raw. */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
