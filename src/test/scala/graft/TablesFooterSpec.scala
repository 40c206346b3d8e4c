package graft

import java.nio.file.Files

import graft.tools.Upscale
import org.apache.hadoop.fs.{FileSystem, Path}

/** `Tables.footerSchema` and `Tables.rowCount` read parquet footers on the
  * driver in place of Spark's schema-inference and count jobs. Pins that
  * the footer schema is exactly the schema `spark.read.parquet` infers —
  * for every fixture table, for a Spark-written multi-file directory
  * (`Upscale`'s output), under both `nanosAsLong` settings — that footer
  * counts equal `count()` on single files, directories and nested
  * layouts, and that a table load starts no job at all.
  */
class TablesFooterSpec extends SparkSpec {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val saved = spark.conf.get(NanosKey)
    spark.conf.set(NanosKey, on.toString)
    try body finally spark.conf.set(NanosKey, saved)
  }

  /** Every fixture table, upscaled ×2 into a Spark-written directory. */
  private lazy val upscaledDir: String = {
    val out = Files.createTempDirectory("graft-upscaled").toString
    Tables.names.foreach { t =>
      Upscale.upscaled(spark, sf, t, 2).write.parquet(s"$out/$t.parquet")
    }
    out
  }

  private def assertInferred(dir: String): Unit =
    Tables.names.foreach { t =>
      val p = s"$dir/$t.parquet"
      assert(Tables.footerSchema(spark, p) === spark.read.parquet(p).schema, p)
    }

  test("footer schema equals the inferred schema: fixtures and an upscaled directory, nanosAsLong on and off") {
    for (on <- Seq(true, false)) withNanosAsLong(on) {
      assertInferred(sf)
      assertInferred(upscaledDir)
    }
  }

  test("footer row counts equal count() on files, directories and nested layouts") {
    Tables.names.foreach { t =>
      assert(Tables.rowCount(spark, sf, t) === spark.read.parquet(s"$sf/$t.parquet").count(), t)
      assert(Tables.rowCount(spark, upscaledDir, t) ===
        spark.read.parquet(s"$upscaledDir/$t.parquet").count(), t)
    }
    // a hive-partitioned layout: data files one directory level down,
    // sidecars (_SUCCESS, .crc) beside them
    val nested = Files.createTempDirectory("graft-nested").toString
    spark.read.parquet(s"$sf/orders.parquet").write.partitionBy("o_orderstatus")
      .parquet(s"$nested/orders.parquet")
    val read = spark.read.parquet(s"$nested/orders.parquet")
    assert(Tables.rowCount(spark, nested, "orders") === read.count())
    // the partition column lives in directory names, not in the footers
    assert(Tables.footerSchema(spark, s"$nested/orders.parquet") ===
      read.drop("o_orderstatus").schema)
  }

  test("a directory with no data file fails instead of counting 0 rows") {
    val empty = Files.createTempDirectory("graft-empty").toString
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(s"$empty/orders.parquet"))
    fs.create(new Path(s"$empty/orders.parquet/_SUCCESS")).close()
    val e = intercept[IllegalArgumentException](Tables.rowCount(spark, empty, "orders"))
    assert(e.getMessage.contains("no parquet data files"))
  }

  test("table loads start no Spark job; schema inference would") {
    Tables.reset()
    val (dfs, jobs) = JobCounter.count(spark)(Tables.names.map(Tables.load(spark, sf, _)))
    assert(jobs === 0)
    // and they resolve to the relation inference gives (events aside,
    // whose ts Tables.load normalizes)
    Tables.names.zip(dfs).filter(_._1 != "events").foreach { case (t, df) =>
      assert(df.schema === spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
    // the counter sees the job that inference runs
    val (_, inferJobs) = JobCounter.count(spark)(spark.read.parquet(s"$sf/orders.parquet"))
    assert(inferJobs >= 1)
    Tables.reset()
  }
}
