package graft

import graft.operators.WordCount
import graft.plans.LetterRuns.letterRuns
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The fused letter-run tokenizer against the regex composition it replaced,
  * `filter(split(s, "[^\\p{L}]+"), x -> length(x) > 0)`, on seeded random
  * strings that mix every class its two paths tell apart: ASCII letters,
  * digits, `_`, punctuation and CR/LF (the ASCII path); Latin-1, `İ`/`ı`/`ß`,
  * Greek final sigma, a titlecase letter, CJK, supplementary-plane letters,
  * combining marks and emoji (the code-point path); invalid UTF-8 from a
  * binary cast; `""` and null. Each check runs with generated code only and
  * again fully interpreted.
  */
class LetterRunsSpec extends SparkSpec {

  /** The string of the given code points. */
  private def u(cps: Int*): String = new String(cps.toArray, 0, cps.length)

  private val pieces: IndexedSeq[String] = IndexedSeq(
    "a", "Z", "q", "Hello", "wORLD", "0", "7", "_", "-", ",", ".", "'", " ",
    "\t", "\r", "\n", "\r\n",
    u(0xE9), u(0xDC), u(0xDF), u(0xAA), u(0xB5), u(0xD7), u(0xF7), // é Ü ß ª µ × ÷
    u(0x130), u(0x131), u(0x3A3), u(0x3C3), u(0x3C2), // İ ı Σ σ ς
    u(0x39F, 0x394, 0x39F, 0x3A3), u(0x1C5), u(0x1C8), u(0x2B0), // ΟΔΟΣ ǅ ǈ ʰ
    u(0x4E2D), u(0x6587, 0x5B57), u(0x306E), // CJK, kana
    u(0x301), u(0x65, 0x301), u(0x308), // combining marks, alone and after e
    u(0x660), u(0xA0), u(0x2003), // Arabic-Indic zero, no-break and em spaces
    u(0x1F600), u(0x1D400), u(0x20000), // emoji, math bold A, CJK ext-B
    u(0xD83D)) // a lone high surrogate

  private def randomString(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(12)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb ++= pieces(rnd.nextInt(pieces.length)); i += 1 }
    sb.toString
  }

  /** Mostly-letter bytes with high bytes sprinkled in: malformed sequences,
    * truncated leads, lone continuations, overlongs and valid pairs. */
  private def randomBytes(rnd: scala.util.Random): Array[Byte] = {
    val high = Array(0x80, 0xBF, 0xC0, 0xC3, 0xA9, 0xE0, 0xE2, 0x82, 0xAC,
      0xED, 0xA0, 0xF0, 0x9F, 0x98, 0xF4, 0xFF).map(_.toByte)
    Array.fill(rnd.nextInt(16)) {
      if (rnd.nextInt(3) == 0) high(rnd.nextInt(high.length))
      else "aZ1 _x".charAt(rnd.nextInt(6)).toByte
    }
  }

  /** (id, t) rows over 8 partitions: `t` is null, `""`, random text, or a
    * binary-cast random byte string. */
  private def corpus(seed: Int, rows: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val data = (0 until rows).map { i =>
      rnd.nextInt(10) match {
        case 0 => Row(i, null, null)
        case 1 => Row(i, "", null)
        case 2 => Row(i, null, randomBytes(rnd))
        case _ => Row(i, randomString(rnd), null)
      }
    }
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("s", StringType), StructField("b", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 8), schema)
      .select(col("id"), coalesce(col("s"), col("b").cast(StringType)).as("t"))
  }

  private def composed(t: Column): Column =
    filter(split(t, "[^\\p{L}]+"), x => length(x) > 0)

  /** Rows where the two columns differ (null equals null). */
  private def mismatches(df: DataFrame, got: Column, want: Column): Seq[Row] =
    df.select(col("id"), col("t"), got.as("got"), want.as("want"))
      .where(!col("got").eqNullSafe(col("want")))
      .collect().toSeq

  private val modes = Seq(
    "generated code" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  for ((mode, confs) <- modes) {
    test(s"letter_runs equals the regex split-and-filter on random text ($mode)") {
      withConfs(confs) {
        val df = corpus(seed = 11, rows = 20000)
        assert(mismatches(df, letterRuns(col("t")), composed(col("t"))).isEmpty)
        assert(mismatches(df, WordCount.tokens(col("t")),
          composed(lower(col("t")))).isEmpty)
      }
    }
  }

  test("letter_runs: pinned cases, empty and null") {
    val rows = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("Hello,world_123foo"), Row(s"na${u(0xEF)}ve caf${u(0xE9)}"),
      Row(s"${u(0x3A3, 0x39F)}-${u(0x3C3, 0x3BF)}"), Row(s"e${u(0x301)}x"),
      Row(s"a${u(0x1D400)}b${u(0x1F600)}c"), Row(""), Row(null)), 2),
      StructType(Seq(StructField("t", StringType))))
      .select(letterRuns(col("t"))).collect().map(r =>
        if (r.isNullAt(0)) null else r.getSeq[String](0)).toSeq
    assert(rows == Seq(Seq("Hello", "world", "foo"),
      Seq(s"na${u(0xEF)}ve", s"caf${u(0xE9)}"), Seq(u(0x3A3, 0x39F), u(0x3C3, 0x3BF)),
      Seq("e", "x"), Seq(s"a${u(0x1D400)}b", "c"), Seq(), null))
  }

  test("letter_runs rejects a non-string argument at analysis") {
    val e = intercept[Exception] {
      spark.range(1).select(letterRuns(col("id"))).collect()
    }
    assert(e.getMessage.contains("letter_runs"), e.getMessage)
  }

  private def withConfs[T](kvs: Seq[(String, String)])(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
