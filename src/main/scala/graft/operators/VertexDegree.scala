package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vertex degree over an edge list, Spark-native.
  *
  * Reference semantics (`/root/reference/src/app/vertex_degree.rs`):
  *   - each line: first two whitespace-separated u64s (src, dst); malformed
  *     lines are a fatal error (vertex_degree.rs:12-27) — we keep fail-fast
  *     by casting strictly and raising on null
  *   - each edge increments BOTH endpoints; self-loops count twice and
  *     duplicate edges are not deduped (vertex_degree.rs:32-53)
  *   - output ordered by vertex id ASC, "{vertex}\t{degree}" (73-89)
  *
  * Plan: scan → project two key columns → a per-partition degree combiner
  * (in-mapper combining, MapReduce Algorithms for Big Data Analysis, VLDB
  * 2012) over the projection's physical rows → partial + final hash-agg
  * summing its partial counts → sort. One shuffle, keyed on vertex,
  * carrying at most one row per (vertex, flush) per partition; AQE handles
  * any hub-vertex skew at scale (a power-law graph at 100 TB would
  * otherwise hot-spot the reducers holding celebrity vertices).
  *
  * The combiner counts both endpoints of every edge into a primitive
  * open-addressing `Long → Long` map ([[VertexDegree.LongCounts]]), so no
  * row per endpoint is ever built; null endpoints go to one counter, which
  * becomes the one null-vertex group. Spark's own partial aggregate over
  * one row per endpoint would, with more vertices than its 65,536-slot
  * codegen fast map, do a `BytesToBytesMap` lookup per endpoint.
  */
object VertexDegree {

  /** Most slots the combiner's map holds: 2^20 slots of an interleaved
    * (key, count) pair of longs is 16 MiB per running task (24 MiB while
    * it doubles into that size), whatever the partition's size. The map
    * doubles from [[InitialSlots]] as keys arrive; at this size, once half
    * its slots are taken, it emits its partial counts downstream and
    * clears. The final sum makes those early flushes exact, so a partition
    * of any size or vertex count runs in bounded memory. Half of 2^20
    * slots holds every vertex of the sf1 benchmark graph (~210,000), so
    * there each partition flushes once, at its end.
    */
  private val MaxSlots = 1 << 20

  /** Starting slot count: small partitions allocate 64 KiB, not 16 MiB. */
  private val InitialSlots = 1 << 12

  /** Degrees from a DataFrame of (src, dst) integral columns: `vertex`
    * (long, null for null endpoints) and `degree` (long), by vertex ASC.
    */
  def degrees(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    degrees(edges, srcCol, dstCol, MaxSlots)

  /** [[degrees]] with the combiner's slot cap as a parameter, so tests can
    * force the flush path; `maxSlots` is a power of two >= 4.
    */
  private[graft] def degrees(edges: DataFrame, srcCol: String, dstCol: String,
      maxSlots: Int): DataFrame = {
    require(maxSlots >= 4 && Integer.bitCount(maxSlots) == 1,
      s"maxSlots must be a power of two >= 4, got $maxSlots")
    val ends = Seq(srcCol, dstCol).map { c =>
      edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => col(c).cast(LongType)
        case other => throw new IllegalArgumentException(
          s"edge column $c must be integral, got ${other.catalogString}")
      }
    }
    // planned now, computed when the result runs (an input with exchanges
    // under AQE runs them while planning); rows are reused between next()s
    val partials = edges.select(ends: _*).queryExecution.toRdd
      .mapPartitions(rows => combine(rows, maxSlots))
    GraftSqlBridge.fromInternalRows(edges.sparkSession, partials, PartialSchema)
      .groupBy("vertex")
      .agg(sum("degree").as("degree"))
      .orderBy("vertex")
  }

  private val PartialSchema = StructType(Seq(
    StructField("vertex", LongType, nullable = true),
    StructField("degree", LongType, nullable = false)))

  /** Primitive open-addressing `Long → Long` counter: keys and counts
    * interleaved in one array (a probe touches one cache line), linear
    * probing, Fibonacci hashing. A zero count marks an empty slot, so
    * every long is a valid key. The load stays at about one half at most.
    */
  private[graft] final class LongCounts(maxSlots: Int) {
    private var slots = math.min(InitialSlots, maxSlots)
    private var table = new Array[Long](2 * slots)
    private var used = 0

    def size: Int = used

    /** At the cap and half full: flush before the next edge. Below the
      * cap, `add` grows the map instead, so the load never passes one
      * half plus the one key of an edge's second endpoint.
      */
    def full: Boolean = used >= maxSlots / 2

    def add(key: Long): Unit = {
      val mask = slots - 1
      var s = slot(key, slots)
      while (table(2 * s + 1) != 0 && table(2 * s) != key) s = (s + 1) & mask
      if (table(2 * s + 1) == 0) {
        table(2 * s) = key
        used += 1
      }
      table(2 * s + 1) += 1
      if (2 * used > slots && slots < maxSlots) grow()
    }

    /** Its (key, count) pairs, written one at a time into `row`; the map
      * clears as the last one is read, ready for the next batch.
      */
    def drain(row: InternalRow): Iterator[InternalRow] = new Iterator[InternalRow] {
      private var s = nextOccupied(0)
      override def hasNext: Boolean = s >= 0
      override def next(): InternalRow = {
        row.setLong(0, table(2 * s))
        row.setLong(1, table(2 * s + 1))
        s = nextOccupied(s + 1)
        if (s < 0) {
          java.util.Arrays.fill(table, 0L)
          used = 0
        }
        row
      }
    }

    private def nextOccupied(from: Int): Int = {
      var s = from
      while (s < slots && table(2 * s + 1) == 0) s += 1
      if (s < slots) s else -1
    }

    private def slot(key: Long, n: Int): Int =
      ((key * 0x9E3779B97F4A7C15L) >>> (64 - Integer.numberOfTrailingZeros(n))).toInt

    private def grow(): Unit = {
      val old = table
      val oldSlots = slots
      slots *= 2
      table = new Array[Long](2 * slots)
      val mask = slots - 1
      var o = 0
      while (o < oldSlots) {
        if (old(2 * o + 1) != 0) {
          var s = slot(old(2 * o), slots)
          while (table(2 * s + 1) != 0) s = (s + 1) & mask
          table(2 * s) = old(2 * o)
          table(2 * s + 1) = old(2 * o + 1)
        }
        o += 1
      }
    }
  }

  /** One partition's partial degrees: fills a [[LongCounts]] with the
    * endpoints of (src, dst) rows until it is full or the input ends,
    * drains it, and repeats; the null-endpoint count comes last. The one
    * output row is reused between `next()` calls.
    */
  private def combine(in: Iterator[InternalRow], maxSlots: Int): Iterator[InternalRow] = {
    val counts = new LongCounts(maxSlots)
    val row = new SpecificInternalRow(Seq(LongType, LongType))
    var nulls = 0L
    def fill(): Iterator[InternalRow] = {
      while (!counts.full && in.hasNext) {
        val e = in.next()
        if (e.isNullAt(0)) nulls += 1 else counts.add(e.getLong(0))
        if (e.isNullAt(1)) nulls += 1 else counts.add(e.getLong(1))
      }
      counts.drain(row)
    }
    // a batch drains before the next one fills; `++` takes its operand by
    // name, so `nulls` is read after the last batch
    Iterator.continually(fill()).takeWhile(_.hasNext).flatten ++ {
      if (nulls == 0) Iterator.empty
      else {
        row.setNullAt(0)
        row.setLong(1, nulls)
        Iterator.single(row)
      }
    }
  }

  /** Parse `src<ws>dst` text lines into edges; strict like the reference —
    * a malformed line fails the job rather than silently dropping.
    */
  def parseEdges(spark: SparkSession, path: String): DataFrame =
    parseEdges(spark, Seq(path))

  def parseEdges(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val toks = split(trim(col("value")), "\\s+")
    spark.read.text(paths: _*)
      .filter(length(trim(col("value"))) > 0)
      .select(
        toks.getItem(0).cast("long").as("src"),
        toks.getItem(1).cast("long").as("dst"))
      .select(
        assertNonNull(col("src")).as("src"),
        assertNonNull(col("dst")).as("dst"))
  }

  /** Fail-fast null guard mirroring vertex_degree.rs:26-27 (parse error ⇒
    * job fails). `assert_true` returns null on pass, raises on fail.
    */
  private def assertNonNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(assert_true(c.isNotNull, lit("malformed edge line")).isNull, c)

  def overTextFiles(spark: SparkSession, path: String): DataFrame =
    overTextFiles(spark, Seq(path))

  def overTextFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    degrees(parseEdges(spark, paths))

  /** Reference-golden report: "{vertex}\t{degree}\n" (vertex_degree.rs:82-89). */
  def report(deg: DataFrame): String =
    deg.orderBy("vertex").collect()
      .map(r => s"${r.getLong(0)}\t${r.getLong(1)}\n").mkString
}
