package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

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
  * Plan: the paper's map → shuffle → sort → reduce as one range shuffle in
  * RDD land, with no Catalyst aggregate, sort or exchange:
  *   - map: scan → project two key columns → a per-partition degree
  *     combiner (in-mapper combining, MapReduce Algorithms for Big Data
  *     Analysis, VLDB 2012) over the projection's physical rows; each flush
  *     drains as one [[VertexDegree.Run]] of sorted distinct vertices with
  *     their counts. The runs persist, and the same job samples up to 20
  *     keys per range from each.
  *   - driver: at most P − 1 range bounds from that sample, P being
  *     `spark.sql.shuffle.partitions`; no second pass over the data.
  *   - shuffle: each run is cut by binary search into per-range slices,
  *     moved by one `partitionBy` on the range index.
  *   - reduce: the range's slices are summed per vertex in one more
  *     [[VertexDegree.LongCounts]], drained in vertex order.
  * Range i's vertices all precede range i+1's, so the rows come out
  * globally ordered by vertex, the null vertex first. The shuffle carries
  * at most one entry per (vertex, flush) per partition, so a hub vertex
  * costs the shuffle no more than any other; a range's reducer holds one
  * counter per vertex of its range, about 1/P of all vertices.
  *
  * `degrees` starts one job when it is called: the build job that persists
  * the runs and samples them (`Session.reset` unpersists them). A plan node
  * for eager loops (ROADMAP direction 4) could fold it into the action.
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
    * its slots are taken, it drains one sorted run and clears. The reduce
    * side sums a vertex over every run, so those early flushes are exact
    * and a partition of any size or vertex count runs in bounded memory.
    * Half of 2^20 slots holds every vertex of the sf1 benchmark graph
    * (~210,000), so there each partition flushes once, at its end.
    */
  private val MaxSlots = 1 << 20

  /** Starting slot count: small partitions allocate 64 KiB, not 16 MiB. */
  private val InitialSlots = 1 << 12

  /** Sample keys taken from each run per range, as Spark's
    * `RangePartitioner` takes per output partition. */
  private val SamplePerRange = 20

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
    val spark = edges.sparkSession
    val ranges = spark.sessionState.conf.numShufflePartitions
    // the projection's rows are reused between next()s
    val runs = edges.select(ends: _*).queryExecution.toRdd
      .mapPartitions(rows => sortedRuns(rows, maxSlots))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the build job: computes and persists the runs while it samples them
    val bounds = rangeBounds(runs.flatMap(_.sample(SamplePerRange * ranges)).collect(), ranges)
    // an Int range index hashes to itself, so range i lands in partition i
    val merged = runs.flatMap(_.slices(bounds))
      .partitionBy(new HashPartitioner(bounds.length + 1))
      .mapPartitions(slices => merge(slices.map(_._2)))
    GraftSqlBridge.fromInternalRows(spark, merged, Schema)
  }

  /** `degree` stays nullable, as the `sum` this plan replaced declared it. */
  private val Schema = StructType(Seq(
    StructField("vertex", LongType, nullable = true),
    StructField("degree", LongType, nullable = true)))

  /** Distinct vertices in ascending order with their counts, and a count of
    * null endpoints: one flush of a partition's combiner, or the slice of
    * one that falls in one range.
    */
  private[graft] final class Run(val keys: Array[Long], val counts: Array[Long], val nulls: Long)
      extends Serializable {
    def isEmpty: Boolean = keys.isEmpty && nulls == 0

    /** Up to `n` evenly spaced keys, each weighted by the keys it stands for. */
    def sample(n: Int): Iterator[(Long, Double)] = {
      val m = math.min(n, keys.length)
      Iterator.tabulate(m)(i => (keys((i.toLong * keys.length / m).toInt), keys.length.toDouble / m))
    }

    /** (range index, slice) pairs: range i holds the keys above bound i − 1
      * up to bound i, the last range those above every bound; the null
      * count rides with range 0 and empty slices are dropped.
      */
    def slices(bounds: Array[Long]): Iterator[(Int, Run)] = {
      val ends = bounds.map { b =>
        val p = java.util.Arrays.binarySearch(keys, b)
        if (p >= 0) p + 1 else -p - 1
      } :+ keys.length
      ends.indices.iterator.map { i =>
        val (from, to) = (if (i == 0) 0 else ends(i - 1), ends(i))
        i -> new Run(java.util.Arrays.copyOfRange(keys, from, to),
          java.util.Arrays.copyOfRange(counts, from, to), if (i == 0) nulls else 0L)
      }.filterNot(_._2.isEmpty)
    }
  }

  /** At most `ranges` − 1 strictly increasing bounds at the weighted
    * quantiles of `sample`, as Spark's `RangePartitioner` picks them; a
    * key sampled more than once is one bound, so fewer distinct keys than
    * ranges mean fewer ranges.
    */
  private def rangeBounds(sample: Array[(Long, Double)], ranges: Int): Array[Long] = {
    val step = sample.map(_._2).sum / ranges
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var (weight, target) = (0.0, step)
    for ((key, w) <- sample.sortBy(_._1) if bounds.length < ranges - 1) {
      weight += w
      if (weight >= target && (bounds.isEmpty || key > bounds.last)) {
        bounds += key
        target += step
      }
    }
    bounds.toArray
  }

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

    /** Counts `key` `n` more times; `n` > 0. */
    def add(key: Long, n: Long = 1L): Unit = {
      val s = find(key)
      if (table(2 * s + 1) == 0) {
        table(2 * s) = key
        used += 1
      }
      table(2 * s + 1) += n
      if (2 * used > slots && slots < maxSlots) grow()
    }

    /** Its keys in ascending order with their counts, as one [[Run]] with
      * `nulls` null endpoints; the map clears, ready for the next batch.
      */
    def drain(nulls: Long): Run = {
      val keys = new Array[Long](used)
      var (s, n) = (0, 0)
      while (s < slots) {
        if (table(2 * s + 1) != 0) {
          keys(n) = table(2 * s)
          n += 1
        }
        s += 1
      }
      java.util.Arrays.sort(keys)
      val counts = new Array[Long](used)
      for (i <- keys.indices) counts(i) = table(2 * find(keys(i)) + 1)
      java.util.Arrays.fill(table, 0L)
      used = 0
      new Run(keys, counts, nulls)
    }

    /** The slot holding `key`, else the empty slot where it would go. */
    private def find(key: Long): Int = {
      val mask = slots - 1
      var s = slot(key, slots)
      while (table(2 * s + 1) != 0 && table(2 * s) != key) s = (s + 1) & mask
      s
    }

    private def slot(key: Long, n: Int): Int =
      ((key * 0x9E3779B97F4A7C15L) >>> (64 - Integer.numberOfTrailingZeros(n))).toInt

    private def grow(): Unit = {
      val old = table
      val oldSlots = slots
      slots *= 2
      table = new Array[Long](2 * slots)
      var o = 0
      while (o < oldSlots) {
        if (old(2 * o + 1) != 0) {
          val s = find(old(2 * o))
          table(2 * s) = old(2 * o)
          table(2 * s + 1) = old(2 * o + 1)
        }
        o += 1
      }
    }
  }

  /** One partition's runs: fills a [[LongCounts]] with the endpoints of
    * (src, dst) rows until it is full or the input ends, drains it as one
    * sorted [[Run]] with the null endpoints seen meanwhile, and repeats
    * until a fill finds the input already spent.
    */
  private def sortedRuns(in: Iterator[InternalRow], maxSlots: Int): Iterator[Run] = {
    val counts = new LongCounts(maxSlots)
    Iterator.continually {
      var nulls = 0L
      while (!counts.full && in.hasNext) {
        val e = in.next()
        if (e.isNullAt(0)) nulls += 1 else counts.add(e.getLong(0))
        if (e.isNullAt(1)) nulls += 1 else counts.add(e.getLong(1))
      }
      counts.drain(nulls)
    }.takeWhile(!_.isEmpty)
  }

  /** A range's degrees: its slices summed into one [[LongCounts]] without
    * a cap (a range holds about 1/P of the vertices) and drained in vertex
    * order, after the null vertex. The one output row is reused between
    * `next()` calls.
    */
  private def merge(slices: Iterator[Run]): Iterator[InternalRow] = {
    val sums = new LongCounts(1 << 30)
    var nulls = 0L
    slices.foreach { s =>
      nulls += s.nulls
      for (i <- s.keys.indices) sums.add(s.keys(i), s.counts(i))
    }
    val run = sums.drain(nulls)
    val row = new SpecificInternalRow(Seq(LongType, LongType))
    (if (nulls == 0) Iterator.empty else Iterator.single(InternalRow(null, nulls))) ++
      run.keys.indices.iterator.map { i =>
        row.setLong(0, run.keys(i))
        row.setLong(1, run.counts(i))
        row
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

  /** Reference-golden report: "{vertex}\t{degree}\n" (vertex_degree.rs:82-89),
    * in the vertex order `degrees` returns its rows in.
    */
  def report(deg: DataFrame): String =
    deg.collect()
      .map(r => s"${r.getLong(0)}\t${r.getLong(1)}\n").mkString
}
