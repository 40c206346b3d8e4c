package graft

import graft.operators.VertexDegree
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-partition degree combiner against the aggregate it replaced,
  * `explode(array(src, dst))` + `groupBy(vertex).count()`, on seeded random
  * edge frames over many partitions: extreme and negative ids, self-loops
  * (counted twice), duplicate edges, null endpoints (one null-vertex
  * group) and the empty frame. A tiny slot cap forces the flush path.
  */
class VertexDegreeSpec extends SparkSpec {

  private val extremes = Array(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
    Long.MaxValue - 1, Long.MaxValue)

  private def edgeFrame(seed: Int, rows: Int, partitions: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id(): java.lang.Long = rnd.nextInt(20) match {
      case 0 => null
      case 1 | 2 => extremes(rnd.nextInt(extremes.length))
      case _ => rnd.nextInt(4000).toLong - 2000L
    }
    val data = (0 until rows).map { _ =>
      val src = id()
      // one edge in eight is a self-loop
      Row(src, if (rnd.nextInt(8) == 0) src else id())
    }
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, partitions), schema)
  }

  private def explodeDegrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
      .orderBy("vertex")

  private def rows(df: DataFrame): Seq[(Option[Long], Long)] =
    df.collect().toSeq.map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))

  test("combiner degrees equal the explode aggregate on random edge frames") {
    for ((seed, partitions) <- Seq((1, 1), (2, 7), (3, 16))) {
      val edges = edgeFrame(seed, rows = 6000, partitions)
      val want = rows(explodeDegrees(edges))
      assert(want.exists(_._1.isEmpty) && want.exists(_._1.contains(Long.MinValue)))
      assert(rows(VertexDegree.degrees(edges)) == want, s"seed $seed")
    }
  }

  test("a tiny slot cap flushes partials mid-partition and still sums exactly") {
    val edges = edgeFrame(seed = 4, rows = 5000, partitions = 3)
    val want = rows(explodeDegrees(edges))
    for (cap <- Seq(4, 8, 64))
      assert(rows(VertexDegree.degrees(edges, "src", "dst", cap)) == want, s"cap $cap")
    intercept[IllegalArgumentException](VertexDegree.degrees(edges, "src", "dst", 6))
  }

  test("empty and all-null edge frames") {
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    val empty = spark.createDataFrame(spark.sparkContext.parallelize(Seq.empty[Row], 4), schema)
    assert(VertexDegree.degrees(empty).collect().isEmpty)
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, null), Row(null, 5L)), 2), schema)
    assert(rows(VertexDegree.degrees(nulls)) == Seq((None, 3L), (Some(5L), 1L)))
  }

  test("integer endpoints widen to long vertices; other types are rejected") {
    import spark.implicits._
    val ints = Seq((1, 2), (2, 2)).toDF("a", "b")
    val deg = VertexDegree.degrees(ints, "a", "b")
    assert(deg.schema("vertex").dataType == LongType)
    assert(rows(deg) == Seq((Some(1L), 1L), (Some(2L), 3L)))
    intercept[IllegalArgumentException](
      VertexDegree.degrees(Seq(("x", "y")).toDF("a", "b"), "a", "b"))
  }

  test("LongCounts: exact counts for extreme keys across growth, full only at the cap") {
    val counts = new VertexDegree.LongCounts(1 << 14)
    val keys = extremes ++ (1 to 6000).map(i => i * 7919L - 20000000L)
    keys.foreach(counts.add)
    keys.take(3).foreach(counts.add)
    assert(counts.size == keys.length && !counts.full)
    val more = (6001 to 8192).map(_ * 7919L)
    more.foreach(counts.add)
    assert(counts.full)
    val row = new SpecificInternalRow(Seq(LongType, LongType))
    val got = counts.drain(row).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (keys ++ more).map(k => k -> (if (keys.take(3).contains(k)) 2L else 1L)).toMap)
    assert(counts.size == 0 && !counts.full && !counts.drain(row).hasNext)
  }
}
