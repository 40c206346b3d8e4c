package graft

import graft.operators.VertexDegree
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The combiner runs and their range shuffle against the aggregate they
  * replaced, `explode(array(src, dst))` + `groupBy(vertex).count()` +
  * `orderBy(vertex)`, on seeded random edge frames over many partitions:
  * extreme and negative ids, self-loops (counted twice), duplicate edges,
  * null endpoints (one null-vertex group) and the empty frame. A tiny slot
  * cap forces several runs per partition. Every comparison is of the raw
  * `collect()` order: `degrees` has no `orderBy`, and `tools/check.py`
  * canonicalizes rows, so this suite is what certifies the order.
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
    frame(partitions, data: _*)
  }

  private val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))

  private def frame(partitions: Int, edges: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(edges, partitions), schema)

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
    assert(VertexDegree.degrees(frame(4)).collect().isEmpty)
    val nulls = frame(2, Row(null, null), Row(null, 5L))
    assert(rows(VertexDegree.degrees(nulls)) == Seq((None, 3L), (Some(5L), 1L)))
  }

  test("rows come out ordered by vertex, nulls first, at any range count") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val edges = Seq((5, 1), (6, 7), (7, 16)).map { case (seed, p) => edgeFrame(seed, 3000, p) }
    val wants = edges.map(e => rows(explodeDegrees(e)))
    // four vertices and the null one, fewer than 8 ranges: the sampled
    // keys repeat and most would-be bounds coincide
    val few = frame(5, Row(7L, 7L), Row(null, 3L), Row(3L, 7L), Row(Long.MaxValue, Long.MinValue))
    try {
      for (ranges <- Seq(1, 3, 8)) {
        spark.conf.set(key, ranges.toString)
        for ((e, want) <- edges.zip(wants); cap <- Seq(4, 8, 1 << 20)) {
          val deg = VertexDegree.degrees(e, "src", "dst", cap)
          assert(rows(deg) == want, s"$ranges ranges, ${e.rdd.getNumPartitions} partitions, cap $cap")
          assert(deg.rdd.getNumPartitions == ranges)
        }
        assert(rows(VertexDegree.degrees(few)) == Seq((None, 1L), (Some(Long.MinValue), 1L),
          (Some(3L), 2L), (Some(7L), 3L), (Some(Long.MaxValue), 1L)), s"$ranges ranges")
        assert(VertexDegree.degrees(frame(3)).collect().isEmpty)
      }
    } finally spark.conf.set(key, saved)
  }

  test("vertex_degree: one build job, one action job, no block left after reset") {
    val jobs = (1 to 3).map { _ =>
      Session.reset(spark)
      val (df, build) = JobCounter.count(spark)(SparkEntry.queries("vertex_degree")(spark, sf))
      val (_, action) = JobCounter.count(spark)(df.collect())
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "the runs are persisted")
      Session.reset(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      (build, action)
    }
    assert(jobs == Seq.fill(3)((1, 1)))
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
    keys.foreach(counts.add(_))
    keys.take(3).foreach(counts.add(_, 4L))
    assert(counts.size == keys.length && !counts.full)
    val more = (6001 to 8192).map(_ * 7919L)
    more.foreach(counts.add(_))
    assert(counts.full)
    val run = counts.drain(nulls = 9L)
    assert(run.keys.toSeq == (keys ++ more).sorted.toSeq && run.nulls == 9L)
    assert(run.keys.zip(run.counts).toMap ==
      (keys ++ more).map(k => k -> (if (keys.take(3).contains(k)) 5L else 1L)).toMap)
    assert(counts.size == 0 && !counts.full && counts.drain(nulls = 0L).isEmpty)
  }
}
