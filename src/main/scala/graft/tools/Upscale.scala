package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only fixture upscaler for scaling-curve measurements beyond the
  * driver-provided scale factors (TESTDATA.md tops out at sf0.1). Produces
  * an N× copy of a fixture directory from N key-offset replicas of
  * each fact table (replicated via a broadcast crossJoin against
  * `range(N)` — one codegen'd plan, not an N-way union): every int64
  * join/entity key in replica i is shifted by
  * i·2^34, so join selectivity, group cardinality ratios, and distribution
  * shapes are preserved exactly (each replica joins only within itself)
  * while data volume scales linearly — the property a scaling curve needs.
  * Dimension tables (region, nation) and non-key attributes are copied
  * verbatim — EXCEPT the embedding vectors, which get a per-replica
  * orthogonal signed permutation (see `perturbEmbedding`) so replicas
  * are not cross-replica near-duplicates: bit-identical copies
  * previously made every vector a C(copies,2) near-dup clique and the
  * semantic-dedup oracle quadratic in the replication (the r8 sf10
  * exemption). Never writes into /root/testdata; point outDir at /tmp.
  *
  * Usage: runMain graft.tools.Upscale <inDir> <outDir> <copies>
  */
object Upscale {

  /** int64 key columns to shift per replica, per table. int32 dimension
    * FKs (nationkey/regionkey) deliberately stay — dims are shared.
    */
  val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "nation" -> Seq(),
    "region" -> Seq()
  )

  private val Unit64: Long = 1L << 34

  /** Parallelism for both the session master and the pre-expansion
    * repartition, parsed ONCE with a validated fallback (a non-numeric or
    * non-positive SPARK_GRAFT_CPUS falls back to 8 instead of throwing
    * NumberFormatException mid-generation). Note: the repartition spreads
    * the small base across cores before the ×copies expansion, which makes
    * regenerated upscale dirs differ from the old union-form dirs in FILE
    * LAYOUT (row order, file count) — content is identical, and every
    * consumer (oracle compare, registry queries) is set-semantic. */
  private val Cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(8)

  /** Replica-i orthogonal perturbation for the embedding vector (r8
    * verdict #2): a SIGNED AFFINE PERMUTATION — output coordinate j takes
    * input coordinate (a_i·j + b_i) mod d with a_i = 2i+1 (odd — a
    * bijection because the fixture dim d=64 is a power of two), b_i =
    * 37i, then flips its sign iff murmur3(i, j) is odd. Signed
    * permutations are orthogonal, so within a replica every pairwise dot
    * product is the SAME multiset of coordinate products (each product
    * (s_j·x_{π(j)})(s_j·y_{π(j)}) = x_{π(j)}·y_{π(j)} bit-for-bit)
    * summed in permuted order — intra-replica cosines, norms, and
    * near-dup decisions match the base fixture to float-sum-order
    * (≤ ~1e-15 relative, invisible under the queries' 1e-6
    * micro-rounding). ACROSS replicas the composed transform pairs
    * DIFFERENT coordinates, so a bit-identical copy's cosine collapses
    * from 1.0 into a thin random-sign regime — measured on the sf0.1
    * vectors: P(|cos| > τ=0.4) ≈ 8e-4, max ≈ 0.54 — which kills the
    * C(copies,2) near-dup cliques that made the sf10 semantic-dedup
    * oracle quadratic (the r8 exemption). A plain ±1 diagonal (no
    * permutation) is NOT enough: it is bit-exact intra-replica, but on
    * these concentrated vectors Var[cos] = Σx_j⁴/(Σx_j²)² leaves a 7%
    * surviving tail. Replica 0 is the untouched identity, so copies=1
    * upscaling stays byte-equal and the base-fixture answer is a
    * sub-slice of every upscaled answer.
    */
  private def perturbEmbedding(rep: Column): Column => Column = v => {
    // `rep` cast to int so (2i+1), 37i and hash(i, j) carry the SAME
    // integer types (and therefore the same murmur3 bits) as the original
    // per-replica literal form — values are tiny (copies ≤ ~1000, j < d)
    val i = rep.cast("int")
    when(i === 0, v).otherwise(transform(v, (_, j) => {
      val pj = pmod((lit(2) * i + lit(1)) * j + lit(37) * i, size(v))
      val x = element_at(v, (pj + 1).cast("int"))
      when(pmod(hash(i, j), lit(2)) === 0, x).otherwise(-x)
    }))
  }

  def upscaled(spark: SparkSession, inDir: String, table: String,
      copies: Int): DataFrame = {
    val base = spark.read.parquet(s"$inDir/$table.parquet")
    if (table == "embeddings" && copies > 1) {
      // the affine map (2i+1)·j + 37i mod d is a bijection only for odd
      // multipliers against a power-of-two dim — guard the orthogonality
      // assumption against a future fixture with a different d
      val d = base.select(max(size(col("embedding")))).first().getInt(0)
      require((d & (d - 1)) == 0,
        s"perturbEmbedding assumes a power-of-two embedding dim, got $d")
    }
    val keys = keyCols(table).toSet
    if (keys.isEmpty || copies == 1) base
    else {
      // ONE broadcast-nested-loop plan instead of a `copies`-way union:
      // the union form's driver-side analysis is super-linear in the
      // replica count (measured: >10 min of single-threaded Catalyst per
      // table at copies=1000, before any task ran), while the crossJoin
      // form replicates rows inside whole-stage codegen with the replica
      // index as a COLUMN — same per-replica key shift and embedding
      // perturbation, expressed once
      val rep = broadcast(spark.range(copies).toDF("__rep"))
      // fixture tables are single small files → 1-2 scan partitions, so the
      // ×copies expansion (and its parquet encode) would run on 1-2 tasks;
      // shuffling the SMALL base first spreads the big output across cores
      val spread = base.repartition(Cpus)
      spread.crossJoin(rep).select(base.columns.toIndexedSeq.map { c =>
        if (keys(c)) (col(c) + col("__rep") * lit(Unit64)).as(c)
        else if (table == "embeddings" && c == "embedding")
          perturbEmbedding(col("__rep"))(col(c)).as(c)
        else col(c)
      }: _*)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 3 || args(2).toIntOption.forall(_ < 1)) {
      System.err.println("usage: Upscale <inDir> <outDir> <copies >= 1>")
      sys.exit(2)
    }
    val Array(inDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    require(!outDir.startsWith("/root/testdata"), "refusing to write into the read-only fixtures")
    val spark = graft.Session.builder(s"local[$Cpus]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    keyCols.keys.toSeq.sorted.foreach { t =>
      upscaled(spark, inDir, t, copies)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"upscaled $t x$copies")
    }
    spark.stop()
  }
}
