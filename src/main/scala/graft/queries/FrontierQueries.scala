package graft.queries

import graft.{Session, Tables}
import graft.plans.Fnv1a64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-6 frontier batch: the engine surfaces and analytics algorithms
  * still uncovered after the 336-query ledger — verified by concept-grep
  * before drafting (registry-no-restatement discipline).
  *
  *  - `q_xml_roundtrip`   — Spark 4's NATIVE XML data source (write+read),
  *                          the one built-in file format the sink/source
  *                          matrix did not yet exercise.
  *  - `q_sql_script`      — Spark 4 SQL scripting (BEGIN/DECLARE/WHILE/IF),
  *                          procedural control flow submitted as one script.
  *  - `q_chi2_test`       — chi-square independence test on a contingency
  *                          table (the categorical sibling of `q_ab_ttest`).
  *  - `q_benford`         — Benford first-digit conformance, a fraud/DQ
  *                          screen distinct from `q_dq_checks`' rule checks.
  *  - `q_kaplan_meier`    — Kaplan-Meier product-limit survival curve with
  *                          real right-censoring (time-to-conversion).
  *  - `geo_grid_neighbors`— grid-bucketed spatial radius self-join with
  *                          3x3 neighbor-cell expansion — the canonical
  *                          never-all-pairs spatial shape.
  *  - `ml_als_step`       — one exact ALS half-step (2-factor ridge normal
  *                          equations per user), the matrix-factorization
  *                          family the ml_* set lacked.
  *
  * Numeric discipline: every output column is a driver-proven scalar type;
  * money/coordinates/factor sums ride as exact BIGINTs and only the final
  * closed-form divisions are DOUBLE (exact-input, deterministic). The two
  * transcendental users (KM's ln/exp, Benford's log10 constants) follow
  * the gated precedent: KM uses the same exp(cumsum(ln)) formula text on
  * both engines over an ORDERED window (deterministic summation order);
  * Benford embeds the nine log10(1+1/d) values as identical decimal
  * literals on both sides so no libm is consulted at all.
  */
object FrontierQueries {

  private def tmpRoot: String = TmpPaths.root("graft_frontier")

  private def sfTag(sfDir: String): String = TmpPaths.sfTag(sfDir)

  /** Native XML source/sink roundtrip (Spark 4 absorbed spark-xml:
    * `format("xml")` + rowTag). Customer rows are written as XML elements
    * and read back with an EXPLICIT schema — never inference, which would
    * cost a second full pass over the files at scale — then aggregated by
    * market segment. Money crosses the text format as exact cents
    * (BIGINT), not a printed double. Scale: the writer emits one
    * pretty-printed row element per record inside a ROWS root, and the
    * reader's XmlInputFormat splits files on rowTag boundaries, so reads
    * parallelize across and within files; the aggregate is one 5-group
    * shuffle. */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = s"$tmpRoot/customer_xml_${sfTag(d)}"
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      .write.mode("overwrite").option("rowTag", "customer")
      .format("xml").save(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("acctbal_cents", LongType)))
    s.read.option("rowTag", "customer").schema(schema).format("xml").load(path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("acctbal_cents")).as("sum_cents"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
      .orderBy("c_mktsegment")
  }

  /** Spark 4 SQL scripting: a BEGIN..END compound with DECLARE'd
    * variables, a WHILE loop accumulating per-hash-bucket order stats,
    * and an IF/ELSE — submitted as ONE script whose last statement is the
    * result. Scripts are procedural by contract: the loop's statements
    * execute when the script is submitted (this is the scripting
    * semantic, not a lazily-buildable plan), each iteration a small
    * aggregate job. Scale: each iteration scans with a pushed bucket
    * predicate; the script variable holds only the scalar accumulator. */
  def sqlScript(s: SparkSession, d: String): DataFrame = {
    // The script runs on a PRIVATE child session (Session.child: shared
    // SparkContext and catalog, separate conf and temp-view registry), so
    // the shared session's parser conf is never flipped even transiently —
    // a concurrently-BUILT query could otherwise observe
    // scripting.enabled=true mid-construction (the csvMalformed isolation
    // pattern). The temp view is session-scoped, hence registered on the
    // child, and the child's conf needs no restore: it dies with the
    // reference.
    val ss = Session.child(s, "spark.sql.scripting.enabled" -> "true")
    Tables.orders(ss, d).createOrReplaceTempView("orders_script_v")
    ss.sql("""
      BEGIN
        DECLARE total BIGINT DEFAULT 0;
        DECLARE cents BIGINT DEFAULT 0;
        DECLARE i INT DEFAULT 0;
        DECLARE size_label STRING DEFAULT 'small';
        WHILE i < 5 DO
          -- multi-variable SET: one job per iteration, not one per variable
          SET (total, cents) = (
            SELECT total + count(*),
                   cents + coalesce(
                     sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
            FROM orders_script_v WHERE o_orderkey % 5 = i);
          SET i = i + 1;
        END WHILE;
        IF total > 1000 THEN
          SET size_label = 'large';
        END IF;
        SELECT total AS n_orders, cents AS sum_cents,
               i AS n_chunks, size_label;
      END""")
  }

  /** Chi-square independence test: is event_type independent of the
    * value band (>= 50)? Emits the full contingency table with expected
    * counts and per-cell contributions plus the chi-square statistic.
    * Expected counts come from marginal windows over the 10-cell table;
    * the statistic is a FULL-frame window sum over an ORDERED spec so
    * both engines add the ten doubles in the identical sequence. All
    * inputs to the arithmetic are exact counts — products/divisions of
    * exact integers are deterministic IEEE ops. Scale: one linear scan
    * into a 10-row aggregate; everything after is constant-size. */
  def chi2Test(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        when(col("value") >= 50.0, 1).otherwise(0).as("hi"))
      .groupBy("event_type", "hi")
      .agg(count(lit(1)).as("o"))
    val wRow = Window.partitionBy("event_type")
    val wCol = Window.partitionBy("hi")
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy("event_type", "hi")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("e",
        sum(col("o")).over(wRow).cast("double") *
          sum(col("o")).over(wCol).cast("double") /
          sum(col("o")).over(wAll).cast("double"))
      .withColumn("contrib",
        (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))
      .withColumn("chi2", sum(col("contrib")).over(wOrd))
      .select("event_type", "hi", "o", "e", "contrib", "chi2")
      .orderBy("event_type", "hi")
  }

  /** Benford first-significant-digit conformance over order totals: the
    * classic fraud/data-quality screen. The digit is extracted from the
    * exact cent integer's decimal string (never floor(log10(x)), whose
    * boundary behavior differs across libms); the nine Benford
    * frequencies are embedded as IDENTICAL decimal literals on both
    * engines, so the comparison involves no transcendental evaluation at
    * query time. Scale: linear scan into a <=9-row aggregate. */
  def benford(s: SparkSession, d: String): DataFrame = {
    val benfordOf = (dig: Int) => BenfordConstants.log10Frac(dig)
    val g = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    val bf = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, dig) =>
      when(col("digit") === dig, lit(benfordOf(dig))).otherwise(acc)
    }
    g.withColumn("obs_frac",
        col("n").cast("double") / sum(col("n")).over(wAll).cast("double"))
      .withColumn("benford_frac", bf)
      .withColumn("abs_dev", abs(col("obs_frac") - col("benford_frac")))
      .select("digit", "n", "obs_frac", "benford_frac", "abs_dev")
      .orderBy("digit")
  }

  /** Kaplan-Meier product-limit survival curve for time-to-conversion:
    * a user "converts" at their first high-value purchase (value >= 120,
    * above the ~90th percentile of the heavy-tailed purchase values) and
    * is right-CENSORED at last-seen otherwise (~1/3 of the fixture
    * population — real censoring, not a degenerate all-events curve).
    * Durations are exact whole hours from each user's first event. Steps
    * exist only at death times (d > 0); censored exits still shrink the
    * at-risk set via the cumulative window. The survival product is a
    * SEQUENTIAL double multiply over the time-ordered step factors
    * (collect_list + aggregate HOF here, list + list_reduce in the
    * oracle): every factor is an exact-integer division and every
    * multiply is an ordered IEEE op, so the curve is bit-identical across
    * engines with NO transcendental involved — exp(cumsum(ln)) was tried
    * first and diverged by 1 ulp on 14/86 steps. A zero factor (everyone
    * at risk dies) propagates through the product naturally. Scale: one
    * user-keyed shuffle into per-user rows, then a
    * <=distinct-durations-sized aggregate (the collected factor list is
    * bounded by the step count, never by the corpus). */
  def kaplanMeier(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(min(col("us")).as("t0"), max(col("us")).as("t_last"),
        min(when(col("event_type") === "purchase" && col("value") >= 120.0,
          col("us"))).as("t_conv"))
      .select(
        floor((coalesce(col("t_conv"), col("t_last")) - col("t0")) /
          3600000000L).cast("long").as("t_h"),
        when(col("t_conv").isNotNull, 1L).otherwise(0L).as("ev"))
    val byT = perUser.groupBy("t_h")
      .agg(sum(col("ev")).as("d"),
        (count(lit(1)) - sum(col("ev"))).as("c"))
    val wAll = Window.partitionBy()
    val wBefore = Window.orderBy("t_h")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t_h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(wAll) -
          coalesce(sum(col("d") + col("c")).over(wBefore), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("f",
        (col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double"))
      .withColumn("survival",
        aggregate(collect_list(col("f")).over(wCum), lit(1.0),
          (acc, x) => acc * x))
      .select("t_h", "n_risk", "d", "c", "survival")
      .orderBy("t_h")
  }

  /** Grid-bucketed spatial radius self-join — the canonical
    * never-all-pairs spatial shape. Each sampled customer gets exact
    * integer coordinates in a 1000x1000 km plane (deterministic FNV
    * derivation, documented synthetic geometry); the probe side expands
    * to its 3x3 neighbor cells of the radius-sized grid, joins the build
    * side on its HOME cell (so every ordered pair arises exactly once),
    * and verifies exact integer squared distance <= r^2. Points with no
    * neighbor survive via the final left join. Scale: candidate volume
    * is 9x density-bounded bucket joins, never N^2; at 100 TB the same
    * plan runs as a shuffle equi-join on cell keys (AQE broadcasts the
    * build side only while it fits). All arithmetic is exact int64. */
  def geoGridNeighbors(s: SparkSession, d: String): DataFrame = {
    val r = 25000L // 25 km radius = cell size
    val pts = Tables.customer(s, d)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"),
        (Fnv1a64.ihash31(concat(col("c_custkey").cast("string"), lit("|x")))
          % 1000000L).as("x"),
        (Fnv1a64.ihash31(concat(col("c_custkey").cast("string"), lit("|y")))
          % 1000000L).as("y"))
    val cells = pts
      .withColumn("cx", expr(s"x div $r")).withColumn("cy", expr(s"y div $r"))
    val probe = cells
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("k"), col("x"), col("y"),
        (col("cx") + col("dx")).as("jcx"), (col("cy") + col("dy")).as("jcy"))
    val build = cells.select(col("k").as("bk"), col("x").as("bx"),
      col("y").as("by"), col("cx"), col("cy"))
    val d2 = (col("x") - col("bx")) * (col("x") - col("bx")) +
      (col("y") - col("by")) * (col("y") - col("by"))
    val nb = probe
      .join(build, col("jcx") === col("cx") && col("jcy") === col("cy") &&
        col("k") =!= col("bk"))
      .filter(d2 <= r * r)
      .groupBy("k")
      .agg(count(lit(1)).as("nn"), min(d2).as("md2"))
    pts.join(nb, Seq("k"), "left")
      .select(col("k").as("custkey"), col("x").as("x_m"), col("y").as("y_m"),
        coalesce(col("nn"), lit(0L)).as("n_neighbors"),
        col("md2").as("min_d2"))
      .orderBy("custkey")
  }

  /** One exact ALS half-step (implicit 2-factor model): item factors are
    * fixed small integers (deterministic FNV init in [-3,3]), and each
    * user's factor pair solves the 2x2 ridge normal equations
    * (A + lambda*I) theta = b in closed form. The Gramian sums ride as
    * exact BIGINTs through one orders-lineitem shuffle join plus a
    * user-keyed aggregate — the real ALS data motion — and only the final
    * Cramer's-rule divisions are DOUBLE (exact inputs, lambda > 0 keeps
    * the determinant positive). Scale: per-user state is six scalars;
    * factors never materialize as vectors, so the shuffle carries
    * fixed-width rows regardless of catalog size. */
  def alsStep(s: SparkSession, d: String): DataFrame = {
    val lam = 100L
    val ratings = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        round(col("l_quantity")).cast("long").as("r"),
        (Fnv1a64.ihash31(concat(col("l_partkey").cast("string"), lit("|f1")))
          % 7L - 3L).as("q1"),
        (Fnv1a64.ihash31(concat(col("l_partkey").cast("string"), lit("|f2")))
          % 7L - 3L).as("q2"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    val sums = ratings.groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_ratings"),
        sum(col("q1") * col("q1")).as("s11"),
        sum(col("q1") * col("q2")).as("s12"),
        sum(col("q2") * col("q2")).as("s22"),
        sum(col("r") * col("q1")).as("b1"),
        sum(col("r") * col("q2")).as("b2"))
    val det = (col("s11") + lam).cast("double") *
      (col("s22") + lam).cast("double") -
      col("s12").cast("double") * col("s12").cast("double")
    sums
      .withColumn("theta1",
        ((col("s22") + lam).cast("double") * col("b1").cast("double") -
          col("s12").cast("double") * col("b2").cast("double")) / det)
      .withColumn("theta2",
        ((col("s11") + lam).cast("double") * col("b2").cast("double") -
          col("s12").cast("double") * col("b1").cast("double")) / det)
      .select("custkey", "n_ratings", "theta1", "theta2")
      .orderBy("custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_xml_roundtrip" -> (xmlRoundtrip(_, _)),
    "q_sql_script" -> (sqlScript(_, _)),
    "q_chi2_test" -> (chi2Test(_, _)),
    "q_benford" -> (benford(_, _)),
    "q_kaplan_meier" -> (kaplanMeier(_, _)),
    "geo_grid_neighbors" -> (geoGridNeighbors(_, _)),
    "ml_als_step" -> (alsStep(_, _))
  )

  val oracles: Map[String, String] = Map(
    "q_xml_roundtrip" ->
      """SELECT c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_sql_script" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       CAST(5 AS INT) AS n_chunks,
        |       CASE WHEN count(*) > 1000 THEN 'large' ELSE 'small' END
        |         AS size_label
        |FROM orders""".stripMargin,
    "q_chi2_test" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS hi,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, hi, o,
        |         CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
        |           * CAST(sum(o) OVER (PARTITION BY hi) AS DOUBLE)
        |           / CAST(sum(o) OVER () AS DOUBLE) AS e
        |  FROM cells),
        |c AS (
        |  SELECT event_type, hi, o, e,
        |         (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |           AS contrib
        |  FROM m)
        |SELECT event_type, hi, o, e, contrib,
        |       sum(contrib) OVER (ORDER BY event_type, hi
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |         AS chi2
        |FROM c ORDER BY event_type, hi""".stripMargin,
    "q_benford" ->
      """WITH g AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
        |f AS (
        |  SELECT digit, n,
        |         CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
        |           AS obs_frac,
        |         CAST(CASE digit
        |           WHEN 1 THEN 0.3010299956639812
        |           WHEN 2 THEN 0.17609125905568124
        |           WHEN 3 THEN 0.12493873660829992
        |           WHEN 4 THEN 0.09691001300805642
        |           WHEN 5 THEN 0.07918124604762482
        |           WHEN 6 THEN 0.06694678963061322
        |           WHEN 7 THEN 0.05799194697768673
        |           WHEN 8 THEN 0.05115252244738129
        |           WHEN 9 THEN 0.04575749056067514
        |         END AS DOUBLE) AS benford_frac
        |  FROM g)
        |SELECT digit, n, obs_frac, benford_frac,
        |       abs(obs_frac - benford_frac) AS abs_dev
        |FROM f ORDER BY digit""".stripMargin,
    "q_kaplan_meier" ->
      """WITH u AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t_last,
        |         min(CASE WHEN event_type = 'purchase' AND value >= 120.0
        |                  THEN epoch_us(ts) END) AS t_conv
        |  FROM events GROUP BY user_id),
        |dur AS (
        |  SELECT CAST((coalesce(t_conv, t_last) - t0) // 3600000000
        |              AS BIGINT) AS t_h,
        |         CASE WHEN t_conv IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u),
        |byt AS (
        |  SELECT t_h, CAST(sum(ev) AS BIGINT) AS d,
        |         CAST(count(*) - sum(ev) AS BIGINT) AS c
        |  FROM dur GROUP BY t_h),
        |r AS (
        |  SELECT t_h, d, c,
        |         CAST(sum(d + c) OVER () AS BIGINT)
        |           - CAST(coalesce(sum(d + c) OVER (ORDER BY t_h
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS n_risk
        |  FROM byt),
        |steps AS (
        |  SELECT t_h, n_risk, d, c,
        |         CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
        |  FROM r WHERE d > 0)
        |SELECT t_h, n_risk, d, c,
        |       list_reduce(
        |         list_prepend(CAST(1.0 AS DOUBLE),
        |           list(f) OVER (ORDER BY t_h
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |         (a, b) -> a * b) AS survival
        |FROM steps ORDER BY t_h""".stripMargin,
    "geo_grid_neighbors" -> {
      val hx = OracleSql.fnvIhash31("CAST(c_custkey AS VARCHAR) || '|x'")
      val hy = OracleSql.fnvIhash31("CAST(c_custkey AS VARCHAR) || '|y'")
      s"""WITH p AS (
         |  SELECT c_custkey AS k,
         |         CAST($hx % 1000000 AS BIGINT) AS x,
         |         CAST($hy % 1000000 AS BIGINT) AS y
         |  FROM customer WHERE c_custkey % 3 = 0),
         |nb AS (
         |  SELECT a.k AS k, CAST(count(*) AS BIGINT) AS n_neighbors,
         |         CAST(min((a.x - b.x) * (a.x - b.x)
         |                  + (a.y - b.y) * (a.y - b.y)) AS BIGINT) AS min_d2
         |  FROM p a JOIN p b
         |    ON a.k <> b.k
         |   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |         <= 625000000
         |  GROUP BY a.k)
         |SELECT p.k AS custkey, p.x AS x_m, p.y AS y_m,
         |       CAST(coalesce(nb.n_neighbors, 0) AS BIGINT) AS n_neighbors,
         |       nb.min_d2 AS min_d2
         |FROM p LEFT JOIN nb ON p.k = nb.k ORDER BY custkey""".stripMargin
    },
    "ml_als_step" -> {
      val h1 = OracleSql.fnvIhash31("CAST(l_partkey AS VARCHAR) || '|f1'")
      val h2 = OracleSql.fnvIhash31("CAST(l_partkey AS VARCHAR) || '|f2'")
      s"""WITH rt AS (
         |  SELECT o.o_custkey AS u,
         |         CAST(round(l.l_quantity) AS BIGINT) AS r,
         |         CAST($h1 % 7 AS BIGINT) - 3 AS q1,
         |         CAST($h2 % 7 AS BIGINT) - 3 AS q2
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |s AS (
         |  SELECT u, CAST(count(*) AS BIGINT) AS n_ratings,
         |         CAST(sum(q1 * q1) AS BIGINT) AS s11,
         |         CAST(sum(q1 * q2) AS BIGINT) AS s12,
         |         CAST(sum(q2 * q2) AS BIGINT) AS s22,
         |         CAST(sum(r * q1) AS BIGINT) AS b1,
         |         CAST(sum(r * q2) AS BIGINT) AS b2
         |  FROM rt GROUP BY u)
         |SELECT u AS custkey, n_ratings,
         |       (CAST(s22 + 100 AS DOUBLE) * CAST(b1 AS DOUBLE)
         |          - CAST(s12 AS DOUBLE) * CAST(b2 AS DOUBLE))
         |       / (CAST(s11 + 100 AS DOUBLE) * CAST(s22 + 100 AS DOUBLE)
         |          - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS theta1,
         |       (CAST(s11 + 100 AS DOUBLE) * CAST(b2 AS DOUBLE)
         |          - CAST(s12 AS DOUBLE) * CAST(b1 AS DOUBLE))
         |       / (CAST(s11 + 100 AS DOUBLE) * CAST(s22 + 100 AS DOUBLE)
         |          - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS theta2
         |FROM s ORDER BY custkey""".stripMargin
    }
  )
}

/** The nine Benford frequencies log10(1 + 1/d), materialized once as
  * decimal literals (identical text is embedded in the DuckDB oracle) so
  * neither engine's libm is consulted — see FrontierQueries.benford. */
private[graft] object BenfordConstants {
  val log10Frac: Map[Int, Double] = Map(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)
}
