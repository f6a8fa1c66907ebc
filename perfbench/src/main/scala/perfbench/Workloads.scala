package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ops
import graft.core.IntervalSpec
import graft.similarity.LshAnn
import graft.sources.Layout
import graft.windows.PrevNextSpec

/** One operator call of an iteration. `api` runs the operator, eager jobs
  * included, and returns the frame to materialize; a call that only writes
  * returns None. */
final case class Call(kind: String, api: () => Option[DataFrame])

/** A seeded workload. Its inputs are generated on first use, written under
  * `dir` as parquet and read back, so every call starts from the same
  * files. */
abstract class Workload(val spark: SparkSession, val dir: String,
    val seed: Long) {
  /** The inputs of one iteration, by name. */
  def inputs: Seq[(String, DataFrame)]
  /** Rows of input one iteration reads. */
  def rowsPerIteration: Long
  /** Naive plain-DataFrame/SQL formulation of each checked call, by call
    * kind. Evaluated once per run, untimed. */
  def oracles: Map[String, DataFrame]
  def calls(iteration: Int): Seq[Call]
  /** State an iteration leaves behind, checked untimed like a call result:
    * the call kind it is charged to and the frame to digest. Its oracle is
    * keyed `<kind>:after`. */
  def afterIteration(iteration: Int): Option[(String, DataFrame)] = None
  /** Removes what an iteration wrote, untimed. */
  def cleanupIteration(iteration: Int): Unit = ()
  /** Extra untimed measurements of the set-up (e.g. recall). */
  def extras(): Map[String, Double] = Map.empty
  /** Stored bytes of the input that an iteration rewrites, if any: the base
    * of the write amplification. */
  def inputBytes: Long = 0L

  protected def write(name: String, df: DataFrame): DataFrame = {
    val path = s"$dir/$name.parquet"
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Uniform double in [0, 1): a pure function of (row id, seed, salt), so
    * the inputs do not depend on partitioning. */
  protected def u(salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)
}

object Workload {
  val names: Seq[String] =
    Seq("interval_join", "resample_eav", "op_chain", "ann_lifecycle")

  def apply(name: String, spark: SparkSession, dir: String,
      seed: Long): Workload = name match {
    case "interval_join" => new IntervalJoinWorkload(spark, dir, seed)
    case "resample_eav" => new ResampleEavWorkload(spark, dir, seed)
    case "op_chain" => new OpChainWorkload(spark, dir, seed)
    case "ann_lifecycle" => new AnnLifecycleWorkload(spark, dir, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }
}

/** Keyed containment and overlap joins shaped like the reference's merging
  * benchmark (10k int groups, left:right = 10:1, float64 endpoints in
  * [0, 10000)), plus a keyless single-inequality join. */
final class IntervalJoinWorkload(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  private val nLeft = 200000L
  private val nRight = nLeft / 10
  private val groups = 10000
  private val nKeyLeft = 50000L
  private val nKeyRight = 5000L

  private def grp(salt: Int) = floor(u(salt) * groups).cast("int")
  private def tenths(salt: Int, max: Int) = floor(u(salt) * max * 10) / 10.0

  lazy val left: DataFrame = write("left", spark.range(nLeft).select(
    grp(1).as("g"), tenths(2, 10000).as("s"), tenths(3, 30).as("len"))
    .select(col("g"), col("s"), (col("s") + col("len")).as("e")))
  lazy val right: DataFrame = write("right", spark.range(nRight).select(
    grp(4).as("g"), tenths(5, 10000).as("rs"), tenths(6, 110).as("len"))
    .select(col("g"), col("rs"), (col("rs") + col("len")).as("re")))
  lazy val keyLeft: DataFrame =
    write("key_left", spark.range(nKeyLeft).select(col("id"), u(7).as("x")))
  // P(x <= y) = 0.0255 for y ~ U(0, 0.051): 50k x 5k gives ~6.4M pairs
  lazy val keyRight: DataFrame = write("key_right",
    spark.range(nKeyRight).select(col("id").as("rid"), (u(8) * 0.051).as("y")))

  def inputs: Seq[(String, DataFrame)] =
    Seq("left" -> left, "right" -> right, "key_left" -> keyLeft,
      "key_right" -> keyRight)
  def rowsPerIteration: Long = 2 * (nLeft + nRight) + nKeyLeft + nKeyRight

  private def points = right.select(col("g"), col("rs").as("p"))

  def calls(iteration: Int): Seq[Call] = Seq(
    Call("join.contain", () => Some(Ops.mergeIntervals(left, points,
      IntervalSpec.closed("s", "e"), IntervalSpec.point("p"),
      on = Seq("g"), keepOrder = false).select("g_x", "s", "e", "p"))),
    Call("join.overlap", () => Some(Ops.mergeIntervals(left, right,
      IntervalSpec.closed("s", "e"), IntervalSpec.closed("rs", "re"),
      on = Seq("g"), keepOrder = false).select("g_x", "s", "e", "rs", "re"))),
    Call("join.keyless", () => Some(Ops.mergeIntervals(keyLeft, keyRight,
      IntervalSpec.point("x"), IntervalSpec.unboundedBelow("y"),
      keepOrder = false).select("id", "x", "rid", "y"))))

  def oracles: Map[String, DataFrame] = {
    val (l, r, p) = (left.as("l"), right.as("r"), points.as("r"))
    Map(
      "join.contain" -> l.join(p, col("l.g") === col("r.g") &&
        col("r.p") >= col("l.s") && col("r.p") <= col("l.e"))
        .select(col("l.g"), col("l.s"), col("l.e"), col("r.p")),
      "join.overlap" -> l.join(r, col("l.g") === col("r.g") &&
        col("r.rs") <= col("l.e") && col("r.re") >= col("l.s"))
        .select(col("l.g"), col("l.s"), col("l.e"), col("r.rs"), col("r.re")),
      "join.keyless" -> keyLeft.crossJoin(keyRight)
        .filter(col("x") <= col("y")).select("id", "x", "rid", "y"))
  }
}

/** EAV resampling shaped like the reference's large resampling test:
  * entities x 49 attributes, irregular timestamps, four weekly windows per
  * entity built with `makeWindows`; algebraic and holistic aggregations,
  * plus time-weighted interval resampling. */
final class ResampleEavWorkload(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  private val entities = 400
  private val nObs = 40000L
  private val nIntervals = 8000L
  private val attrs = (0 until 49).map(i => f"a$i%02d")
  private val agg: Map[String, Seq[String]] = attrs.zipWithIndex.map {
    case (a, i) =>
      a -> (Seq("count", "mean") ++
        (if (i < 12) Seq("sum", "min", "max", "std") else Nil) ++
        (if (i < 6) Seq("p50", "nunique", "mode", "mad") else Nil))
  }.toMap
  private val aggCols: Seq[String] =
    agg.toSeq.flatMap { case (a, fs) => fs.map(f => s"${a}_$f") }.sorted
  private val base = "TIMESTAMP '2024-01-01 00:00:00'"
  private val days28 = 28 * 86400

  private def ts(salt: Int): Column =
    timestamp_seconds(lit(1704067200L) + floor(u(salt) * days28))

  lazy val obs: DataFrame = write("obs", spark.range(nObs).select(
    floor(u(1) * entities).cast("long").as("entity"),
    ts(2).as("ts"),
    element_at(array(attrs.map(lit): _*),
      (floor(u(3) * attrs.size) + 1).cast("int")).as("attr"),
    (floor(u(4) * 400) / 4.0).as("value")))
  lazy val intervals: DataFrame = write("intervals",
    spark.range(nIntervals).select(
      floor(u(5) * entities).cast("long").as("entity"),
      ts(6).as("i_start"),
      (floor(u(7) * 3 * 86400) + 60).as("len"),
      (floor(u(8) * 4000) / 4.0).as("v"))
      .select(col("entity"), col("i_start"),
        timestamp_seconds(unix_seconds(col("i_start")) + col("len")).as("i_stop"),
        col("v")))
  lazy val anchors: DataFrame = write("anchors",
    spark.range(entities.toLong).select(col("id").as("entity"),
      explode(sequence(lit(0), lit(3))).as("i"))
      .select(col("entity"),
        (expr(base) + make_dt_interval(col("i") * 7)).as("anchor")))

  def inputs: Seq[(String, DataFrame)] =
    Seq("obs" -> obs, "intervals" -> intervals, "anchors" -> anchors)
  def rowsPerIteration: Long = nObs + nIntervals + 2 * 4 * entities

  private def windows: DataFrame = Ops.makeWindows(
    entity = Some(col("entity")), start = Some(col("anchor")),
    duration = Some(expr("INTERVAL 7 DAYS")))(anchors)

  def calls(iteration: Int): Seq[Call] = Seq(
    Call("resample.eav", () => Some(Ops.resampleEav(obs, windows, agg,
      timeCol = "ts", valueCol = "value", entityCol = Some("entity"),
      attrCol = Some("attr"), wStartCol = Some("win_start"),
      wStopCol = Some("win_stop"))
      .select((Seq("entity", "win_start", "win_stop") ++ aggCols).map(col): _*))),
    Call("resample.interval", () => Some(Ops.resampleInterval(intervals,
      windows, valueCol = "v", entityCol = Some("entity"),
      startCol = Some("i_start"), stopCol = Some("i_stop"),
      attributes = Some(Seq("vsum")), wStartCol = Some("win_start"),
      wStopCol = Some("win_stop"))
      .select("entity", "win_start", "win_stop", "vsum"))))

  def oracles: Map[String, DataFrame] = {
    obs.createOrReplaceTempView("pb_obs")
    intervals.createOrReplaceTempView("pb_intervals")
    anchors.createOrReplaceTempView("pb_anchors")
    val w = s"""w AS (SELECT entity, anchor AS ws,
      |  anchor + INTERVAL 7 DAYS AS wt FROM pb_anchors)""".stripMargin
    def when(a: String, e: String = "j.value") = s"CASE WHEN j.attr = '$a' THEN $e END"
    val exprs = agg.toSeq.flatMap { case (a, fs) => fs.map { f =>
      val c = s"${a}_$f"
      f match {
        case "count" => s"COUNT(${when(a)}) AS $c"
        case "mean" => s"AVG(${when(a)}) AS $c"
        case "sum" => s"SUM(${when(a)}) AS $c"
        case "min" => s"MIN(${when(a)}) AS $c"
        case "max" => s"MAX(${when(a)}) AS $c"
        case "std" => s"CASE WHEN COUNT(${when(a)}) >= 2 THEN STDDEV_SAMP(${when(a)}) END AS $c"
        case "p50" => s"PERCENTILE(${when(a)}, 0.5) AS $c"
        case "nunique" => s"COUNT(DISTINCT ${when(a)}) AS $c"
        case "mad" => s"AVG(${when(a, "ABS(j.value - j.m)")}) AS $c"
        case "mode" => s"MAX(CASE WHEN md.attr = '$a' THEN md.value END) AS $c"
      }
    }}
    val eav = spark.sql(
      s"""WITH $w,
        |j AS (SELECT w.entity, w.ws, w.wt, o.attr, o.value,
        |        AVG(o.value) OVER (PARTITION BY w.entity, w.ws, o.attr) AS m
        |      FROM w LEFT JOIN pb_obs o ON o.entity = w.entity
        |        AND o.ts >= w.ws AND o.ts < w.wt),
        |c AS (SELECT entity, ws, attr, value, COUNT(*) AS n FROM j
        |      WHERE value IS NOT NULL GROUP BY 1, 2, 3, 4),
        |md AS (SELECT entity, ws, attr, value FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY entity, ws, attr
        |          ORDER BY n DESC, value ASC) AS rn FROM c) WHERE rn = 1),
        |a AS (SELECT j.entity, j.ws, j.wt, ${exprs.filterNot(_.contains("md.")).mkString(", ")}
        |      FROM j GROUP BY 1, 2, 3),
        |b AS (SELECT w.entity, w.ws, ${exprs.filter(_.contains("md.")).mkString(", ")}
        |      FROM w LEFT JOIN md ON md.entity = w.entity AND md.ws = w.ws
        |      GROUP BY 1, 2)
        |SELECT a.entity, a.ws AS win_start, a.wt AS win_stop, ${aggCols.mkString(", ")}
        |FROM a JOIN b ON a.entity = b.entity AND a.ws = b.ws""".stripMargin)
    val interval = spark.sql(
      s"""WITH $w
        |SELECT w.entity, w.ws AS win_start, w.wt AS win_stop,
        |  COALESCE(SUM(i.v * (unix_micros(LEAST(i.i_stop, w.wt))
        |      - unix_micros(GREATEST(i.i_start, w.ws)))
        |    / (unix_micros(i.i_stop) - unix_micros(i.i_start))), 0.0) AS vsum
        |FROM w LEFT JOIN pb_intervals i ON i.entity = w.entity
        |  AND i.i_start <= w.wt AND w.ws <= i.i_stop
        |GROUP BY 1, 2, 3""".stripMargin)
    Map("resample.eav" -> eav, "resample.interval" -> interval)
  }
}

/** About ten small calls of the catabra surface on one orders-like frame,
  * each materialized in turn: task time is a minority of the wall here. */
final class OpChainWorkload(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  private val nRows = 10000L
  private val customers = 700

  lazy val orders: DataFrame = write("orders", spark.range(nRows).select(
    col("id").as("okey"),
    floor(u(1) * customers).cast("long").as("ckey"),
    floor(u(2) * 2000).as("day"),
    (floor(u(3) * 100000) / 100.0).as("price"),
    element_at(array(lit("A"), lit("N"), lit("R")),
      (floor(u(4) * 3) + 1).cast("int")).as("flag"),
    when(u(5) < 0.5, lit("F")).otherwise(lit("O")).as("status"))
    .withColumn("v", when(col("okey") % 5 === 0, lit(null))
      .otherwise(col("price"))))

  def inputs: Seq[(String, DataFrame)] = Seq("orders" -> orders)
  def rowsPerIteration: Long = 10 * nRows

  private def windows(days: Int) = orders.select(col("okey"), col("ckey"),
    col("day").as("win_start"), (col("day") + days).as("win_stop"))

  def calls(iteration: Int): Seq[Call] = Seq(
    Call("chain.containing", () => Some(Ops.findContainingInterval(
      windows(15), orders.select("okey", "ckey", "day"), Seq("day"),
      on = Seq("ckey"), startCol = Some("win_start"),
      stopCol = Some("win_stop"), intervalIdCol = Some("okey"))
      .select("okey", "day_first", "day_last"))),
    Call("chain.combine_union", () => Some(Ops.combineIntervals(windows(30),
      "win_start", Some("win_stop"), groupBy = Seq("ckey"), nMin = 1)
      .select("ckey", "win_start", "win_stop"))),
    Call("chain.combine_gaps", () => Some(Ops.combineIntervals(windows(30),
      "win_start", Some("win_stop"), groupBy = Seq("ckey"), nMin = 0,
      nMax = Some(0)).select("ckey", "win_start", "win_stop"))),
    Call("chain.group_intervals", () => Some(Ops.groupIntervals(windows(30),
      "win_start", Some("win_stop"), groupBy = Seq("ckey"),
      distance = lit(5.0), tieBreakCols = Seq("okey"))
      .select("okey", "interval_group"))),
    Call("chain.prev_next", () => Some(Ops.prevNextValues(orders,
      sortBy = Seq("day", "okey"), groupBy = Seq("ckey"),
      columns = Map("price" -> PrevNextSpec(prevName = Some("prev_price"),
        nextName = Some("next_price"))),
      firstIndicatorName = Some("is_first"),
      lastIndicatorName = Some("is_last"))
      .select("okey", "prev_price", "next_price", "is_first", "is_last"))),
    Call("chain.impute_ffill", () => Some(Ops.impute(orders, Seq("v"),
      "ffill", groupBy = Seq("ckey"), orderBy = Seq(col("day"), col("okey")),
      limit = Some(2)).select("okey", "v"))),
    Call("chain.impute_linear", () => Some(Ops.impute(orders, Seq("v"),
      "linear", groupBy = Seq("ckey"),
      orderBy = Seq(col("day"), col("okey"))).select("okey", "v"))),
    Call("chain.grouped_mode", () => Some(
      Ops.groupedMode(orders, Seq("ckey"), "flag")
        .select("ckey", "mode", "count"))),
    Call("chain.factorize", () => Some(
      Ops.factorize(orders, Seq("flag", "status")).select("okey", "code"))),
    Call("chain.partition_series", () => Some(
      Ops.partitionSeries(orders, Seq("ckey"), budget = 1000L)
        .select("ckey", "partition_id"))))

  def oracles: Map[String, DataFrame] = {
    orders.createOrReplaceTempView("pb_orders")
    def combine(flag: String) = spark.sql(
      s"""WITH ev AS (
        |  SELECT ckey AS g, day AS t, 1 AS d FROM pb_orders
        |  UNION ALL SELECT ckey, day + 30, -1 FROM pb_orders),
        |c AS (SELECT g, t, SUM(d) AS d FROM ev GROUP BY g, t),
        |w AS (SELECT g, t,
        |        SUM(d) OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING) AS depth,
        |        LEAD(t) OVER (PARTITION BY g ORDER BY t) AS nt FROM c),
        |f AS (SELECT g, t, nt, ($flag AND nt IS NOT NULL) AS flag FROM w),
        |f2 AS (SELECT *, COALESCE(LAG(flag) OVER (PARTITION BY g ORDER BY t), FALSE) AS pflag FROM f),
        |sg AS (SELECT *, SUM(CASE WHEN flag AND NOT pflag THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING) AS seg FROM f2)
        |SELECT g AS ckey, MIN(t) AS win_start, MAX(nt) AS win_stop
        |FROM sg WHERE flag GROUP BY g, seg HAVING MIN(t) < MAX(nt)""".stripMargin)
    val impute =
      """r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ckey ORDER BY day, okey) AS rn
        |      FROM pb_orders),
        |f AS (SELECT *,
        |  LAST_VALUE(v, true) OVER (PARTITION BY ckey ORDER BY rn
        |    ROWS UNBOUNDED PRECEDING) AS pv,
        |  MAX(CASE WHEN v IS NOT NULL THEN rn END) OVER (PARTITION BY ckey ORDER BY rn
        |    ROWS UNBOUNDED PRECEDING) AS prn,
        |  FIRST_VALUE(v, true) OVER (PARTITION BY ckey ORDER BY rn
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  MIN(CASE WHEN v IS NOT NULL THEN rn END) OVER (PARTITION BY ckey ORDER BY rn
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nrn
        |  FROM r)""".stripMargin
    Map(
      "chain.containing" -> spark.sql(
        """SELECT p.okey, COALESCE(MIN(i.okey), -1) AS day_first,
          |       COALESCE(MAX(i.okey), -1) AS day_last
          |FROM pb_orders p LEFT JOIN pb_orders i ON p.ckey = i.ckey
          | AND p.day >= i.day AND p.day <= i.day + 15
          |GROUP BY p.okey""".stripMargin),
      "chain.combine_union" -> combine("depth >= 1"),
      "chain.combine_gaps" -> combine("depth = 0"),
      "chain.group_intervals" -> spark.sql(
        """WITH m AS (SELECT *, MAX(day + 30) OVER (PARTITION BY ckey ORDER BY day, okey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm FROM pb_orders),
          |n AS (SELECT *, CASE WHEN cm IS NULL OR day > cm + 5 THEN 1 ELSE 0 END AS newc FROM m)
          |SELECT okey, CAST(SUM(newc) OVER (ORDER BY ckey, day, okey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS interval_group
          |FROM n""".stripMargin),
      "chain.prev_next" -> spark.sql(
        """SELECT okey, LAG(price) OVER w AS prev_price, LEAD(price) OVER w AS next_price,
          |  ROW_NUMBER() OVER w = 1 AS is_first,
          |  ROW_NUMBER() OVER (PARTITION BY ckey ORDER BY day DESC, okey DESC) = 1 AS is_last
          |FROM pb_orders WINDOW w AS (PARTITION BY ckey ORDER BY day, okey)""".stripMargin),
      "chain.impute_ffill" -> spark.sql(
        s"""WITH $impute SELECT okey,
          |  CASE WHEN v IS NOT NULL THEN v WHEN rn - prn <= 2 THEN pv END AS v FROM f""".stripMargin),
      "chain.impute_linear" -> spark.sql(
        s"""WITH $impute SELECT okey,
          |  CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL OR nv IS NULL THEN NULL
          |       ELSE pv + (nv - pv) * ((rn - prn) / CAST(nrn - prn AS DOUBLE)) END AS v
          |FROM f""".stripMargin),
      "chain.grouped_mode" -> spark.sql(
        """WITH c AS (SELECT ckey, flag, COUNT(*) AS n FROM pb_orders GROUP BY 1, 2)
          |SELECT ckey, flag AS mode, n AS count FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ckey ORDER BY n DESC, flag) AS rn
          |  FROM c) WHERE rn = 1""".stripMargin),
      "chain.factorize" -> spark.sql(
        """SELECT okey, DENSE_RANK() OVER (ORDER BY flag, status) - 1 AS code
          |FROM pb_orders""".stripMargin),
      "chain.partition_series" -> spark.sql(
        """WITH s AS (SELECT ckey, COUNT(*) AS n FROM pb_orders GROUP BY 1),
          |c AS (SELECT ckey, n, SUM(LEAST(n, 1000)) OVER (ORDER BY ckey
          |        ROWS UNBOUNDED PRECEDING) AS cum FROM s)
          |SELECT ckey, CAST(FLOOR((cum - 1) / 1000.0) AS BIGINT) AS partition_id
          |FROM c""".stripMargin))
  }
}

/** The LSH index lifecycle on clustered 64-d embeddings: write, three
  * appends, compact, search. Each iteration builds in a fresh directory
  * that is deleted afterwards. */
final class AnnLifecycleWorkload(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  private val nVectors = 4000L
  private val dim = 64
  private val clusters = 50
  private val nQueries = 10L
  // 2 tables x 2^4 buckets: few enough directories that one iteration
  // writes a few hundred files, not a few thousand
  private val (bits, tables, k) = (4, 2, 5)

  lazy val corpus: DataFrame = write("corpus", spark.range(nVectors).select(
    col("id").as("vec_id"), floor(u(1) * clusters).cast("long").as("c"))
    .select(col("vec_id"), array((0 until dim).map { d =>
      (u(100 + d, col("c")) - 0.5) + (u(200 + d, col("vec_id")) - 0.5) * 0.3
    }: _*).as("embedding")))

  def inputs: Seq[(String, DataFrame)] = Seq("corpus" -> corpus)
  def rowsPerIteration: Long = nVectors + nQueries

  override lazy val inputBytes: Long = Files.sizeOf(s"$dir/corpus.parquet")

  private def indexPath(iteration: Int) = s"$dir/tmp/index-$iteration"
  private def queries = corpus.filter(col("vec_id") < nQueries)

  private def search(path: String) = LshAnn.searchIndex(spark, path, queries,
    "vec_id", "embedding", k = k, numBits = bits, numTables = tables,
    multiProbe = 2).select("query_id", "neighbor_id", "cosine", "rank")

  def calls(iteration: Int): Seq[Call] = {
    val path = indexPath(iteration)
    Seq(
      Call("ann.write", () => {
        LshAnn.writeIndex(corpus.filter(col("vec_id") % 5 =!= 0), "vec_id",
          "embedding", path, numBits = bits, numTables = tables)
        None
      })) ++ Seq(0, 5, 10).map(slice => Call("ann.append", () => {
        LshAnn.appendIndex(corpus.filter(col("vec_id") % 15 === slice),
          "vec_id", "embedding", path, numBits = bits, numTables = tables)
        None
      })) ++ Seq(
      Call("ann.compact", () => {
        Layout.compact(spark, path, partitionBy = Seq("tbl", "sig"),
          sortBy = Seq("neighbor_id"), maxFragments = 1)
        None
      }),
      Call("ann.search", () => Some(search(path))))
  }

  /** A single write over the whole corpus: the appended and compacted
    * index must hold exactly its rows, and searching it gives recall. */
  private lazy val rebuilt: String = {
    val path = s"$dir/rebuilt"
    LshAnn.writeIndex(corpus, "vec_id", "embedding", path,
      numBits = bits, numTables = tables)
    path
  }

  private def indexRows(path: String) =
    Layout.read(spark, path).select("tbl", "sig", "neighbor_id", "cv")

  override def afterIteration(iteration: Int): Option[(String, DataFrame)] =
    Some("ann.compact" -> indexRows(indexPath(iteration)))

  override def cleanupIteration(iteration: Int): Unit =
    Files.delete(indexPath(iteration))

  /** The search result is approximate: it is checked against itself
    * across iterations, and its recall against brute force is reported. */
  def oracles: Map[String, DataFrame] =
    Map("ann.compact:after" -> indexRows(rebuilt))

  /** recall@k of the search against a brute-force cosine top-k over the
    * whole corpus, self excluded. */
  override def extras(): Map[String, Double] = {
    val exact = queries.select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (expr(
        "aggregate(zip_with(q, v, (a, b) -> a * b), 0D, (s, x) -> s + x)") /
        sqrt(expr("aggregate(q, 0D, (s, x) -> s + x * x)") *
          expr("aggregate(v, 0D, (s, x) -> s + x * x)"))).as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
    val hits = search(rebuilt).join(exact, Seq("query_id", "neighbor_id")).count()
    Map("ann.recall_at_k" -> hits.toDouble / (nQueries * k))
  }
}

object Files {
  def sizeOf(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(g => sizeOf(g.getPath)).sum
    else f.length
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(g => delete(g.getPath))
    f.delete()
  }

  def isEmptyDir(path: String): Boolean =
    Option(new java.io.File(path).list).forall(_.isEmpty)
}
