package graft.queries

import graft.fit.{C45, C45Params}
import graft.meta.{AttrMeta, C45Schema}
import graft.sources.Tables
import graft.stats.InfoStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SURVEY.md §2 operator inventory as named queries over the
  * driver testdata, each paired with an equivalent DuckDB oracle SQL
  * (driver contract — see SparkEntry).
  *
  * Conventions for oracle hash-parity:
  *  - every aggregate / computed column is aliased identically in the
  *    DataFrame code and the SQL;
  *  - every query ends with a total deterministic ORDER BY;
  *  - floating outputs are `round(x, 6)` on BOTH sides (float noise from
  *    differing summation order / libm rounding is << 1e-6);
  *  - exact money sums go through DECIMAL(18,2) then cast to double.
  *
  * The C4.5 "training view" of the testdata (FIXTURES.md §2): table
  * `lineitem`, categorical attrs `l_returnflag` + `l_linenumber` (cast
  * to string), numeric attrs `l_quantity`/`l_discount`/`l_tax`/
  * `l_extendedprice`, class `l_linestatus` (labels F, O).
  */
object C45Queries {

  private val ClassLabels = Seq("F", "O")
  // qFitDeep's declared label set (sorted): hierarchical —
  // quantity side, then returnflag inside L, tax inside LA, discount
  // inside H — declaring it skips the discovery distinct job
  private val DeepClassLabels: Seq[String] =
    Seq("Hd0", "Hd1", "LAt0", "LAt1", "LN", "LR")
  private def li(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "lineitem")
  private def r6(c: Column): Column = round(c, 6)

  /** SQL fragment: x·log2(x) with 0·log2(0)=0 (InfoStats.plogp). */
  private def plogpSql(x: String): String =
    s"(CASE WHEN $x > 0 THEN $x * log2($x) ELSE 0 END)"

  // ---- S1: columnar scan + projection (pushdown visible in .explain) ----
  def qScan(s: SparkSession, dir: String): DataFrame =
    li(s, dir).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  val qScanSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- F1: conjunctive rule-predicate filter (typed numeric compare) ----
  def qFilter(s: SparkSession, dir: String): DataFrame = {
    val rule = graft.model.Rule(Vector(
      0 -> graft.model.CatEq("A"),
      1 -> graft.model.NumLE(25.0),
      2 -> graft.model.NumGT(0.05)))
    li(s, dir)
      .filter(rule.toPredicate(Seq("l_returnflag", "l_quantity", "l_discount")))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")
  }
  val qFilterSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_discount
      |FROM lineitem
      |WHERE l_returnflag = 'A' AND l_quantity <= 25.0 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- A1: count ----
  def qCount(s: SparkSession, dir: String): DataFrame =
    li(s, dir).agg(count(lit(1)).as("n"))
  val qCountSql: String = "SELECT count(*) AS n FROM lineitem"

  // ---- A2: per-class counts ----
  def qClassCounts(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy(col("l_linestatus").as("cls"))
      .agg(count(lit(1)).as("cnt")).orderBy("cls")
  val qClassCountsSql: String =
    "SELECT l_linestatus AS cls, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1"

  // ---- A3 / X1: contingency table (shuffle with partial aggregation) ----
  def qContingency(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy(col("l_returnflag").as("val"), col("l_linestatus").as("cls"))
      .agg(count(lit(1)).as("cnt")).orderBy("val", "cls")
  val qContingencySql: String =
    """SELECT l_returnflag AS val, l_linestatus AS cls, count(*) AS cnt
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- F2: candidate expansion flatMap (numeric attrs), aggregated ----
  def qExpand(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .select(col("l_linestatus").as("cls"),
        explode(map(
          lit("l_quantity"), col("l_quantity").cast("double"),
          lit("l_discount"), col("l_discount").cast("double"),
          lit("l_tax"), col("l_tax").cast("double"))).as(Seq("aid", "val")))
      .groupBy("aid", "val", "cls").agg(count(lit(1)).as("cnt"))
      .orderBy("aid", "val", "cls")
  val qExpandSql: String =
    """SELECT aid, val, cls, cnt FROM (
      |  SELECT 'l_quantity' AS aid, l_quantity AS val, l_linestatus AS cls, count(*) AS cnt
      |    FROM lineitem GROUP BY 2, 3
      |  UNION ALL
      |  SELECT 'l_discount', l_discount, l_linestatus, count(*) FROM lineitem GROUP BY 2, 3
      |  UNION ALL
      |  SELECT 'l_tax', l_tax, l_linestatus, count(*) FROM lineitem GROUP BY 2, 3
      |) ORDER BY aid, val, cls""".stripMargin

  // ---- A4: class entropy (scalar) ----
  def qEntropy(s: SparkSession, dir: String): DataFrame = {
    val counts = li(s, dir).groupBy("l_linestatus").agg(count(lit(1)).as("cnt"))
    InfoStats.entropyOfCounts(counts, Seq.empty)
      .select(r6(col("entropy")).as("entropy"))
  }
  val qEntropySql: String =
    s"""WITH c AS (SELECT count(*) AS cnt FROM lineitem GROUP BY l_linestatus)
       |SELECT round(log2(sum(cnt)) - sum(${plogpSql("cnt")}) / sum(cnt), 6) AS entropy
       |FROM c""".stripMargin

  // ---- A5: split information (entropy of attr-value marginals) ----
  def qSplitInfo(s: SparkSession, dir: String): DataFrame = {
    val counts = li(s, dir).groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    InfoStats.entropyOfCounts(counts, Seq.empty)
      .select(r6(col("entropy")).as("split_info"))
  }
  val qSplitInfoSql: String =
    s"""WITH c AS (SELECT count(*) AS cnt FROM lineitem GROUP BY l_returnflag)
       |SELECT round(log2(sum(cnt)) - sum(${plogpSql("cnt")}) / sum(cnt), 6) AS split_info
       |FROM c""".stripMargin

  // ---- A6: conditional entropy H(class | l_returnflag) ----
  def qCondEntropy(s: SparkSession, dir: String): DataFrame = {
    val cells = li(s, dir)
      .groupBy(col("l_returnflag").as("val"), col("l_linestatus").as("cls"))
      .agg(count(lit(1)).as("cnt"))
    val perVal = cells.groupBy("val")
      .agg(sum("cnt").as("nv"), sum(InfoStats.plogp(col("cnt"))).as("s"))
    perVal.agg(
      r6((sum(InfoStats.plogp(col("nv"))) - sum(col("s"))) / sum(col("nv")))
        .as("cond_entropy"))
  }
  val qCondEntropySql: String =
    s"""WITH cells AS (
       |  SELECT l_returnflag AS val, l_linestatus AS cls, count(*) AS cnt
       |  FROM lineitem GROUP BY 1, 2),
       |pv AS (SELECT val, sum(cnt) AS nv, sum(${plogpSql("cnt")}) AS s FROM cells GROUP BY 1)
       |SELECT round((sum(${plogpSql("nv")}) - sum(s)) / sum(nv), 6) AS cond_entropy
       |FROM pv""".stripMargin

  // ---- A7: full gain-ratio table over the categorical attrs ----
  def qGainRatio(s: SparkSession, dir: String): DataFrame = {
    val cells = li(s, dir)
      .select(col("l_linestatus").as("cls"),
        explode(map(
          lit("l_returnflag"), col("l_returnflag"),
          lit("l_linenumber"), col("l_linenumber").cast("string"))).as(Seq("attr", "val")))
      .groupBy("attr", "val", "cls").agg(count(lit(1)).as("cnt"))
    InfoStats.categoricalSplitStats(cells, Seq("attr"))
      .select(col("attr"), col("n").cast("long").as("n"),
        r6(col("info")).as("info"), r6(col("split_info")).as("split_info"),
        r6(col("cond_entropy")).as("cond_entropy"), r6(col("gain")).as("gain"),
        r6(col("gain_ratio")).as("gain_ratio"))
      .orderBy("attr")
  }
  val qGainRatioSql: String = {
    val info = "(log2(v.n) - c.s_cls / v.n)"
    val splitInfo = "(log2(v.n) - v.s_val / v.n)"
    val condE = "((v.s_val - v.s_cell) / v.n)"
    s"""WITH cells AS (
       |  SELECT 'l_returnflag' AS attr, l_returnflag AS val, l_linestatus AS cls, count(*) AS cnt
       |    FROM lineitem GROUP BY 2, 3
       |  UNION ALL
       |  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR), l_linestatus, count(*)
       |    FROM lineitem GROUP BY 2, 3),
       |perval AS (
       |  SELECT attr, val, sum(cnt) AS nv, sum(${plogpSql("cnt")}) AS s_cell_v
       |  FROM cells GROUP BY 1, 2),
       |percls AS (SELECT attr, cls, sum(cnt) AS mc FROM cells GROUP BY 1, 2),
       |vagg AS (
       |  SELECT attr, sum(nv) AS n, sum(${plogpSql("nv")}) AS s_val, sum(s_cell_v) AS s_cell
       |  FROM perval GROUP BY 1),
       |cagg AS (SELECT attr, sum(${plogpSql("mc")}) AS s_cls FROM percls GROUP BY 1)
       |SELECT v.attr AS attr, CAST(v.n AS BIGINT) AS n,
       |  round($info, 6) AS info,
       |  round($splitInfo, 6) AS split_info,
       |  round($condE, 6) AS cond_entropy,
       |  round($info - $condE, 6) AS gain,
       |  round(CASE WHEN abs($splitInfo) < 1e-12
       |        THEN (CASE WHEN abs($info) < 1e-12 THEN 0 ELSE 0.00001 END)
       |        ELSE ($info - $condE) / $splitInfo END, 6) AS gain_ratio
       |FROM vagg v JOIN cagg c USING (attr) ORDER BY attr""".stripMargin
  }

  // ---- O2: one-pass numeric boundary scan (window) for l_quantity ----
  def qSplitScan(s: SparkSession, dir: String): DataFrame = {
    // the attr name is a LITERAL here, so Spark 4's
    // EliminateWindowPartitions folds the window back to a single
    // partition and logs WindowExec's no-partition warning — expected
    // and owned (see InfoStats.boundaryScan): the window input is the
    // distinct-value table, ~50 rows for l_quantity, not raw lineitem
    val df = li(s, dir).select(lit("l_quantity").as("attr"),
      col("l_quantity").as("val"), col("l_linestatus").as("cls"))
    InfoStats.boundaryScan(df, Seq("attr"), ClassLabels)
      .select(col("boundary"), col("left_n"), col("right_n"),
        r6(col("cond_entropy")).as("cond_entropy"),
        r6(col("gain")).as("gain"), r6(col("gain_ratio")).as("gain_ratio"))
      .orderBy("boundary")
  }
  private def scanSql(valExpr: String, table: String = "lineitem"): String =
    s"""SELECT v AS boundary, CAST(lfc + loc AS BIGINT) AS left_n,
       |  CAST(tfc + toc - lfc - loc AS BIGINT) AS right_n,
       |  CAST(tfc + toc AS BIGINT) AS n, tfc, toc, lfc, loc
       |FROM (
       |  SELECT v,
       |    sum(cF) OVER (ORDER BY v) AS lfc, sum(cO) OVER (ORDER BY v) AS loc,
       |    sum(cF) OVER () AS tfc, sum(cO) OVER () AS toc
       |  FROM (
       |    SELECT $valExpr AS v,
       |      count(*) FILTER (WHERE l_linestatus = 'F') AS cF,
       |      count(*) FILTER (WHERE l_linestatus = 'O') AS cO
       |    FROM $table GROUP BY 1))""".stripMargin
  val qSplitScanSql: String = {
    val sLeft = s"(${plogpSql("lfc")} + ${plogpSql("loc")})"
    val sRight = s"(${plogpSql("(tfc - lfc)")} + ${plogpSql("(toc - loc)")})"
    val sTot = s"(${plogpSql("tfc")} + ${plogpSql("toc")})"
    val condE = s"(((left_n * log2(left_n) - $sLeft) + (right_n * log2(right_n) - $sRight)) / n)"
    val info = s"(log2(n) - $sTot / n)"
    val splitInfo = s"(log2(n) - (${plogpSql("left_n")} + ${plogpSql("right_n")}) / n)"
    s"""SELECT boundary, left_n, right_n,
       |  round($condE, 6) AS cond_entropy,
       |  round($info - $condE, 6) AS gain,
       |  round(($info - $condE) / $splitInfo, 6) AS gain_ratio
       |FROM (${scanSql("CAST(l_quantity AS DOUBLE)")})
       |WHERE right_n > 0 AND left_n >= n * 0.1 AND right_n >= n * 0.1
       |ORDER BY boundary""".stripMargin
  }

  // ---- O2+O3 composed: best boundary per numeric attribute (the
  //      whole split decision, windows partitioned per attr) ----
  def qBestSplit(s: SparkSession, dir: String): DataFrame = {
    val numDf = li(s, dir).select(col("l_linestatus").as("cls"),
      explode(map(
        lit("l_quantity"), col("l_quantity").cast("double"),
        lit("l_discount"), col("l_discount").cast("double"),
        lit("l_tax"), col("l_tax").cast("double"))).as(Seq("aid", "val")))
    InfoStats.bestSplits(
      InfoStats.boundaryScan(numDf, Seq("aid"), ClassLabels), Seq("aid"))
      .select(col("aid"), col("boundary"), col("left_n"), col("right_n"),
        r6(col("cond_entropy")).as("cond_entropy"),
        r6(col("gain")).as("gain"), r6(col("gain_ratio")).as("gain_ratio"))
      .orderBy("aid")
  }
  val qBestSplitSql: String = {
    val sLeft = s"(${plogpSql("lfc")} + ${plogpSql("loc")})"
    val sRight = s"(${plogpSql("(tfc - lfc)")} + ${plogpSql("(toc - loc)")})"
    val sTot = s"(${plogpSql("tfc")} + ${plogpSql("toc")})"
    val condE = s"(((left_n * log2(left_n) - $sLeft) + (right_n * log2(right_n) - $sRight)) / n)"
    val info = s"(log2(n) - $sTot / n)"
    val splitInfo = s"(log2(n) - (${plogpSql("left_n")} + ${plogpSql("right_n")}) / n)"
    def scored(aid: String) =
      s"""SELECT '$aid' AS aid, boundary, left_n, right_n,
         |  $condE AS ce, $info - $condE AS g, ($info - $condE) / $splitInfo AS gr
         |FROM (${scanSql(s"CAST($aid AS DOUBLE)")})
         |WHERE right_n > 0 AND left_n >= n * 0.1 AND right_n >= n * 0.1""".stripMargin
    s"""WITH u AS (
       |${Seq("l_quantity", "l_discount", "l_tax").map(scored).mkString("\n UNION ALL\n")}
       |)
       |SELECT aid, boundary, left_n, right_n, round(ce, 6) AS cond_entropy,
       |  round(g, 6) AS gain, round(gr, 6) AS gain_ratio
       |FROM (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY ce, boundary) AS rn FROM u)
       |WHERE rn = 1 ORDER BY aid""".stripMargin
  }

  // ---- O3: deterministic per-group top-1 (argmax) ----
  def qArgmax(s: SparkSession, dir: String): DataFrame = {
    // per-group argmax as ONE partially-aggregated min(struct(...)):
    // the lexicographic struct order (-price, orderkey, linenumber)
    // encodes exactly the former window's (price DESC, orderkey,
    // linenumber) total order, so the selected row — and every output
    // byte — is identical, but the map side reduces each partition to
    // ≤ |groups| rows and the shuffle carries 3 structs instead of
    // sorting the whole corpus inside 3 window partitions (the
    // single-task-per-group sort is the actual 100 TB hazard here).
    // Negating the decimal is exact; the original price rides along.
    li(s, dir)
      .groupBy("l_returnflag")
      .agg(min(struct((-col("l_extendedprice")).as("np"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))).as("m"))
      .select(col("l_returnflag"), col("m.l_orderkey"),
        col("m.l_linenumber"), col("m.l_extendedprice"))
      .orderBy("l_returnflag")
  }
  val qArgmaxSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  // ---- O1: distributed sort + limit ----
  def qSort(s: SparkSession, dir: String): DataFrame =
    li(s, dir).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  val qSortSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  // ---- U1: scalar function surface (concat/upper/substr/log2) ----
  def qScalar(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        concat_ws("&", col("p_brand"), col("p_type")).as("brand_type"),
        upper(col("p_name")).as("uname"),
        r6(log2(col("p_size"))).as("log2_size"),
        substring(col("p_type"), 1, 5).as("type5"))
      .orderBy("p_partkey")
  val qScalarSql: String =
    """SELECT p_partkey, concat_ws('&', p_brand, p_type) AS brand_type,
      |  upper(p_name) AS uname, round(log2(p_size), 6) AS log2_size,
      |  substr(p_type, 1, 5) AS type5
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- joins + exact decimal aggregation (engine surface beyond the
  //      single-table reference; broadcast dims) ----
  def qJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir)
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }
  val qJoinAggSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST((1 - l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---- grouping sets: rollup + cube (engine surface; the reference
  //      has no grouping sets — SURVEY.md §2 absent categories) ----
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    // spark.sql surface: DataFrame-API rollup over a multi-join child
    // trips Spark's ambiguous-self-join detector (the rollup Expand
    // duplicates the grouping attribute), so this query exercises the
    // SQL entry point instead — same Catalyst plan underneath
    li(s, dir).createOrReplaceTempView("lineitem")
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
    s.sql(
      """SELECT /*+ BROADCAST(customer), BROADCAST(nation) */
        |  coalesce(n_name, 'ALL') AS n_name,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name) ORDER BY 1""".stripMargin)
  }
  val qRollupSql: String =
    """SELECT coalesce(n_name, 'ALL') AS n_name,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name) ORDER BY 1""".stripMargin

  def qCube(s: SparkSession, dir: String): DataFrame =
    li(s, dir).cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_price"))
      .orderBy("rf", "ls")
  val qCubeSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls, count(*) AS cnt,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY 1, 2""".stripMargin

  // ---- distinct aggregates ----
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
  val qDistinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- set operations ----
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
    f.except(open).orderBy("o_custkey")
  }
  val qSetOpsSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  // ---- multiset (ALL) set operations: EXCEPT ALL / INTERSECT ALL
  //      keep duplicates with bag semantics (count difference / min),
  //      unlike q_setops' distinct EXCEPT; summarized per value so the
  //      multiplicities are visible ----
  def qSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val l = o.filter(col("o_orderstatus") === "F").select("o_orderpriority")
    val r = o.filter(col("o_orderstatus") === "O").select("o_orderpriority")
    val ea = l.exceptAll(r).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_except_all"))
    val ia = l.intersectAll(r).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_intersect_all"))
    ea.join(ia, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"))
      .orderBy("o_orderpriority")
  }
  val qSetOpsAllSql: String =
    """WITH l AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
      |r AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
      |ea AS (SELECT o_orderpriority, count(*) AS n_except_all
      |  FROM (SELECT * FROM l EXCEPT ALL SELECT * FROM r) GROUP BY 1),
      |ia AS (SELECT o_orderpriority, count(*) AS n_intersect_all
      |  FROM (SELECT * FROM l INTERSECT ALL SELECT * FROM r) GROUP BY 1)
      |SELECT o_orderpriority,
      |  coalesce(n_except_all, 0) AS n_except_all,
      |  coalesce(n_intersect_all, 0) AS n_intersect_all
      |FROM ea FULL JOIN ia USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  // ---- model scoring (the prediction phase the reference lacks): a
  //      FIXED rule set compiled to one flat CASE WHEN — SQL-oracled,
  //      which also oracles multi-rule predicate compilation (F1) ----
  /** Fixed demo model for the scoring/evaluation queries. */
  private lazy val demoModel: graft.fit.C45Model = {
    import graft.meta.{AttrMeta, C45Schema}
    import graft.model.Rule
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true)),
      "l_linestatus", ClassLabels)
    graft.fit.C45Model(schema, Vector(
      Rule.decode("0,A&1,<=25.0:F"),
      Rule.decode("0,A&1,>25.0:O"),
      Rule.decode("0,N&2,<=0.05:O"),
      Rule.decode("0,N&2,>0.05:F"),
      Rule.decode("0,R:O")), majority = "O")
  }

  def qPredict(s: SparkSession, dir: String): DataFrame = {
    demoModel.transform(li(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("prediction"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- fractional-weight scoring under MISSING values: the demo
  //      model with FIXED leaf masses (A-subtree 400 = 300 le + 100 gt,
  //      N-subtree 400 = 200 + 200, R 200 — so the branch fractions
  //      are exact constants 0.4/0.4/0.2, 0.75/0.25, 0.5/0.5), scored
  //      over lineitem with two deterministic null injections. Because
  //      the model AND its masses are fixed, Quinlan's weighted vote is
  //      plain arithmetic the DuckDB oracle replays exactly — same
  //      factor CASEs, same left-assoc products/sums, same tie rule
  //      (w_F >= w_O prefers the lexicographically smaller class) —
  //      a REAL SQL oracle for the missing-value classifier, no golden
  //      needed. Rows with neither column nulled take the one-hot path
  //      and reproduce q_predict's labels bit-for-bit. ----
  private lazy val demoModelM: graft.fit.C45Model =
    demoModel.copy(leafMass = Vector(300000000L, 100000000L,
      200000000L, 200000000L, 200000000L))

  def qPredictMissing(s: SparkSession, dir: String): DataFrame = {
    demoModelM.transformFractional(
      li(s, dir)
        .withColumn("l_returnflag",
          when(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(5)) === 0,
            lit(null).cast("string")).otherwise(col("l_returnflag")))
        .withColumn("l_quantity",
          when(pmod(col("l_orderkey") * 11 + col("l_linenumber"), lit(7)) === 0,
            lit(null).cast("double")).otherwise(col("l_quantity"))))
      .select(col("l_orderkey"), col("l_linenumber"), col("prediction"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  val qPredictMissingSql: String =
    """WITH t AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CASE WHEN (l_orderkey * 7 + l_linenumber) % 5 = 0 THEN NULL
      |         ELSE l_returnflag END AS rf,
      |    CASE WHEN (l_orderkey * 11 + l_linenumber) % 7 = 0 THEN NULL
      |         ELSE l_quantity END AS q,
      |    l_discount AS d
      |  FROM lineitem),
      |w AS (
      |  SELECT l_orderkey, l_linenumber,
      |    ((1.0 * (CASE WHEN rf IS NULL THEN 0.4
      |             ELSE (CASE WHEN rf = 'A' THEN 1.0 ELSE 0.0 END) END))
      |        * (CASE WHEN q IS NULL THEN 0.75
      |           ELSE (CASE WHEN q <= 25.0 THEN 1.0 ELSE 0.0 END) END))
      |    + ((1.0 * (CASE WHEN rf IS NULL THEN 0.4
      |               ELSE (CASE WHEN rf = 'N' THEN 1.0 ELSE 0.0 END) END))
      |        * (CASE WHEN d IS NULL THEN 0.5
      |           ELSE (CASE WHEN d > 0.05 THEN 1.0 ELSE 0.0 END) END)) AS w_f,
      |    (((1.0 * (CASE WHEN rf IS NULL THEN 0.4
      |              ELSE (CASE WHEN rf = 'A' THEN 1.0 ELSE 0.0 END) END))
      |        * (CASE WHEN q IS NULL THEN 0.25
      |           ELSE (CASE WHEN q > 25.0 THEN 1.0 ELSE 0.0 END) END)
      |    + (1.0 * (CASE WHEN rf IS NULL THEN 0.4
      |              ELSE (CASE WHEN rf = 'N' THEN 1.0 ELSE 0.0 END) END))
      |        * (CASE WHEN d IS NULL THEN 0.5
      |           ELSE (CASE WHEN d <= 0.05 THEN 1.0 ELSE 0.0 END) END))
      |    + (1.0 * (CASE WHEN rf IS NULL THEN 0.2
      |              ELSE (CASE WHEN rf = 'R' THEN 1.0 ELSE 0.0 END) END))) AS w_o
      |  FROM t)
      |SELECT l_orderkey, l_linenumber,
      |  CASE WHEN w_f >= w_o AND w_f > 0 THEN 'F'
      |       WHEN w_o > 0 THEN 'O' ELSE 'O' END AS prediction
      |FROM w ORDER BY l_orderkey, l_linenumber""".stripMargin
  val qPredictSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_returnflag = 'A' AND l_quantity <= 25.0 THEN 'F'
      |       WHEN l_returnflag = 'A' AND l_quantity > 25.0 THEN 'O'
      |       WHEN l_returnflag = 'N' AND l_discount <= 0.05 THEN 'O'
      |       WHEN l_returnflag = 'N' AND l_discount > 0.05 THEN 'F'
      |       WHEN l_returnflag = 'R' THEN 'O'
      |       ELSE 'O' END AS prediction
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- model evaluation: confusion matrix of the fixed q_predict
  //      model against the actual class ----
  def qConfusion(s: SparkSession, dir: String): DataFrame =
    graft.fit.Evaluation.confusionMatrix(
      demoModel.transform(li(s, dir)), "l_linestatus")
      .orderBy("actual", "predicted")
  val qConfusionSql: String =
    """SELECT l_linestatus AS actual,
      |  CASE WHEN l_returnflag = 'A' AND l_quantity <= 25.0 THEN 'F'
      |       WHEN l_returnflag = 'A' AND l_quantity > 25.0 THEN 'O'
      |       WHEN l_returnflag = 'N' AND l_discount <= 0.05 THEN 'O'
      |       WHEN l_returnflag = 'N' AND l_discount > 0.05 THEN 'F'
      |       WHEN l_returnflag = 'R' THEN 'O'
      |       ELSE 'O' END AS predicted,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- general window surface: per-customer running order value
  //      (orders: o_orderkey is unique → total window order, no ties;
  //      lineitem's (orderkey, linenumber) is NOT unique in testdata) ----
  def qRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .withColumn("p", col("o_totalprice").cast("decimal(18,2)"))
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("p")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_total"),
        lag(col("p"), 1).over(w).cast("double").as("prev_total"),
        row_number().over(w).cast("long").as("seq"))
      .orderBy("o_custkey", "o_orderkey")
  }
  val qRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
      |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS DOUBLE) AS prev_total,
      |  CAST(row_number()
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS seq
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- exact distributed percentiles (distribution statistics) ----
  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy("l_returnflag")
      .agg(r6(percentile(col("l_extendedprice"), lit(0.25))).as("p25"),
        r6(percentile(col("l_extendedprice"), lit(0.5))).as("p50"),
        r6(percentile(col("l_extendedprice"), lit(0.95))).as("p95"))
      .orderBy("l_returnflag")
  val qQuantilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- O4: the full iterative fit ----
  /** The natural-label training schema shared by q_fit_tree,
    * q_predict_proba and q_model_roundtrip (and re-stated by the
    * ensemble fixtures below). */
  private def linestatusSchema: C45Schema = C45Schema(
    Seq(AttrMeta("l_returnflag", isNumeric = false),
      AttrMeta("l_linenumber", isNumeric = false),
      AttrMeta("l_quantity", isNumeric = true),
      AttrMeta("l_discount", isNumeric = true),
      AttrMeta("l_tax", isNumeric = true)),
    "l_linestatus", ClassLabels)

  private def linestatusDf(s: SparkSession, dir: String): DataFrame =
    li(s, dir).withColumn("l_linenumber", col("l_linenumber").cast("string"))

  /** ONE deterministic maxDepth-3 fit per dir feeds q_fit_tree,
    * q_predict_proba AND q_model_roundtrip — all three previously
    * re-ran the byte-identical fit (same frame, same schema, same
    * params). Memoized exactly as the ensemble fixtures are (see
    * [[memoizedFit]]): each query alone still rebuilds the model from
    * the raw parquet, the memo only elides refitting a pure
    * deterministic value inside one JVM battery. */
  private def linestatusFit(s: SparkSession, dir: String): graft.fit.C45Model =
    memoizedFit(s"c45fit|$dir") {
      C45.fit(linestatusDf(s, dir), linestatusSchema, C45Params(maxDepth = 3))
    }

  def qFitTree(s: SparkSession, dir: String): DataFrame =
    linestatusFit(s, dir).toDF(s).orderBy("rule")

  /** Oracle for the iterative fit. No SQL can re-derive a level-wise
    * C4.5 fit, so the oracle is the committed golden rule set for the
    * gate's scale (sf0.01), emitted as a table-free VALUES query —
    * DuckDB replays it verbatim and the driver's hash compare pins the
    * fitted tree exactly (rule codec, label, depth), not just its row
    * count. Single source of truth: golden/fit_sf001_rules.txt, the
    * same resource GoldenFitSpec asserts against; the fit is
    * deterministic (ties break on (gainRatio, -aid) / (cond_entropy,
    * boundary)), so any divergence is a real semantic change. Valid at
    * sf0.01 only — scripts/sweep.py golden-compares other tiers. */
  val qFitTreeSql: String = goldenValuesSql("golden/fit_sf001_rules.txt")

  /** Committed golden rule set (resource path) → the VALUES oracle
    * DuckDB replays: (rule, label, depth) exactly as `toDF` emits. */
  private def goldenValuesSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val rows = lines.map { l =>
      val cut = l.lastIndexOf(':')
      val conds = l.substring(0, cut)
      val label = l.substring(cut + 1)
      val depth = if (conds.isEmpty) 0 else conds.count(_ == '&') + 1
      def q(v: String) = "'" + v.replace("'", "''") + "'"
      s"(${q(l)}, ${q(label)}, $depth)"
    }
    s"SELECT rule, label, depth FROM (VALUES ${rows.mkString(", ")}) " +
      "AS t(rule, label, depth) ORDER BY rule"
  }

  /** O4 + predict_proba: per-row class-membership probabilities from
    * the fitted leaves' training class distributions, in EXACT integer
    * micros (float-free — the golden pins bit-stably at any tier).
    * Same planted fit as q_fit_tree; the output collapses the scored
    * training table to its distinct (prediction, probability-vector)
    * combinations with row counts — one row per reachable leaf
    * (+ majority fallback), so the pin covers every leaf's exact
    * distribution AND how many rows land on it. */
  /** The SHARED fixture behind q_predict_proba and q_model_roundtrip:
    * both must score the identical fit with the identical projection —
    * they pin against the SAME committed goldens (sweep.py maps
    * q_model_roundtrip onto q_predict_proba's tier files), so the
    * fit + aggregation live here exactly once. */
  private def probaFixture(s: SparkSession, dir: String)
      : (graft.fit.C45Model, DataFrame) =
    (linestatusFit(s, dir), linestatusDf(s, dir))

  private def probaSummary(model: graft.fit.C45Model, df: DataFrame): DataFrame =
    model.transformProba(df, "prediction", "p_")
      .select(col("prediction"), col("p_F").as("p_f"), col("p_O").as("p_o"))
      .groupBy("prediction", "p_f", "p_o")
      .agg(count(lit(1)).as("n"))
      .orderBy("prediction", "p_f", "p_o")

  def qPredictProba(s: SparkSession, dir: String): DataFrame = {
    val (model, df) = probaFixture(s, dir)
    probaSummary(model, df)
  }
  /** Committed golden (prediction,<c1>,<c2>,n CSV lines) → VALUES pin;
    * `c1`/`c2` are the two class-micros column names ("p_f"/"p_o" for
    * the l_linestatus fixture, "p_n"/"p_p" for the planted-XOR one). */
  private def goldenProbaSql(resource: String,
                             c1: String = "p_f", c2: String = "p_o"): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val rows = lines.map { l =>
      val Array(p, v1, v2, n) = l.split(",")
      s"('${p.replace("'", "''")}', CAST($v1 AS BIGINT), " +
        s"CAST($v2 AS BIGINT), CAST($n AS BIGINT))"
    }
    s"SELECT prediction, $c1, $c2, n FROM (VALUES ${rows.mkString(", ")}) " +
      s"AS t(prediction, $c1, $c2, n) ORDER BY prediction, $c1, $c2"
  }
  val qPredictProbaSql: String = goldenProbaSql("golden/proba_sf001.txt")

  // ---- O4 + model persistence: train → store → load → serve, the
  //      registry loop q_ann_stored proves for the ANN quantizer, now
  //      closed for the fit itself. Same planted fit as
  //      q_predict_proba; the model round-trips through
  //      C45Model.save/load (reference text codec + parquet
  //      distribution sidecar, C45.scala `save`) and the LOADED
  //      model's transformProba output must be bit-identical to the
  //      live model's — oracle = q_predict_proba's committed golden
  //      pin, so any byte the round-trip loses fails the gate. ----
  def qModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val (model, df) = probaFixture(s, dir)
    // a fresh per-invocation dir: a fixed shared path would let two
    // graft JVMs on one box (tier sweep + bench) interleave save/load
    // and pair one run's rules with another's distributions. load is
    // EAGER (rules + sidecar collect to the driver), so the dir is
    // deletable right here — Bench reps and Verify runs leave nothing
    // behind.
    val tmp = java.nio.file.Files.createTempDirectory("graft_c45_rt")
    val loaded =
      try {
        model.save(s, tmp.toString)
        graft.fit.C45Model.load(s, tmp.toString, model.schema)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.delete)
      }
    probaSummary(loaded, df)
  }
  val qModelRoundtripSql: String = qPredictProbaSql

  /** Deep-frontier fit under the driver's gate. `q_fit_tree`'s natural
    * label (l_linestatus) is independent of the attributes, so past
    * sf0.01 its tree is a single root leaf and the incremental
    * broadcast-join routing path (C45.fit's deep-frontier plan — the
    * plan a thousand-leaf tree on a 100 TB corpus must take) never
    * executes under the correctness gate. This query makes that path
    * gate-checked with routeJoinThreshold=1: every level past the root
    * routes through the broadcast rule-table join, numeric AND
    * categorical child maps both exercised (frontier 1 → 2 → 4 → 3).
    *
    * The label is engineered so every split decision wins by a REAL
    * margin, never an ulp. Two traps shape it: (a) a full product
    * label (returnflag × quantity-band × …) gives EVERY component
    * attribute a gain ratio of exactly 1.0 in real arithmetic — each
    * split's sides are unions of classes, so gain == splitInfo — and
    * the argmax then hangs on floating-point noise (observed: sf0.1
    * and its exact 10× replication picked different roots); (b) the
    * fit never reuses a path attribute (Rule.usedAttrs — the
    * reference's once-per-path rule), so a multi-cut ladder on one
    * numeric attribute cannot resolve. Hence a HIERARCHICAL label:
    * each level reveals a different attribute, and only inside one
    * branch of its parent — the revealed attribute scores exactly 1.0
    * at its node while every other candidate mixes classes and lands
    * strictly below (≈0.5 at the root, ≈0.33 below), gaps that are
    * functions of exact counts, invariant to scale. Oracle: VALUES pin
    * of the committed sf0.01 golden; GoldenFitSpec pins sf0.1 and the
    * replicated sf1 tier. */
  def qFitDeep(s: SparkSession, dir: String): DataFrame = {
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", DeepClassLabels)
    val df = li(s, dir)
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
      .withColumn("cls",
        when(col("l_quantity") <= 25,
          when(col("l_returnflag") === "A",
            when(col("l_tax") <= 0.04, lit("LAt0")).otherwise(lit("LAt1")))
            .otherwise(concat(lit("L"), col("l_returnflag"))))
          .otherwise(
            when(col("l_discount") <= 0.05, lit("Hd0")).otherwise(lit("Hd1"))))
    C45.fit(df, schema, C45Params(maxDepth = 3, routeJoinThreshold = 1))
      .toDF(s).orderBy("rule")
  }
  val qFitDeepSql: String = goldenValuesSql("golden/fit_deep_sf001_rules.txt")

  // ---- O4 × windowing: Quinlan's iterative-training mode (ID3 1986;
  //      C4.5 1993 "-t" trials) — the last canonical C4.5 TRAINING
  //      feature: fit on a deterministic ~25% md5-keyed window of the
  //      deep fixture, score the FULL corpus, grow the window by every
  //      misclassified row, refit until a pass misclassifies nothing
  //      outside its window. The window is never materialized — pass
  //      k's membership is a pure column (initial slice ∪ prior
  //      models' mistakes), so the loop is bit-deterministic under any
  //      partitioning (C45Windowing scaladoc). Emits the CONVERGED
  //      tree in q_fit_tree's frame; WindowingSpec pins convergence
  //      and the no-worse-than-one-shot training accuracy. Oracle:
  //      VALUES pin of the committed golden; tier goldens above the
  //      gate (window draws are key-dependent and sf1 re-keys). ----
  def qFitWindowed(s: SparkSession, dir: String): DataFrame = {
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", DeepClassLabels)
    val df = li(s, dir)
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
      .withColumn("cls",
        when(col("l_quantity") <= 25,
          when(col("l_returnflag") === "A",
            when(col("l_tax") <= 0.04, lit("LAt0")).otherwise(lit("LAt1")))
            .otherwise(concat(lit("L"), col("l_returnflag"))))
          .otherwise(
            when(col("l_discount") <= 0.05, lit("Hd0")).otherwise(lit("Hd1"))))
    graft.fit.C45Windowing.fit(df, schema, forestKey,
      graft.fit.C45WindowParams(initialDenom = 4, maxPasses = 5,
        base = C45Params(maxDepth = 3)))
      .model.toDF(s).orderBy("rule")
  }
  val qFitWindowedSql: String =
    goldenValuesSql("golden/fit_windowed_sf001_rules.txt")

  /** The fit under MISSING attribute values — canonical C4.5
    * fractional-weight distribution (C45Params.missingMode default),
    * the capability the reference outright lacks (it NPEs on any null,
    * MyMapper.java value routing). qFitDeep's hierarchical label is
    * computed from the ORIGINAL columns (ground truth), then ~25% of
    * l_tax is nulled by a deterministic key predicate — the fit must
    * route those rows fractionally through every split and still
    * recover the planted structure from the remaining 75% known mass.
    * Null rows reaching the l_tax node distribute to both children in
    * proportion to known branch mass (exact long micros, so the tree
    * is deterministic under any partitioning). The injection predicate
    * is pure key arithmetic, so each tier's null slice is reproducible;
    * sf1 being an exact 10× replication of sf0.1 scales every
    * histogram cell by exactly 10 and leaves the tree invariant
    * between those tiers (scripts/sweep.py golden-compares them
    * against the same committed rule set). Oracle: VALUES pin of the
    * committed sf0.01 golden. */
  def qFitMissing(s: SparkSession, dir: String): DataFrame = {
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", DeepClassLabels)
    val df = li(s, dir)
      .withColumn("cls",
        when(col("l_quantity") <= 25,
          when(col("l_returnflag") === "A",
            when(col("l_tax") <= 0.04, lit("LAt0")).otherwise(lit("LAt1")))
            .otherwise(concat(lit("L"), col("l_returnflag"))))
          .otherwise(
            when(col("l_discount") <= 0.05, lit("Hd0")).otherwise(lit("Hd1"))))
      .withColumn("l_tax",
        when(pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(4)) === 0,
          lit(null).cast("double")).otherwise(col("l_tax")))
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    C45.fit(df, schema, C45Params(maxDepth = 3)).toDF(s).orderBy("rule")
  }
  val qFitMissingSql: String = goldenValuesSql("golden/fit_missing_sf001_rules.txt")

  // ---- O4 + pruning: canonical C4.5's pessimistic pruning, BOTH
  //      operators — subtree replacement AND subtree raising (Quinlan
  //      1993 §5.2: a node may also be replaced by its largest child's
  //      subtree, the other branches' rows re-routed by value) — the
  //      part of C4.5 the reference omits (SURVEY §0 "no pruning"). A
  //      planted 2-attribute structure plus deterministic ~10% label
  //      noise (portable md5 of the row key, so every tier reproduces
  //      bit-for-bit) makes the unpruned fit grow spurious subtrees on
  //      the noise attributes; pruning must collapse those and keep
  //      the real splits. PruningSpec asserts the collapse and a
  //      planted raise-beats-replace geometry; the golden pins the
  //      exact pruned rule set. ----
  def qFitPruned(s: SparkSession, dir: String): DataFrame = {
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", Seq("N", "P"))
    val noisy = graft.functions.Hashing.hash60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    // persist ONLY the fit's columns: the label is stamped from the
    // full row first, then the other 7 lineitem columns leave the plan
    // — the cache this builds (and every fit/prune scan through it) is
    // attrs+cls wide, not table-wide
    val df = graft.operators.Widen.toParallelism(
        li(s, dir).withColumn("cls",
          when(base =!= noisy, lit("P")).otherwise(lit("N")))
          .select((schema.attrNames :+ "cls").map(col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val model = C45.fit(df, schema, C45Params(maxDepth = 5))
      // raising needs the data (it re-routes the non-largest branches'
      // rows by their attribute values) — but the base counts do NOT:
      // the fit just recorded every leaf's exact training distribution,
      // so pruneTrainingRaising runs ONE corpus job (the re-route) where
      // prune(raising = true) would scan-count first — identical result
      // on this null-free fixture (PruningSpec pins the equality)
      graft.fit.C45Pruning.pruneTrainingRaising(model, df)
        .toDF(s).orderBy("rule")
    } finally df.unpersist()
  }
  val qFitPrunedSql: String = goldenValuesSql("golden/fit_pruned_sf001_rules.txt")

  // ---- O4 + pruning, RAISING exercised end to end: a DECLARED
  //      overfit model (the q_ann_stored pattern — the model is the
  //      query's input, like any externally-trained tree entering the
  //      registry) whose root split on l_tax is USELESS against the
  //      planted class (cls is a pure function of l_quantity,
  //      identically across tax values), and whose quantity-subtree
  //      only grew under the heavy branch — l_tax ≤ 0.06 covers ~7/9
  //      of every tier (tax is uniform over the nine values 0.00–0.08),
  //      so the largest-child selection is decisively tier-stable —
  //      while the light tax>0.06 branch is a majority leaf
  //      mislabeling every high-quantity row it holds. Subtree
  //      replacement cannot fix this (the root collapse mislabels
  //      half the corpus); RAISING the N-subtree re-routes the A/R
  //      rows through the quantity split and classifies everything —
  //      the geometry where Quinlan's second pruning operator is the
  //      only right answer. The raised leaves' labels are re-derived
  //      from the merged (own + re-routed) distributions. Oracle:
  //      VALUES pin of the committed golden (the raise decision is
  //      count-driven and decisive at every tier; sweep.py golden-
  //      compares the upper tiers). ----
  def qFitRaised(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{NumLE, NumGT, Rule => MRule}
    val schema = C45Schema(
      Seq(AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", Seq("A", "B"))
    val declared = graft.fit.C45Model(schema, Vector(
      MRule(Vector(1 -> NumLE(0.06), 0 -> NumLE(25.0)), Some("A")),
      MRule(Vector(1 -> NumLE(0.06), 0 -> NumGT(25.0)), Some("B")),
      MRule(Vector(1 -> NumGT(0.06)), Some("A"))), "A")
    val df = li(s, dir).withColumn("cls",
      when(col("l_quantity") <= 25, lit("A")).otherwise(lit("B")))
    graft.fit.C45Pruning.prune(declared, df, raising = true)
      .toDF(s).orderBy("rule")
  }
  val qFitRaisedSql: String =
    goldenValuesSql("golden/fit_raised_sf001_rules.txt")

  // ---- O4 + rule generalization: C4.5rules' per-rule condition
  //      dropping (the other canonical post-processing step the
  //      reference omits). Same planted-XOR-plus-noise construction as
  //      q_fit_pruned but on a lighter 3-attribute fit: the overfit
  //      tree's noise conditions (l_discount) drop out of the rules;
  //      the two XOR conditions can never drop (removing either admits
  //      the opposite-label region and the pessimistic rate jumps).
  //      Simplified rules overlap — the canonical C4.5rules outcome —
  //      ordered best-rate-first; the golden pins the exact set. ----
  /** The planted-XOR-plus-noise 3-attribute training schema shared by
    * q_feature_importance, q_rule_simplify and q_simplify_proba. */
  private def xorSchema: C45Schema = C45Schema(
    Seq(AttrMeta("l_returnflag", isNumeric = false),
      AttrMeta("l_quantity", isNumeric = true),
      AttrMeta("l_discount", isNumeric = true)),
    "cls", Seq("N", "P"))

  /** The XOR battery's training frame: XOR(base) label with ~10%
    * deterministic hash noise, projected to the 3 fit attributes +
    * label (narrow — the cache this feeds, and every serving scan,
    * carries nothing table-wide). */
  private def xorDf(s: SparkSession, dir: String): DataFrame = {
    val noisy = graft.functions.Hashing.hash60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    li(s, dir).withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
      .select((xorSchema.attrNames :+ "cls").map(col): _*)
  }

  /** The shared XOR depth-4 battery: ONE fitWithImportance + ONE
    * C4.5rules simplify per dir feed q_feature_importance (the fit's
    * own driver-side importance pass), q_rule_simplify and
    * q_simplify_proba — all three previously re-ran the byte-identical
    * depth-4 fit. Memoized exactly as the ensemble fixtures are (see
    * [[memoizedFit]]). The training projection is persisted only while
    * the fit + simplify's greedy conditional aggs re-scan it; the
    * returned models are plain case classes. */
  /** The fit half of the battery: q_feature_importance consumes ONLY
    * this (the importance falls out of the fit's own decision pass),
    * so it must not pay for the C4.5rules simplify the other two
    * queries declare — the two halves memoize separately and the
    * simplify half builds on the fit half. */
  private def xorFit(s: SparkSession, dir: String)
      : (graft.fit.C45Model, Map[Int, Double]) =
    memoizedFit(s"xor|$dir") {
      val df = graft.operators.Widen.toParallelism(xorDf(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try C45.fitWithImportance(df, xorSchema, C45Params(maxDepth = 4))
      finally df.unpersist()
    }

  private def xorFixture(s: SparkSession, dir: String)
      : (graft.fit.C45Model, Map[Int, Double], graft.fit.C45Model) = {
    val (model, imp) = xorFit(s, dir)
    val simplified = memoizedFit(s"xorsimp|$dir") {
      val df = graft.operators.Widen.toParallelism(xorDf(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.fit.C45RuleSimplify.simplify(model, df)
      finally df.unpersist()
    }
    (model, imp, simplified)
  }

  def qRuleSimplify(s: SparkSession, dir: String): DataFrame =
    xorFixture(s, dir)._3.toDF(s).orderBy("rule")
  val qRuleSimplifySql: String = goldenValuesSql("golden/rule_simplify_sf001_rules.txt")

  // ---- rule generalization + proba serving: the simplified model's
  //      per-rule FIRST-MATCH training distributions (recorded by
  //      simplify in one routing job) served through transformProba —
  //      gate-checks that generalized, OVERLAPPING rule sets carry
  //      exact-micros distributions through the order-aware flat path
  //      (the tree walk has no tree to walk here). Same summary shape
  //      as q_predict_proba; oracle = VALUES pin of the committed
  //      golden, sweep.py golden-compares the higher tiers (sf1 counts
  //      are 10× sf0.1's; the micros are replication-invariant). ----
  def qSimplifyProba(s: SparkSession, dir: String): DataFrame =
    // serving re-reads the narrow parquet projection (one scan); the
    // model's literals are driver-side
    xorFixture(s, dir)._3.transformProba(xorDf(s, dir), "prediction", "p_")
      .select(col("prediction"), col("p_N").as("p_n"), col("p_P").as("p_p"))
      .groupBy("prediction", "p_n", "p_p")
      .agg(count(lit(1)).as("n"))
      .orderBy("prediction", "p_n", "p_p")
  val qSimplifyProbaSql: String =
    goldenProbaSql("golden/simplify_proba_sf001.txt", "p_n", "p_p")

  // ---- O4 + evaluation: k-fold cross-validation — the train/test
  //      surface the reference lacks entirely. Same planted XOR + 10%
  //      noise labels; folds stamped by the portable hash at a
  //      DIFFERENT salt than the noise (salt 7 vs 0 — the same salt
  //      would correlate fold membership with label noise). Depth-2
  //      fits recover the planted structure on every 2/3 subset, so
  //      held-out accuracy ≈ 1 - noise rate; exact (n, correct) counts
  //      are pinned by a committed per-fold golden. ----
  def qCrossVal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true)),
      "cls", Seq("N", "P"))
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    val df = li(s, dir).withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
    graft.fit.C45CrossVal
      .crossValidate(df, schema, C45Params(maxDepth = 2), key, k = 3, salt = 7)
      .toDF("fold", "n_test", "n_correct").orderBy("fold")
  }
  val qCrossValSql: String = goldenCountsSql("golden/crossval_sf001.txt")

  // ---- O4 + evaluation under missing values: the same k-fold
  //      cross-validation with nulls planted on the STRUCTURAL
  //      attribute (l_quantity, 1 row in 7 at a third salt), so the
  //      fractional missing-mode machinery engages inside the fused
  //      fold fit — every fold's tree grows through weighted RouteX
  //      fan-outs. Held-out scoring is C45Model.transform's flat
  //      routing: a null on the path falls to the majority fallback
  //      (the deterministic eval contract; the fractional-weight VOTE
  //      is the separate predict surface, q_predict_missing). Counts
  //      stay exact longs (micro weights round deterministically), so
  //      the per-fold golden pins the fused fit end to end. ----
  def qCrossValMissing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true)),
      "cls", Seq("N", "P"))
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val noisy = graft.functions.Hashing.hash60(key) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    val df = li(s, dir).withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
      .withColumn("l_quantity",
        when(graft.functions.Hashing.hash60(key, 3) % 7 === 0, lit(null))
          .otherwise(col("l_quantity")))
    graft.fit.C45CrossVal
      .crossValidate(df, schema, C45Params(maxDepth = 2), key, k = 3, salt = 7)
      .toDF("fold", "n_test", "n_correct").orderBy("fold")
  }
  val qCrossValMissingSql: String =
    goldenCountsSql("golden/crossval_missing_sf001.txt")

  // ---- O4 + model introspection: gain-based feature importance —
  //      Σ over chosen splits of (node rows × information gain), per
  //      attribute, from the fit's own driver-side selection pass
  //      (zero extra Spark jobs). Emitted in exact integer micros so
  //      the pin is float-free; the planted structure puts nearly all
  //      importance on l_quantity + l_returnflag, the noise attribute
  //      gets only the crumbs of spurious deep splits. ----
  def qFeatureImportance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the shared XOR battery fit (identical schema, label and params):
    // importance falls out of its driver-side decision pass — the
    // C4.5rules simplify half of the battery is NOT this query's work
    // and is deliberately not computed here
    val (_, imp) = xorFit(s, dir)
    xorSchema.attrNames.map(n => (n,
      math.floor(imp.getOrElse(xorSchema.attrIndex(n), 0.0) * 1e6 + 0.5).toLong))
      .toDF("attr", "importance_micros").orderBy("attr")
  }
  val qFeatureImportanceSql: String =
    goldenImportanceSql("golden/importance_sf001.txt")

  /** Committed per-attribute micros (resource path, lines `attr,m`) →
    * the VALUES oracle DuckDB replays: (attr, importance_micros). */
  private def goldenImportanceSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val rows = lines.map { l =>
      val Array(a, m) = l.split(",")
      s"('$a', CAST($m AS BIGINT))"
    }
    s"SELECT attr, importance_micros FROM (VALUES ${rows.mkString(", ")}) " +
      "AS t(attr, importance_micros) ORDER BY attr"
  }

  /** Committed per-fold counts (resource path, lines `fold,n,c`) → the
    * VALUES oracle DuckDB replays: (fold, n_test, n_correct). */
  private def goldenCountsSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val rows = lines.map { l =>
      val Array(f, n, c) = l.split(",")
      s"(CAST($f AS INTEGER), CAST($n AS BIGINT), CAST($c AS BIGINT))"
    }
    s"SELECT fold, n_test, n_correct FROM (VALUES ${rows.mkString(", ")}) " +
      "AS t(fold, n_test, n_correct) ORDER BY fold"
  }

  // ---- S2: the reference's external attributes-file grammar
  //      (Main.java:137-166), exercised END TO END as a named query:
  //      the attribute lines are COMPOSED from observed data (closed
  //      categorical/class domains from distinct scans, exactly what a
  //      reference user would write for this table), parsed back by
  //      C45Schema.parse, and the parsed schema emitted as rows. The
  //      oracle rebuilds the same rows straight from the parquet, so a
  //      grammar regression (split-limit, empty-domain, kind
  //      classification) breaks the hash. ----
  def qAttrMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = li(s, dir)
    val rfDomain = d.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).sorted
    val clsDomain = d.select(col("l_linestatus")).distinct()
      .collect().map(_.getString(0)).sorted
    val lines = Seq(
      s"l_returnflag:string:${rfDomain.mkString(",")}",
      "l_quantity:numeric",
      "l_discount:numeric",
      s"cls:${clsDomain.mkString(",")}")
    val schema = C45Schema.parse(lines)
    val rows = schema.attrs.zipWithIndex.map { case (a, i) =>
      (i.toLong, a.name, if (a.isNumeric) "numeric" else "string",
        a.domain.mkString(","))
    } :+ ((schema.attrs.size.toLong, schema.classCol, "class",
      schema.classLabels.mkString(",")))
    rows.toDF("pos", "attr", "kind", "domain").orderBy("pos")
  }
  val qAttrMetaSql: String =
    """WITH rf AS (SELECT string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS d FROM lineitem),
      |cls AS (SELECT string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS d FROM lineitem)
      |SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS pos, 'l_returnflag' AS attr, 'string' AS kind, rf.d AS domain FROM rf
      |  UNION ALL SELECT 1, 'l_quantity', 'numeric', ''
      |  UNION ALL SELECT 2, 'l_discount', 'numeric', ''
      |  UNION ALL SELECT 3, 'cls', 'class', cls.d FROM cls
      |) ORDER BY pos""".stripMargin

  // ---- S4: the reference's rule queue-file text codec
  //      (Rule.java:22-33 / Main.java:272-289), exercised END TO END:
  //      a per-value decision-stump rule set is computed FROM DATA
  //      (majority class per l_returnflag value, count-desc label-asc
  //      tie-break), written through C45Model.saveRules in the
  //      reference wire format, read back via loadRules, and the
  //      round-tripped rules re-encoded as the output. The oracle
  //      formats the same encoded strings in SQL, so an encode/decode
  //      asymmetry (separator, label cut, condition order) breaks the
  //      hash. ----
  def qRuleCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("n").desc, col("l_linestatus").asc)
    val stumps = li(s, dir)
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("l_returnflag", "l_linestatus")
      .collect() // one row per domain value — O(domain), never O(rows)
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val rules = stumps.map { case (v, label) =>
      graft.model.Rule(Vector(0 -> graft.model.CatEq(v)), Some(label))
    }.toVector
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false)), "cls", ClassLabels)
    val model = graft.fit.C45Model(schema, rules, rules.head.label.get)
    val tmp = java.nio.file.Files.createTempFile("graft_rules", ".txt")
    try {
      model.saveRules(tmp.toString)
      val loaded = graft.fit.C45Model.loadRules(tmp.toString, schema)
      loaded.leaves.map(r => (r.encode, r.label.get, r.depth.toLong))
        .toDF("rule", "label", "depth").orderBy("rule")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
  val qRuleCodecSql: String =
    """SELECT '0,' || l_returnflag || ':' || l_linestatus AS rule,
      |  l_linestatus AS label, CAST(1 AS BIGINT) AS depth
      |FROM (
      |  SELECT l_returnflag, l_linestatus,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY count(*) DESC, l_linestatus ASC) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
      |WHERE rn = 1 ORDER BY rule""".stripMargin

  // ---- O4 × ensemble: bagged C4.5 (the fused bootstrap forest).
  //      Same training view as q_fit_tree; 5 trees, each restricted to
  //      a rotating 3-of-5 attribute subspace, Poisson(1) bootstrap
  //      weights drawn deterministically from md5(seed|tree|row key) —
  //      ALL trees train from ONE weighted histogram job per level
  //      (C45Forest scaladoc). The output is the full ensemble (tree,
  //      rule, label, depth, majority); the oracle is the committed
  //      golden, emitted as a VALUES pin exactly like q_fit_tree —
  //      valid at sf0.01 (scripts/sweep.py golden-compares the other
  //      tiers: the sf1 replicas re-key l_orderkey, so the bootstrap
  //      draws — and hence the committed golden — are tier-specific). ----
  private val ForestParams = graft.fit.C45ForestParams(
    nTrees = 5, attrsPerTree = 3, seed = 42,
    base = C45Params(maxDepth = 3, missingMode = "drop"))

  /** Per-(fixture, dir) memo for the shared fit models. Several
    * queries consume the SAME deterministic ensemble (q_forest /
    * q_forest_oob / q_forest_proba / q_forest_roundtrip /
    * q_forest_importance one bagged fit; the five boost queries one
    * AdaBoost fit; the two forest-missing queries one fractional fit)
    * — each query stays self-contained (any one of them alone
    * rebuilds the model from the raw parquet), the memo only elides
    * refitting a pure deterministic value inside one JVM battery,
    * exactly as ExtQueries memoizes LSH pairs and IVF centroids.
    * Fitted models are plain case classes (rules + exact-micros
    * stats, no Spark resources), so caching them is leak-free. */
  private val FitMemoMax = 24
  private val fitMemo =
    new java.util.LinkedHashMap[String, AnyRef](32, 0.75f,
      /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, AnyRef]): Boolean =
        size() > FitMemoMax
    }
  graft.Memos.register(() => fitMemo.synchronized(fitMemo.clear()))
  private def memoizedFit[T <: AnyRef](key: String)(build: => T): T = {
    // build OUTSIDE the lock (it runs Spark jobs); a racing duplicate
    // fit is harmless — the model is deterministic by construction
    val hit = fitMemo.synchronized(Option(fitMemo.get(key)))
    hit.map(_.asInstanceOf[T]).getOrElse {
      val v = build
      fitMemo.synchronized(fitMemo.put(key, v))
      v
    }
  }

  /** The bootstrap row key: `l_orderkey#l_linenumber` as text. NOT
    * unique in the testdata (FIXTURES.md) — deliberately fine: the
    * weight is a pure function of the row's columns, so duplicates
    * sharing a draw keeps the fit deterministic under any
    * partitioning AND replayable by the DuckDB oracle. */
  private def forestKey: Column =
    concat(col("l_orderkey").cast("string"), lit("#"),
      col("l_linenumber").cast("string"))

  /** The shared bagged ensemble: ONE `fitWithImportance` per dir feeds
    * q_forest, q_forest_oob, q_forest_proba, q_forest_roundtrip AND
    * q_forest_importance (importance falls out of the fused fit's own
    * decision pass, so asking for it always costs nothing extra). */
  private def forestFitWithImportance(s: SparkSession, dir: String)
      : (graft.fit.C45Forest, Vector[Map[Int, Double]]) =
    memoizedFit(s"forest|$dir") {
      val schema = C45Schema(
        Seq(AttrMeta("l_returnflag", isNumeric = false),
          AttrMeta("l_linenumber", isNumeric = false),
          AttrMeta("l_quantity", isNumeric = true),
          AttrMeta("l_discount", isNumeric = true),
          AttrMeta("l_tax", isNumeric = true)),
        "l_linestatus", ClassLabels)
      val df = li(s, dir)
        .withColumn("l_linenumber", col("l_linenumber").cast("string"))
      graft.fit.C45Forest.fitWithImportance(df, schema, forestKey,
        ForestParams)
    }

  private def forestFit(s: SparkSession, dir: String): graft.fit.C45Forest =
    forestFitWithImportance(s, dir)._1

  def qForest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    forestFit(s, dir).trees.zipWithIndex.flatMap { case (m, t) =>
      m.leaves.map(r => (t, r.encode, r.label.getOrElse(""), r.depth,
        m.majority))
    }.toDF("tree", "rule", "label", "depth", "majority")
      .orderBy("tree", "rule")
  }

  val qForestSql: String = goldenForestSql("golden/forest_sf001_rules.txt")

  /** Defensive parse of one `…|<rule>|…` golden line (rule at field
    * `ruleAt`). The '|' split — like the rule codec's own ','/'&'/':'
    * delimiters — is only sound while no categorical split value or
    * label contains a delimiter character, which holds for every
    * committed TPC-H/planted fixture. Rather than trusting that
    * silently (ADVICE r18), the decode→encode round-trip turns a
    * corrupted split into a loud failure at oracle-build time. */
  private def splitGolden(line: String, n: Int, ruleAt: Int = 1): Array[String] = {
    val fs = line.split("\\|", n)
    require(fs.length == n &&
      graft.model.Rule.decode(fs(ruleAt)).encode == fs(ruleAt),
      "golden line does not round-trip the rule codec (a categorical " +
        s"value containing a codec delimiter?): $line")
    fs
  }

  /** Committed golden forest (resource lines `tree|rule|majority`) →
    * the VALUES oracle DuckDB replays: exactly [[qForest]]'s frame. */
  private def goldenForestSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val rows = lines.map { l =>
      val Array(t, rule, maj) = splitGolden(l, 3)
      val cut = rule.lastIndexOf(':')
      val conds = rule.substring(0, cut)
      val label = rule.substring(cut + 1)
      val depth = if (conds.isEmpty) 0 else conds.count(_ == '&') + 1
      s"(CAST($t AS INTEGER), ${q(rule)}, ${q(label)}, $depth, ${q(maj)})"
    }
    s"SELECT tree, rule, label, depth, majority " +
      s"FROM (VALUES ${rows.mkString(", ")}) " +
      "AS t(tree, rule, label, depth, majority) ORDER BY tree, rule"
  }

  // ---- O4 × ensemble × missing values: the fused bagged fit under
  //      Quinlan's fractional unknown-value distribution — q_fit_missing's
  //      null-planted view (~25% of l_tax nulled by pure key arithmetic,
  //      the label computed from the ORIGINAL columns) trained with
  //      q_forest's 5-tree rotating-subspace bootstrap. Null-bearing
  //      rows ride the tree-tagged RouteX chain at per-copy micros ×
  //      multiplicity (C45Forest scaladoc), so every tree is
  //      bit-identical to a sequential fractional fit on its replicated
  //      bootstrap sample (C45ForestSpec pins the property; this query
  //      gates it end to end). Oracle: VALUES pin of the committed
  //      sf0.01 golden; per-tier goldens above (bootstrap draws are
  //      tier-specific). ----
  /** The shared q_forest_missing fixture: q_fit_missing's null-planted
    * view plus the fractional 5-tree forest fitted on it (both
    * q_forest_missing and q_forest_predict_missing consume the pair,
    * so the view and params live here exactly once). */
  private def forestMissingFixture(s: SparkSession, dir: String)
      : (graft.fit.C45Forest, DataFrame) = {
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", DeepClassLabels)
    val df = li(s, dir)
      .withColumn("cls",
        when(col("l_quantity") <= 25,
          when(col("l_returnflag") === "A",
            when(col("l_tax") <= 0.04, lit("LAt0")).otherwise(lit("LAt1")))
            .otherwise(concat(lit("L"), col("l_returnflag"))))
          .otherwise(
            when(col("l_discount") <= 0.05, lit("Hd0")).otherwise(lit("Hd1"))))
      .withColumn("l_tax",
        when(pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(4)) === 0,
          lit(null).cast("double")).otherwise(col("l_tax")))
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    val f = memoizedFit(s"forest_missing|$dir") {
      graft.fit.C45Forest.fit(df, schema, forestKey,
        ForestParams.copy(base =
          C45Params(maxDepth = 3, missingMode = "fractional")))
    }
    (f, df)
  }

  def qForestMissing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (f, _) = forestMissingFixture(s, dir)
    f.trees.zipWithIndex.flatMap { case (m, t) =>
      m.leaves.map(r => (t, r.encode, r.label.getOrElse(""), r.depth,
        m.majority))
    }.toDF("tree", "rule", "label", "depth", "majority")
      .orderBy("tree", "rule")
  }

  val qForestMissingSql: String =
    goldenForestSql("golden/forest_missing_sf001_rules.txt")

  // ---- O4 × ensemble × per-node feature sampling: Breiman 2001's
  //      mtry ON — each node of each tree draws its split candidates
  //      from a fresh md5-keyed sample of 2 of its live attributes
  //      (C45Forest.mtrySample: a pure function of (seed, tree, level,
  //      rid, aid), so the draw — and hence the whole ensemble — is
  //      bit-deterministic under any partitioning and pinnable by a
  //      committed golden). The deep hierarchical fixture makes the
  //      sampling consequential: with 3-of-5 rotating subspaces AND
  //      mtry=2, different nodes see different candidate sets and the
  //      trees decorrelate beyond what bagging alone gives — the
  //      actual random-forest recipe. C45ForestSpec pins mtry ≥ live
  //      width ≡ off bit-for-bit; this query gates mtry ON end to
  //      end. Oracle: VALUES pin of the committed golden; per-tier
  //      goldens above the gate (bootstrap + mtry draws are
  //      key-dependent, and sf1 re-keys per replica). ----
  def qForestMtry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "cls", DeepClassLabels)
    val df = li(s, dir)
      .withColumn("cls",
        when(col("l_quantity") <= 25,
          when(col("l_returnflag") === "A",
            when(col("l_tax") <= 0.04, lit("LAt0")).otherwise(lit("LAt1")))
            .otherwise(concat(lit("L"), col("l_returnflag"))))
          .otherwise(
            when(col("l_discount") <= 0.05, lit("Hd0")).otherwise(lit("Hd1"))))
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    val f = memoizedFit(s"forest_mtry|$dir") {
      graft.fit.C45Forest.fit(df, schema, forestKey,
        ForestParams.copy(mtry = 2))
    }
    f.trees.zipWithIndex.flatMap { case (m, t) =>
      m.leaves.map(r => (t, r.encode, r.label.getOrElse(""), r.depth,
        m.majority))
    }.toDF("tree", "rule", "label", "depth", "majority")
      .orderBy("tree", "rule")
  }
  val qForestMtrySql: String =
    goldenForestSql("golden/forest_mtry_sf001_rules.txt")

  // ---- O4 × ensemble × missing-value SERVING: the fractional forest
  //      of q_forest_missing scores its own null-bearing view through
  //      C45Forest.transformFractional — each member casts Quinlan's
  //      fractional-weight vote over its fit-recorded leaf masses (a
  //      null split value descends every child), then the ensemble
  //      majority-votes. Pure map-side per member, zero joins. The
  //      exact per-class prediction counts over all 60k rows pin every
  //      per-row vote; committed golden at the gate, per-tier goldens
  //      above (bootstrap draws are tier-specific). ----
  def qForestPredictMissing(s: SparkSession, dir: String): DataFrame = {
    val (f, df) = forestMissingFixture(s, dir)
    // the fractional vote is T wide per-leaf branch-share expressions
    // per row — heavy map work that a 1-3-partition parquet scan would
    // run on 1-3 cores; one narrow round-robin exchange first lets the
    // whole session serve it (no-op at corpus scale — Widen scaladoc)
    f.transformFractional(graft.operators.Widen.toParallelism(df),
        "prediction")
      .groupBy("prediction").agg(count(lit(1L)).as("n"))
      .orderBy("prediction")
  }

  val qForestPredictMissingSql: String =
    goldenPredCountsSql("golden/forest_pm_sf001.txt")

  /** Committed golden prediction counts (`prediction,n` lines) → the
    * VALUES oracle. */
  private def goldenPredCountsSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val rows = lines.map { l =>
      val Array(p, n) = l.split(",", 2)
      s"('${p.replace("'", "''")}', CAST($n AS BIGINT))"
    }
    s"SELECT prediction, n FROM (VALUES ${rows.mkString(", ")}) " +
      "AS t(prediction, n) ORDER BY prediction"
  }

  // ---- O4 × ensemble QA: out-of-bag evaluation. Every row is scored
  //      only by the trees whose bootstrap replicate EXCLUDED it (an
  //      unbiased held-out error estimate with zero extra fits); the
  //      output is the OOB confusion counts. The oracle is REAL SQL at
  //      the gate tier: it re-derives the per-(row, tree) out-of-bag
  //      masks from the same md5 draw (C45Forest.oobSql — exact
  //      integer-threshold compare), routes every row through the
  //      COMMITTED golden trees as plain CASE WHEN conjunctions, votes
  //      with the same smallest-label tie-break, and aggregates — so
  //      DuckDB independently replays sampling, routing, voting, and
  //      the confusion aggregation end to end. ----
  def qForestOob(s: SparkSession, dir: String): DataFrame = {
    val f = forestFit(s, dir)
    // heavy map pass (T transforms + T md5 OOB masks + gated vote per
    // row) over a 1-3-partition scan — widen first (Widen scaladoc)
    val df = graft.operators.Widen.toParallelism(li(s, dir)
      .withColumn("l_linenumber", col("l_linenumber").cast("string")))
    f.oobEval(df, forestKey, "l_linestatus")
      .orderBy("actual", "oob_prediction")
  }

  val qForestOobSql: String = forestOobSql("golden/forest_sf001_rules.txt")

  // ---- O4 × ensemble probabilities: the forest's soft output — the
  //      exact integer AVERAGE of the member trees' leaf-distribution
  //      micros (floorDiv(Σ + T/2, T)), prediction = the same hard
  //      vote as q_forest's serving path. Collapsed to its distinct
  //      (prediction, micros) combinations with row counts, exactly
  //      q_predict_proba's float-free pin shape; tier goldens are
  //      forest-specific (the sf1 replicas re-draw bootstraps). ----
  def qForestProba(s: SparkSession, dir: String): DataFrame = {
    val f = forestFit(s, dir)
    val df = li(s, dir)
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    f.transformProba(df, "prediction", "p_")
      .select(col("prediction"), col("p_F").as("p_f"), col("p_O").as("p_o"))
      .groupBy("prediction", "p_f", "p_o")
      .agg(count(lit(1)).as("n"))
      .orderBy("prediction", "p_f", "p_o")
  }
  val qForestProbaSql: String =
    goldenProbaSql("golden/forest_proba_sf001.txt")

  // ---- O4 × ensemble introspection: random-forest feature importance
  //      — per attribute, the MEAN across trees of the per-tree
  //      gain-based importance (Σ node-mass × gain over the splits
  //      that chose the attribute, bootstrap-weight units), the
  //      classic bagged impurity-decrease ranking. Zero extra Spark
  //      jobs: every per-tree value falls out of the fused fit's own
  //      driver-side decision pass. Emitted in exact integer micros
  //      (float-free pin); attributes a tree's subspace excluded
  //      simply contribute 0 to the mean. ----
  def qForestImportance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "l_linestatus", ClassLabels)
    val (_, imps) = forestFitWithImportance(s, dir)
    schema.attrNames.map { n =>
      val aid = schema.attrIndex(n)
      val mean = imps.map(_.getOrElse(aid, 0.0)).sum / imps.size
      (n, math.floor(mean * 1e6 + 0.5).toLong)
    }.toDF("attr", "importance_micros").orderBy("attr")
  }
  val qForestImportanceSql: String =
    goldenImportanceSql("golden/forest_importance_sf001.txt")

  /** The generated OOB oracle (see above): committed golden trees +
    * md5 bootstrap masks + vote, all in one DuckDB query. */
  private def forestOobSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val names = Seq("l_returnflag", "ln_s", "l_quantity", "l_discount", "l_tax")
    val numeric = Set(2, 3, 4)
    def condSql(aid: Int, sp: graft.model.Split): String = sp match {
      case graft.model.CatEq(v) => s"${names(aid)} = '${v.replace("'", "''")}'"
      case graft.model.NumLE(b) => s"CAST(${names(aid)} AS DOUBLE) <= $b"
      case graft.model.NumGT(b) => s"CAST(${names(aid)} AS DOUBLE) > $b"
    }
    require(numeric.forall(i => i < names.size)) // schema shape guard
    val byTree: Map[Int, (Vector[graft.model.Rule], String)] = lines
      .map { l =>
        val Array(t, rule, maj) = splitGolden(l, 3)
        (t.toInt, graft.model.Rule.decode(rule), maj)
      }
      .groupBy(_._1)
      .map { case (t, g) => t -> (g.map(_._2), g.head._3) }
    val trees = byTree.keys.toSeq.sorted
    val key = "k"
    val predCols = trees.map { t =>
      val (rules, maj) = byTree(t)
      val whens = rules.map { r =>
        val cond = r.conditions.map { case (aid, sp) => condSql(aid, sp) }
          .mkString(" AND ")
        s"WHEN ${if (cond.isEmpty) "TRUE" else cond} THEN '${r.label.get}'"
      }.mkString(" ")
      s"(CASE $whens ELSE '$maj' END) AS p$t"
    }
    val oobCols = trees.map(t =>
      s"${graft.fit.C45Forest.oobSql(key, t, ForestParams.seed)} AS oob$t")
    val labels = Seq("F", "O") // ClassLabels, smallest-label tie-break
    val cntCols = labels.zipWithIndex.map { case (l, i) =>
      trees.map(t =>
        s"(CASE WHEN oob$t AND p$t = '$l' THEN 1 ELSE 0 END)")
        .mkString(" + ") + s" AS c$i"
    }
    val noob = trees.map(t => s"(CASE WHEN oob$t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val vote = labels.indices.init.map { i =>
      val geAll = (i + 1 until labels.size).map(j => s"c$i >= c$j")
        .mkString(" AND ")
      s"WHEN $geAll THEN '${labels(i)}'"
    }.mkString(" ")
    s"""WITH base AS (
       |  SELECT l_returnflag, CAST(l_linenumber AS VARCHAR) AS ln_s,
       |    l_quantity, l_discount, l_tax,
       |    CAST(l_linestatus AS VARCHAR) AS actual,
       |    concat(CAST(l_orderkey AS VARCHAR), '#',
       |      CAST(l_linenumber AS VARCHAR)) AS $key
       |  FROM lineitem),
       |scored AS (
       |  SELECT actual, ${(oobCols ++ predCols).mkString(",\n    ")}
       |  FROM base),
       |votes AS (
       |  SELECT actual, ${cntCols.mkString(",\n    ")},
       |    $noob AS noob
       |  FROM scored)
       |SELECT actual,
       |  (CASE $vote ELSE '${labels.last}' END) AS oob_prediction,
       |  count(*) AS n
       |FROM votes WHERE noob > 0
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- O4 × ensemble persistence: train → C45Forest.save → load →
  //      transformProba, bit-identical to the live ensemble — the
  //      model-registry loop q_model_roundtrip proves for one tree,
  //      closed for the bagged ensemble (per-tree engine layout + a
  //      forest manifest). Oracle = q_forest_proba's committed golden,
  //      so any byte the round-trip loses fails the gate. ----
  def qForestRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val f = forestFit(s, dir)
    val df = li(s, dir)
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    // fresh per-invocation dir, deleted eagerly (load collects rules +
    // sidecars to the driver) — same discipline as qModelRoundtrip
    val tmp = java.nio.file.Files.createTempDirectory("graft_c45f_rt")
    val loaded =
      try {
        f.save(s, tmp.toString)
        graft.fit.C45Forest.load(s, tmp.toString, f.trees.head.schema)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.delete)
      }
    loaded.transformProba(df, "prediction", "p_")
      .select(col("prediction"), col("p_F").as("p_f"), col("p_O").as("p_o"))
      .groupBy("prediction", "p_f", "p_o")
      .agg(count(lit(1)).as("n"))
      .orderBy("prediction", "p_f", "p_o")
  }
  val qForestRoundtripSql: String = qForestProbaSql

  // ---- O4 × ensemble × streaming: the model-registry loop closed for
  //      ensembles AT INGESTION — the COMMITTED golden forest (the
  //      same resource q_forest pins) is decoded from the reference
  //      rule codec and served inside a streaming scan: per-row hard
  //      vote (T flat CASE WHEN columns + pure-Column argmax, zero
  //      state) feeding a running class-mix monitor (complete-mode
  //      aggregation whose state is O(labels) — two rows — never
  //      O(stream)). Because the served model is the FIXED committed
  //      ensemble, the vote-replay SQL oracle is valid at EVERY tier —
  //      no per-tier goldens. ----
  private val c45StreamRuns = new java.util.concurrent.atomic.AtomicInteger()

  /** The committed sf0.01 golden ensemble, decoded for serving (rules
    * + per-tree majority; distributions aren't needed for the vote). */
  private lazy val goldenForest: graft.fit.C45Forest = {
    val src = scala.io.Source.fromResource("golden/forest_sf001_rules.txt")
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val schema = C45Schema(
      Seq(AttrMeta("l_returnflag", isNumeric = false),
        AttrMeta("l_linenumber", isNumeric = false),
        AttrMeta("l_quantity", isNumeric = true),
        AttrMeta("l_discount", isNumeric = true),
        AttrMeta("l_tax", isNumeric = true)),
      "l_linestatus", ClassLabels)
    val byTree = lines.map { l =>
      val Array(t, rule, maj) = splitGolden(l, 3)
      (t.toInt, graft.model.Rule.decode(rule), maj)
    }.groupBy(_._1)
    graft.fit.C45Forest(
      byTree.keys.toSeq.sorted.map { t =>
        val g = byTree(t)
        graft.fit.C45Model(schema, g.map(_._2), g.head._3)
      }.toVector, ForestParams.seed)
  }

  def qStreamForest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"graft_stream_forest_${c45StreamRuns.incrementAndGet()}"
    val liSchema = Tables.load(s, dir, "lineitem").schema
    val stream = s.readStream.schema(liSchema)
      .option("pathGlobFilter", "lineitem.parquet").parquet(dir)
      .withColumn("l_linenumber", col("l_linenumber").cast("string"))
    val q = goldenForest.transform(stream, "prediction")
      .groupBy("prediction").agg(count(lit(1L)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(300000L)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query '$name' still running after 300000 ms")
    }
    s.table(name).orderBy("prediction")
  }

  /** The vote replayed over the committed trees in SQL (tier-valid:
    * the served model is fixed). */
  val qStreamForestSql: String = {
    val src = scala.io.Source.fromResource("golden/forest_sf001_rules.txt")
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val names = Seq("l_returnflag", "ln_s", "l_quantity", "l_discount", "l_tax")
    def condSql(aid: Int, sp: graft.model.Split): String = sp match {
      case graft.model.CatEq(v) => s"${names(aid)} = '${v.replace("'", "''")}'"
      case graft.model.NumLE(b) => s"CAST(${names(aid)} AS DOUBLE) <= $b"
      case graft.model.NumGT(b) => s"CAST(${names(aid)} AS DOUBLE) > $b"
    }
    val byTree = lines.map { l =>
      val Array(t, rule, maj) = splitGolden(l, 3)
      (t.toInt, graft.model.Rule.decode(rule), maj)
    }.groupBy(_._1)
    val trees = byTree.keys.toSeq.sorted
    val predCols = trees.map { t =>
      val g = byTree(t)
      val whens = g.map { case (_, r, _) =>
        val cond = r.conditions.map { case (aid, sp) => condSql(aid, sp) }
          .mkString(" AND ")
        s"WHEN ${if (cond.isEmpty) "TRUE" else cond} THEN '${r.label.get}'"
      }.mkString(" ")
      s"(CASE $whens ELSE '${g.head._3}' END) AS p$t"
    }
    val labels = Seq("F", "O")
    val cntCols = labels.zipWithIndex.map { case (l, i) =>
      trees.map(t => s"(CASE WHEN p$t = '$l' THEN 1 ELSE 0 END)")
        .mkString(" + ") + s" AS c$i"
    }
    val vote = labels.indices.init.map { i =>
      val geAll = (i + 1 until labels.size).map(j => s"c$i >= c$j")
        .mkString(" AND ")
      s"WHEN $geAll THEN '${labels(i)}'"
    }.mkString(" ")
    s"""WITH base AS (
       |  SELECT l_returnflag, CAST(l_linenumber AS VARCHAR) AS ln_s,
       |    l_quantity, l_discount, l_tax
       |  FROM lineitem),
       |scored AS (SELECT ${predCols.mkString(",\n    ")} FROM base),
       |votes AS (SELECT ${cntCols.mkString(",\n    ")} FROM scored)
       |SELECT (CASE $vote ELSE '${labels.last}' END) AS prediction,
       |  count(*) AS n
       |FROM votes GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- O4 × boosting: AdaBoost.M1 with shallow C4.5 base learners —
  //      the OTHER ensemble Quinlan paired with C4.5 ("Bagging,
  //      boosting, and C4.5", AAAI 1996; bagging is q_forest). Fit on
  //      the planted learnable corpus (the importance/crossval XOR
  //      fixture) so the error sequence is meaningful: near-stump
  //      rounds with Σ-preserving exact-micro reweights (C45Boost
  //      scaladoc). Output: one row per (round, rule) with the
  //      round's vote weight and training error in exact micros —
  //      committed-golden VALUES pin at the gate tier, per-tier
  //      goldens above it (the weighted fits are data-dependent). ----
  private val BoostParams = graft.fit.C45BoostParams(
    rounds = 5, base = C45Params(maxDepth = 2, missingMode = "drop"))

  private def boostSchema = C45Schema(
    Seq(AttrMeta("l_returnflag", isNumeric = false),
      AttrMeta("l_quantity", isNumeric = true),
      AttrMeta("l_discount", isNumeric = true)),
    "cls", Seq("N", "P"))

  /** The planted XOR + 10% deterministic noise corpus (the
    * importance fixture) — learnable, so boosting's round errors
    * actually fall. */
  private def boostDf(s: SparkSession, dir: String): DataFrame = {
    val noisy = graft.functions.Hashing.hash60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10 === 0
    val base = (col("l_returnflag") === "A") === (col("l_quantity") <= lit(25.0))
    li(s, dir).withColumn("cls",
      when(base =!= noisy, lit("P")).otherwise(lit("N")))
  }

  private def boostFit(s: SparkSession, dir: String): graft.fit.C45Boost =
    memoizedFit(s"boost|$dir") {
      graft.fit.C45Boost.fit(boostDf(s, dir), boostSchema, BoostParams)
    }

  def qBoost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = boostFit(s, dir)
    b.trees.zipWithIndex.flatMap { case (m, t) =>
      m.leaves.map(r => (t, r.encode, r.label.getOrElse(""), r.depth,
        b.alphaMicros(t), b.errorMicros(t), m.majority))
    }.toDF("round", "rule", "label", "depth", "alpha_micros",
      "error_micros", "majority")
      .orderBy("round", "rule")
  }

  val qBoostSql: String = goldenBoostSql("golden/boost_sf001_rules.txt")

  /** Committed golden boost (lines `round|rule|alpha|error|majority`)
    * → the VALUES oracle DuckDB replays: exactly [[qBoost]]'s frame. */
  private def goldenBoostSql(resource: String): String = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val rows = lines.map { l =>
      val Array(t, rule, a, e, maj) = splitGolden(l, 5)
      val cut = rule.lastIndexOf(':')
      val conds = rule.substring(0, cut)
      val label = rule.substring(cut + 1)
      val depth = if (conds.isEmpty) 0 else conds.count(_ == '&') + 1
      s"(CAST($t AS INTEGER), ${q(rule)}, ${q(label)}, $depth, " +
        s"CAST($a AS BIGINT), CAST($e AS BIGINT), ${q(maj)})"
    }
    s"SELECT round, rule, label, depth, alpha_micros, error_micros, " +
      s"majority FROM (VALUES ${rows.mkString(", ")}) " +
      "AS t(round, rule, label, depth, alpha_micros, error_micros, " +
      "majority) ORDER BY round, rule"
  }

  // ---- boosting QA: the boosted ensemble's training confusion —
  //      α-weighted vote over every row. The gate-tier oracle is REAL
  //      SQL end to end: it rebuilds the planted class (the same
  //      md5-hash noise mask, mirrored via Hashing.hash60Sql), routes
  //      every row through the COMMITTED golden trees as CASE
  //      conjunctions, argmaxes the α-weighted label masses with the
  //      same smallest-label tie-break, and aggregates. ----
  def qBoostEval(s: SparkSession, dir: String): DataFrame = {
    val b = boostFit(s, dir)
    b.transform(boostDf(s, dir), "prediction")
      .groupBy(col("cls").as("actual"), col("prediction"))
      .agg(count(lit(1L)).as("n"))
      .orderBy("actual", "prediction")
  }

  val qBoostEvalSql: String = boostEvalSql("golden/boost_sf001_rules.txt")

  private def boostEvalSql(resource: String): String = {
    val (predCols, alphas, labels) = boostScoredParts(resource)
    val rounds = alphas.indices
    val massCols = labels.zipWithIndex.map { case (l, i) =>
      rounds.map(t =>
        s"(CASE WHEN p$t = '$l' THEN CAST(${alphas(t)} AS BIGINT) " +
          "ELSE 0 END)").mkString(" + ") + s" AS m$i"
    }
    val vote = labels.indices.init.map { i =>
      val geAll = (i + 1 until labels.size).map(j => s"m$i >= m$j")
        .mkString(" AND ")
      s"WHEN $geAll THEN '${labels(i)}'"
    }.mkString(" ")
    s"""WITH base AS (${boostBaseSql(withActual = true)}),
       |scored AS (
       |  SELECT actual, ${predCols.mkString(",\n    ")}
       |  FROM base),
       |votes AS (
       |  SELECT actual, ${massCols.mkString(",\n    ")}
       |  FROM scored)
       |SELECT actual,
       |  (CASE $vote ELSE '${labels.last}' END) AS prediction,
       |  count(*) AS n
       |FROM votes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- boosting + soft serving: the boosted ensemble's normalized
  //      α-vote mass shares in EXACT integer micros (Σα is a
  //      driver-side constant; share = (mass·10⁶ + Σα/2) div Σα — the
  //      same half-up integral rounding the fit uses everywhere).
  //      Collapsed to q_predict_proba's float-free pin shape. The
  //      gate-tier oracle is REAL SQL end to end: committed golden
  //      trees → per-round CASE routing → the identical integer share
  //      division (DuckDB's integral `//` on BIGINTs), vote, group.
  //      Tiers above the gate pin per-tier goldens (the weighted fits
  //      are data-dependent), exactly as q_boost does. ----
  /** The shared proba summary behind q_boost_proba and
    * q_boost_roundtrip — both pin the SAME goldens (sweep.py maps the
    * round-trip onto q_boost_proba's tier files), so the projection
    * lives here exactly once. */
  private def boostProbaSummary(b: graft.fit.C45Boost, df: DataFrame): DataFrame =
    b.transformProba(df, "prediction", "p_")
      .select(col("prediction"), col("p_N").as("p_n"), col("p_P").as("p_p"))
      .groupBy("prediction", "p_n", "p_p")
      .agg(count(lit(1)).as("n"))
      .orderBy("prediction", "p_n", "p_p")

  def qBoostProba(s: SparkSession, dir: String): DataFrame =
    boostProbaSummary(boostFit(s, dir), boostDf(s, dir))

  val qBoostProbaSql: String = boostProbaSql("golden/boost_sf001_rules.txt")

  /** The committed golden boost rounds replayed as a full-SQL proba
    * oracle (see above): routing, α masses, integral share division,
    * and the vote, all in one DuckDB query. */
  private def boostProbaSql(resource: String): String = {
    val (predCols, alphas, labels) = boostScoredParts(resource)
    val rounds = alphas.indices
    val sumA = alphas.sum
    val massCols = labels.zipWithIndex.map { case (l, i) =>
      rounds.map(t =>
        s"(CASE WHEN p$t = '$l' THEN CAST(${alphas(t)} AS BIGINT) " +
          "ELSE 0 END)").mkString(" + ") + s" AS m$i"
    }
    val vote = labels.indices.init.map { i =>
      val geAll = (i + 1 until labels.size).map(j => s"m$i >= m$j")
        .mkString(" AND ")
      s"WHEN $geAll THEN '${labels(i)}'"
    }.mkString(" ")
    val shareCols = Seq("p_n", "p_p").zipWithIndex.map { case (nm, i) =>
      s"(m$i * 1000000 + ${sumA / 2}) // $sumA AS $nm"
    }
    s"""WITH base AS (${boostBaseSql(withActual = false)}),
       |scored AS (SELECT ${predCols.mkString(",\n    ")} FROM base),
       |votes AS (SELECT ${massCols.mkString(",\n    ")} FROM scored),
       |shares AS (
       |  SELECT (CASE $vote ELSE '${labels.last}' END) AS prediction,
       |    ${shareCols.mkString(",\n    ")}
       |  FROM votes)
       |SELECT prediction, p_n, p_p, count(*) AS n
       |FROM shares GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- boosting + model registry: train → C45Boost.save → load →
  //      transformProba, bit-identical to the live ensemble — the loop
  //      q_model_roundtrip/q_forest_roundtrip close for the tree and
  //      the bagged forest, now closed for AdaBoost (per-round engine
  //      dirs + the boost.txt α/ε manifest). Oracle = q_boost_proba's,
  //      so any byte the round-trip loses fails the gate. ----
  def qBoostRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val b = boostFit(s, dir)
    // fresh per-invocation dir, deleted eagerly (load collects rules +
    // sidecars to the driver) — same discipline as qModelRoundtrip
    val tmp = java.nio.file.Files.createTempDirectory("graft_c45b_rt")
    val loaded =
      try {
        b.save(s, tmp.toString)
        graft.fit.C45Boost.load(s, tmp.toString, boostSchema)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.delete)
      }
    boostProbaSummary(loaded, boostDf(s, dir))
  }
  val qBoostRoundtripSql: String = qBoostProbaSql

  // ---- boosting diagnostics: the staged error curve — the standard
  //      AdaBoost diagnostic (training confusion of every PREFIX
  //      ensemble 1..T, one row set per stage). Staged predictions are
  //      free: prefix sums of the same per-round CASE WHEN columns in
  //      ONE scoring pass (posexplode + one tiny aggregation — no
  //      per-stage rescan). The gate-tier oracle replays the committed
  //      per-round trees with per-prefix α masses in REAL SQL. ----
  def qBoostStages(s: SparkSession, dir: String): DataFrame =
    boostFit(s, dir).stagedConfusion(boostDf(s, dir), "cls")
      .orderBy("stage", "actual", "prediction")

  val qBoostStagesSql: String = boostStagesSql("golden/boost_sf001_rules.txt")

  private def boostStagesSql(resource: String): String = {
    val (predCols, alphas, labels) = boostScoredParts(resource)
    val stages = (1 to alphas.size).map { k =>
      val massCols = labels.zipWithIndex.map { case (l, i) =>
        (0 until k).map(t =>
          s"(CASE WHEN p$t = '$l' THEN CAST(${alphas(t)} AS BIGINT) " +
            "ELSE 0 END)").mkString(" + ") + s" AS m$i"
      }
      val vote = labels.indices.init.map { i =>
        val geAll = (i + 1 until labels.size).map(j => s"m$i >= m$j")
          .mkString(" AND ")
        s"WHEN $geAll THEN '${labels(i)}'"
      }.mkString(" ")
      s"""SELECT $k AS stage, actual,
         |  (CASE $vote ELSE '${labels.last}' END) AS prediction
         |FROM (SELECT actual, ${massCols.mkString(", ")} FROM scored)""".stripMargin
    }
    s"""WITH base AS (${boostBaseSql(withActual = true)}),
       |scored AS (SELECT actual, ${predCols.mkString(",\n    ")} FROM base)
       |SELECT stage, actual, prediction, count(*) AS n
       |FROM (${stages.mkString("\nUNION ALL\n")})
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- boosting × missing values: AdaBoost.M1 whose weak fits run
  //      under Quinlan's fractional unknown-value semantics — the
  //      q_fit_missing/q_forest_missing capability composed into the
  //      boosted ensemble (the last fractional surface; everything
  //      null-bearing + boosted goes through here). The fixture nulls
  //      ~25% of l_quantity by pure key arithmetic AFTER the planted
  //      class is stamped from the ORIGINAL value, so each weak fit
  //      must recover the planted XOR from the 75% known mass while
  //      null rows descend every split at boost-micros × known-share
  //      (C45Boost scaladoc: the per-round RouteX chain carries the
  //      BOOST weight as its starting mass). The per-round error/
  //      reweight pass stays on deterministic hard routing, the same
  //      eval contract as q_crossval_missing. Oracle: VALUES pin of
  //      the committed golden (round|rule|α|ε|majority), per-tier
  //      goldens above the gate (the weighted fits are
  //      data-dependent), exactly the q_forest_missing pattern. ----
  private val BoostMissingParams = graft.fit.C45BoostParams(
    rounds = 3, base = C45Params(maxDepth = 2, missingMode = "fractional"))

  /** [[boostDf]] with ~25% of l_quantity nulled by key arithmetic —
    * the class is computed from the ORIGINAL columns first (ground
    * truth survives the nulling, the same construction as
    * q_fit_missing). */
  private def boostMissingDf(s: SparkSession, dir: String): DataFrame =
    boostDf(s, dir)
      .withColumn("l_quantity",
        when(pmod(col("l_orderkey") * 31 + col("l_linenumber"),
          lit(4)) === 0, lit(null).cast("double"))
          .otherwise(col("l_quantity")))

  /** The shared fixture fit: one fractional 3-round AdaBoost per dir
    * (q_boost_missing pins the rounds, q_boost_predict_missing its
    * fractional serving). */
  private def boostMissingFit(s: SparkSession, dir: String): graft.fit.C45Boost =
    memoizedFit(s"boost_missing|$dir") {
      graft.fit.C45Boost.fit(boostMissingDf(s, dir), boostSchema,
        BoostMissingParams)
    }

  def qBoostMissing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = boostMissingFit(s, dir)
    b.trees.zipWithIndex.flatMap { case (m, t) =>
      m.leaves.map(r => (t, r.encode, r.label.getOrElse(""), r.depth,
        b.alphaMicros(t), b.errorMicros(t), m.majority))
    }.toDF("round", "rule", "label", "depth", "alpha_micros",
      "error_micros", "majority")
      .orderBy("round", "rule")
  }
  val qBoostMissingSql: String =
    goldenBoostSql("golden/boost_missing_sf001_rules.txt")

  // ---- boosting × missing-value SERVING: the fractional ensemble of
  //      q_boost_missing scores its own null-bearing view through
  //      C45Boost.transformFractional — every weak learner casts
  //      Quinlan's fractional-weight vote over its fit-recorded leaf
  //      masses (a null split value descends every child), then the
  //      α-weighted ensemble vote combines the per-round predictions.
  //      Pure map-side per member, zero joins. The exact per-class
  //      prediction counts over all rows pin every per-row vote;
  //      committed golden at the gate, per-tier goldens above. ----
  def qBoostPredictMissing(s: SparkSession, dir: String): DataFrame = {
    val b = boostMissingFit(s, dir)
    b.transformFractional(boostMissingDf(s, dir), "prediction")
      .groupBy("prediction").agg(count(lit(1L)).as("n"))
      .orderBy("prediction")
  }
  val qBoostPredictMissingSql: String =
    goldenPredCountsSql("golden/boost_pm_sf001.txt")

  /** The planted-class base CTE body shared by the boost oracles (the
    * same md5-noise construction [[boostDf]] plants, mirrored via
    * Hashing.hash60Sql). */
  private def boostBaseSql(withActual: Boolean): String = {
    val hkey = "concat(CAST(l_orderkey AS VARCHAR), '|', " +
      "CAST(l_linenumber AS VARCHAR))"
    val noisy = s"(${graft.functions.Hashing.hash60Sql(hkey)} % 10 = 0)"
    val actual =
      if (!withActual) ""
      else s""",
         |    (CASE WHEN ((l_returnflag = 'A') = (l_quantity <= 25.0))
         |       <> $noisy THEN 'P' ELSE 'N' END) AS actual""".stripMargin
    s"""
       |  SELECT l_returnflag, l_quantity, l_discount$actual
       |  FROM lineitem""".stripMargin
  }

  /** Committed golden boost rounds → the per-round SQL CASE prediction
    * columns (`p<t>`), the per-round α micros, and the label order —
    * the shared scaffolding of every boost replay oracle. */
  private def boostScoredParts(resource: String)
      : (Seq[String], Seq[Long], Seq[String]) = {
    val src = scala.io.Source.fromResource(resource)
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val names = Seq("l_returnflag", "l_quantity", "l_discount")
    def condSql(aid: Int, sp: graft.model.Split): String = sp match {
      case graft.model.CatEq(v) => s"${names(aid)} = '${v.replace("'", "''")}'"
      case graft.model.NumLE(b) => s"CAST(${names(aid)} AS DOUBLE) <= $b"
      case graft.model.NumGT(b) => s"CAST(${names(aid)} AS DOUBLE) > $b"
    }
    val parsed = lines.map { l =>
      val Array(t, rule, a, _, maj) = splitGolden(l, 5)
      (t.toInt, graft.model.Rule.decode(rule), a.toLong, maj)
    }
    val byRound = parsed.groupBy(_._1)
    val rounds = byRound.keys.toSeq.sorted
    val predCols = rounds.map { t =>
      val g = byRound(t)
      val whens = g.map { case (_, r, _, _) =>
        val cond = r.conditions.map { case (aid, sp) => condSql(aid, sp) }
          .mkString(" AND ")
        s"WHEN ${if (cond.isEmpty) "TRUE" else cond} THEN '${r.label.get}'"
      }.mkString(" ")
      s"(CASE $whens ELSE '${g.head._4}' END) AS p$t"
    }
    (predCols, rounds.map(t => byRound(t).head._3), Seq("N", "P"))
  }

  /** Flagship (SparkEntry.entry): rank every attribute by root gain
    * ratio — the reference's level-0 decision, end to end. */
  def rootRank(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
    val catCells = d.select(col("l_linestatus").as("cls"),
      explode(map(
        lit("l_returnflag"), col("l_returnflag"),
        lit("l_linenumber"), col("l_linenumber").cast("string"))).as(Seq("attr", "val")))
      .groupBy("attr", "val", "cls").agg(count(lit(1)).as("cnt"))
    val cat = InfoStats.categoricalSplitStats(catCells, Seq("attr"))
      .select(col("attr"), lit(null).cast("double").as("boundary"),
        col("gain").as("gain"), col("gain_ratio").as("gain_ratio"))
    // l_extendedprice is effectively-continuous: quantile-bin it so the
    // per-attr scan window stays bounded at any scale (same maxBins
    // treatment the fit applies; the other attrs are low-cardinality)
    val epEdges = d.stat.approxQuantile("l_extendedprice",
      (1 until 256).map(_ / 256.0).toArray, 1e-4).distinct.sorted
    val epCol =
      if (epEdges.isEmpty) col("l_extendedprice").cast("double")
      else graft.functions.SortedCeilSnap.snapTo(epEdges,
        col("l_extendedprice").cast("double"))
    val numDf = d.select(col("l_linestatus").as("cls"),
      explode(map(
        lit("l_quantity"), col("l_quantity").cast("double"),
        lit("l_discount"), col("l_discount").cast("double"),
        lit("l_tax"), col("l_tax").cast("double"),
        lit("l_extendedprice"), epCol)).as(Seq("attr", "val")))
    val num = InfoStats.bestSplits(
      InfoStats.boundaryScan(numDf, Seq("attr"), ClassLabels), Seq("attr"))
      .select(col("attr"), col("boundary"), col("gain"), col("gain_ratio"))
    cat.unionByName(num)
      .select(col("attr"), col("boundary"), r6(col("gain")).as("gain"),
        r6(col("gain_ratio")).as("gain_ratio"))
      .orderBy(col("gain_ratio").desc, col("attr"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan" -> (qScan _),
    "q_filter" -> (qFilter _),
    "q_count" -> (qCount _),
    "q_class_counts" -> (qClassCounts _),
    "q_contingency" -> (qContingency _),
    "q_expand" -> (qExpand _),
    "q_entropy" -> (qEntropy _),
    "q_split_info" -> (qSplitInfo _),
    "q_cond_entropy" -> (qCondEntropy _),
    "q_gain_ratio" -> (qGainRatio _),
    "q_split_scan" -> (qSplitScan _),
    "q_best_split" -> (qBestSplit _),
    "q_argmax" -> (qArgmax _),
    "q_sort" -> (qSort _),
    "q_scalar" -> (qScalar _),
    "q_join_agg" -> (qJoinAgg _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_setops" -> (qSetOps _),
    "q_setops_all" -> (qSetOpsAll _),
    "q_predict" -> (qPredict _),
    "q_predict_proba" -> (qPredictProba _),
    "q_predict_missing" -> (qPredictMissing _),
    "q_confusion" -> (qConfusion _),
    "q_running" -> (qRunning _),
    "q_quantiles" -> (qQuantiles _),
    "q_fit_tree" -> (qFitTree _),
    "q_fit_deep" -> (qFitDeep _),
    "q_fit_missing" -> (qFitMissing _),
    "q_fit_pruned" -> (qFitPruned _),
    "q_fit_raised" -> (qFitRaised _),
    "q_fit_windowed" -> (qFitWindowed _),
    "q_rule_simplify" -> (qRuleSimplify _),
    "q_simplify_proba" -> (qSimplifyProba _),
    "q_crossval" -> (qCrossVal _),
    "q_crossval_missing" -> (qCrossValMissing _),
    "q_model_roundtrip" -> (qModelRoundtrip _),
    "q_forest" -> (qForest _),
    "q_forest_missing" -> (qForestMissing _),
    "q_forest_mtry" -> (qForestMtry _),
    "q_forest_predict_missing" -> (qForestPredictMissing _),
    "q_forest_oob" -> (qForestOob _),
    "q_forest_proba" -> (qForestProba _),
    "q_forest_importance" -> (qForestImportance _),
    "q_stream_forest" -> (qStreamForest _),
    "q_forest_roundtrip" -> (qForestRoundtrip _),
    "q_boost" -> (qBoost _),
    "q_boost_eval" -> (qBoostEval _),
    "q_boost_missing" -> (qBoostMissing _),
    "q_boost_predict_missing" -> (qBoostPredictMissing _),
    "q_boost_proba" -> (qBoostProba _),
    "q_boost_roundtrip" -> (qBoostRoundtrip _),
    "q_boost_stages" -> (qBoostStages _),
    "q_feature_importance" -> (qFeatureImportance _),
    "q_attr_meta" -> (qAttrMeta _),
    "q_rule_codec" -> (qRuleCodec _),
  )

  val oracles: Map[String, String] = Map(
    "q_scan" -> qScanSql,
    "q_filter" -> qFilterSql,
    "q_count" -> qCountSql,
    "q_class_counts" -> qClassCountsSql,
    "q_contingency" -> qContingencySql,
    "q_expand" -> qExpandSql,
    "q_entropy" -> qEntropySql,
    "q_split_info" -> qSplitInfoSql,
    "q_cond_entropy" -> qCondEntropySql,
    "q_gain_ratio" -> qGainRatioSql,
    "q_split_scan" -> qSplitScanSql,
    "q_best_split" -> qBestSplitSql,
    "q_argmax" -> qArgmaxSql,
    "q_sort" -> qSortSql,
    "q_scalar" -> qScalarSql,
    "q_join_agg" -> qJoinAggSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_distinct_agg" -> qDistinctAggSql,
    "q_setops" -> qSetOpsSql,
    "q_setops_all" -> qSetOpsAllSql,
    "q_predict" -> qPredictSql,
    "q_predict_proba" -> qPredictProbaSql,
    "q_predict_missing" -> qPredictMissingSql,
    "q_confusion" -> qConfusionSql,
    "q_running" -> qRunningSql,
    "q_quantiles" -> qQuantilesSql,
    "q_fit_tree" -> qFitTreeSql,
    "q_fit_deep" -> qFitDeepSql,
    "q_fit_missing" -> qFitMissingSql,
    "q_fit_pruned" -> qFitPrunedSql,
    "q_fit_raised" -> qFitRaisedSql,
    "q_fit_windowed" -> qFitWindowedSql,
    "q_rule_simplify" -> qRuleSimplifySql,
    "q_simplify_proba" -> qSimplifyProbaSql,
    "q_crossval" -> qCrossValSql,
    "q_crossval_missing" -> qCrossValMissingSql,
    "q_model_roundtrip" -> qModelRoundtripSql,
    "q_forest" -> qForestSql,
    "q_forest_missing" -> qForestMissingSql,
    "q_forest_mtry" -> qForestMtrySql,
    "q_forest_predict_missing" -> qForestPredictMissingSql,
    "q_forest_oob" -> qForestOobSql,
    "q_forest_proba" -> qForestProbaSql,
    "q_forest_importance" -> qForestImportanceSql,
    "q_stream_forest" -> qStreamForestSql,
    "q_forest_roundtrip" -> qForestRoundtripSql,
    "q_boost" -> qBoostSql,
    "q_boost_eval" -> qBoostEvalSql,
    "q_boost_missing" -> qBoostMissingSql,
    "q_boost_predict_missing" -> qBoostPredictMissingSql,
    "q_boost_proba" -> qBoostProbaSql,
    "q_boost_roundtrip" -> qBoostRoundtripSql,
    "q_boost_stages" -> qBoostStagesSql,
    "q_feature_importance" -> qFeatureImportanceSql,
    "q_attr_meta" -> qAttrMetaSql,
    "q_rule_codec" -> qRuleCodecSql,
  )
}
