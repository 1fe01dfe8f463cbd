package graft.operators

import graft.{QDef, QFamily}
import graft.util.D._
import graft.util.Sq
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}

/** Core relational surface (SURVEY.md §2.1) — the Spark-native
  * re-expression of pd-explain's ExpDataFrame operation set
  * (reference: /root/reference/src/pd_explain/core/explainable_data_frame.py:
  * __getitem__/where/groupby/merge/join/sample/drop_duplicates/...).
  *
  * Scale notes: every filter/projection pushes to the parquet scan;
  * dimension joins (customer/supplier/nation/region) are broadcast; the
  * only large shuffle is lineitem⋈orders on the join key. Aggregations
  * use map-side partial aggregation for free via groupBy.
  */
object Relational extends QFamily {

  private def q(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, Some(sql), fn)

  val defs: Seq[QDef] = Seq(
    // ---- filter + projection (pushed to scan) --------------------------
    q("q_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },

    q("q_project",
      s"""SELECT l_orderkey, l_linenumber,
        |  ${Sq.dmul("l_extendedprice", "1 - l_discount")} AS disc_price,
        |  ${Sq.dmul("l_extendedprice", "1 + l_tax")} AS charge_base
        |FROM lineitem WHERE l_orderkey % 50 = 7
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          emit6(revenue(col("l_extendedprice"), col("l_discount"))).as("disc_price"),
          emit6(dmul(col("l_extendedprice"), lit(1.0) + col("l_tax"))).as("charge_base"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- groupBy + agg (TPC-H Q1 shape) --------------------------------
    q("q_groupby_agg",
      s"""SELECT l_returnflag, l_linestatus,
        |  ${Sq.dsum("l_quantity")} AS sum_qty,
        |  ${Sq.dsum("l_extendedprice")} AS sum_base_price,
        |  ${Sq.revsum("l_extendedprice", "l_discount")} AS sum_disc_price,
        |  ROUND(${Sq.dsum("l_quantity")} / COUNT(*), 6) AS avg_qty,
        |  ROUND(${Sq.dsum("l_discount")} / COUNT(*), 6) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsumd(col("l_quantity")).as("sum_qty"),
          dsumd(col("l_extendedprice")).as("sum_base_price"),
          dsumprod(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("sum_disc_price"),
          r(dsumd(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          r(dsumd(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    q("q_groupby_nunique",
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderstatus) AS n_status,
        |  ${Sq.dsum("o_totalprice")} AS total_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderstatus")).as("n_status"),
          dsumd(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority")
    },

    // ---- moment statistics from decimal-exact sums ---------------------
    q("q_agg_stats",
      s"""SELECT l_returnflag, COUNT(*) AS n,
        |  ${Sq.mean("l_quantity")} AS mean_qty,
        |  ROUND(${Sq.varSamp("l_quantity")}, 6) AS var_qty,
        |  ROUND(SQRT(${Sq.varSamp("l_quantity")}), 6) AS std_qty,
        |  ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val n = count(lit(1))
      // stats denominators are COUNT(col) — null-skipping, the SQL
      // AVG/VAR convention the oracle states; COUNT(*) is only the
      // reported row count (they differ on dirty data with null values)
      val nq = count(col("l_quantity"))
      val sm = dsumd(col("l_quantity"))
      val sq = dsumsq(col("l_quantity"))
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(n.as("n"),
          r(sm / nq).as("mean_qty"),
          r(varSamp(sm, sq, nq)).as("var_qty"),
          r(sqrt(varSamp(sm, sq, nq))).as("std_qty"),
          r(percentile(col("l_quantity"), lit(0.5)), 4).as("median_qty"))
        .orderBy("l_returnflag")
    },

    // ---- joins ---------------------------------------------------------
    q("q_join",
      s"""SELECT c_mktsegment, COUNT(*) AS n_lines,
        |  ${Sq.revsum("l_extendedprice", "l_discount")} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_lines"),
          dsumprod(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
        .orderBy("c_mktsegment")
    },

    q("q_join_multi",
      s"""SELECT r_name, n_name, COUNT(*) AS n_lines,
        |  ${Sq.revsum("l_extendedprice", "l_discount")} AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_lines"),
          dsumprod(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
        .orderBy("r_name", "n_name")
    },

    q("q_left_join",
      s"""SELECT c_mktsegment,
        |  COUNT(DISTINCT c_custkey) AS n_customers,
        |  COUNT(DISTINCT CASE WHEN o_orderkey IS NOT NULL THEN c_custkey END) AS n_with_orders,
        |  COUNT(o_orderkey) AS n_orders,
        |  ${Sq.dsum("COALESCE(o_totalprice, 0)")} AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          countDistinct(when(col("o_orderkey").isNotNull, col("c_custkey"))).as("n_with_orders"),
          count(col("o_orderkey")).as("n_orders"),
          dsumd(coalesce(col("o_totalprice"), lit(0.0))).as("spend"))
        .orderBy("c_mktsegment")
    },

    // merge(how='right') surface (reference explainable_data_frame.py:809)
    q("q_right_join",
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"), "right")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_orders"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).cast("long").as("n_unmatched"))
        .orderBy("c_mktsegment")
    },

    // merge(how='outer') surface: per-customer order counts by status,
    // full-outer joined so either side may be absent
    q("q_outer_join",
      """SELECT COALESCE(f.o_custkey, o.o_custkey) AS custkey, f.n_f, o.n_o
        |FROM (SELECT o_custkey, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f
        |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) o
        |ON f.o_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      val ord = t(s, dir, "orders")
      val f = ord.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("ck_f")).agg(count(lit(1)).as("n_f"))
      val o = ord.filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey").as("ck_o")).agg(count(lit(1)).as("n_o"))
      f.join(o, col("ck_f") === col("ck_o"), "full_outer")
        .select(coalesce(col("ck_f"), col("ck_o")).as("custkey"), col("n_f"), col("n_o"))
        .orderBy("custkey")
    },

    q("q_semi_anti",
      """SELECT c_mktsegment, kind, COUNT(*) AS n FROM (
        |  SELECT c_mktsegment, 'with_orders' AS kind FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  UNION ALL
        |  SELECT c_mktsegment, 'without_orders' AS kind FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |) GROUP BY c_mktsegment, kind ORDER BY c_mktsegment, kind""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      // ONE pass, not a semi + anti pair: the two EXISTS legs partition
      // customer by the same membership test, so a single left join
      // against the distinct purchaser keys (orders aggregated
      // map-side-combined to key cardinality before the shuffle) labels
      // every row in one go — half the scans and half the shuffled
      // bytes of running the join twice with opposite polarity.
      val keys = o.select(col("o_custkey")).where(col("o_custkey").isNotNull).distinct()
      c.join(keys, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"),
          when(col("o_custkey").isNotNull, "with_orders")
            .otherwise("without_orders").as("kind"))
        .groupBy("c_mktsegment", "kind").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment", "kind")
    },

    // ---- set operations ------------------------------------------------
    q("q_union",
      """SELECT c_mktsegment, COUNT(*) AS n FROM (
        |  SELECT c_mktsegment FROM customer WHERE c_acctbal < 0
        |  UNION ALL
        |  SELECT c_mktsegment FROM customer WHERE c_acctbal > 9000
        |) GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      c.filter(col("c_acctbal") < 0).select("c_mktsegment")
        .unionByName(c.filter(col("c_acctbal") > 9000).select("c_mktsegment"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    q("q_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },

    q("q_except",
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    q("q_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) AS ship_year
        |FROM lineitem ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus", "ship_year")
    },

    // ---- ordering / top-k ----------------------------------------------
    q("q_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },

    q("q_value_counts",
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM lineitem), 6) AS share
        |FROM lineitem GROUP BY l_returnflag ORDER BY cnt DESC, l_returnflag""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // scalar total via broadcast cross join (NOT a global window, which
      // would single-partition the data at scale); the total re-sums the
      // group counts so both subtrees share one scan via exchange reuse
      val grouped = li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      val total = grouped.agg(sum(col("cnt")).as("total"))
      grouped
        .crossJoin(broadcast(total))
        .select(col("l_returnflag"), col("cnt"),
          r(col("cnt").cast("double") / col("total")).as("share"))
        .orderBy(col("cnt").desc, col("l_returnflag"))
    },

    // ---- describe ------------------------------------------------------
    q("q_describe",
      Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
        s"""SELECT '$c' AS col, COUNT($c) AS n,
           |  ${Sq.mean(c)} AS mean,
           |  ROUND(SQRT(${Sq.varSamp(c)}), 6) AS std,
           |  MIN($c) AS min_v,
           |  ROUND(CAST(quantile_cont($c, 0.25) AS DOUBLE), 4) AS q25,
           |  ROUND(CAST(quantile_cont($c, 0.5) AS DOUBLE), 4) AS q50,
           |  ROUND(CAST(quantile_cont($c, 0.75) AS DOUBLE), 4) AS q75,
           |  MAX($c) AS max_v
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col")) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // ONE scan computes every column's stats; the per-column rows
      // explode from the single aggregated row (a union of per-column
      // aggs would scan lineitem once per column)
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = cs.flatMap { c =>
        val n = count(col(c))
        val sm = dsumd(col(c))
        val sq = dsumsq(col(c))
        Seq(n.as(s"${c}__n"),
          r(sm / n).as(s"${c}__mean"),
          r(sqrt(varSamp(sm, sq, n))).as(s"${c}__std"),
          min(col(c)).as(s"${c}__min_v"),
          r(percentile(col(c), lit(0.25)), 4).as(s"${c}__q25"),
          r(percentile(col(c), lit(0.5)), 4).as(s"${c}__q50"),
          r(percentile(col(c), lit(0.75)), 4).as(s"${c}__q75"),
          max(col(c)).as(s"${c}__max_v"))
      }
      li.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cs.map(c => struct(lit(c).as("col"),
          col(s"${c}__n").as("n"), col(s"${c}__mean").as("mean"),
          col(s"${c}__std").as("std"), col(s"${c}__min_v").as("min_v"),
          col(s"${c}__q25").as("q25"), col(s"${c}__q50").as("q50"),
          col(s"${c}__q75").as("q75"), col(s"${c}__max_v").as("max_v"))): _*)).as("p"))
        .select(col("p.col").as("col"), col("p.n").as("n"), col("p.mean").as("mean"),
          col("p.std").as("std"), col("p.min_v").as("min_v"), col("p.q25").as("q25"),
          col("p.q50").as("q50"), col("p.q75").as("q75"), col("p.max_v").as("max_v"))
        .orderBy("col")
    },

    // ---- window functions ----------------------------------------------
    q("q_window",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  lag(l_quantity) OVER w AS prev_qty,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6)))
        |       OVER (PARTITION BY l_suppkey ORDER BY l_shipdate NULLS LAST, l_orderkey NULLS LAST, l_linenumber NULLS LAST, l_quantity NULLS LAST, l_partkey NULLS LAST
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(25,6)) AS DOUBLE) AS run_qty
        |FROM lineitem WHERE l_suppkey <= 2
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate NULLS LAST, l_orderkey NULLS LAST, l_linenumber NULLS LAST, l_quantity NULLS LAST, l_partkey NULLS LAST)
        |ORDER BY l_suppkey, rn""".stripMargin) { (s, dir) =>
      // the window ordering is explicit about NULL placement on EVERY
      // sort key (Spark defaults NULLS FIRST, SQL NULLS LAST — divergent
      // on dirty keys; relying on "this column is never null today" is a
      // latent oracle divergence) and extended to a near-total key so
      // duplicate (orderkey, linenumber) rows from dirty data cannot make
      // lag() order-dependent
      val w = Window.partitionBy("l_suppkey").orderBy(
        col("l_shipdate").asc_nulls_last,
        col("l_orderkey").asc_nulls_last,
        col("l_linenumber").asc_nulls_last,
        col("l_quantity").asc_nulls_last,
        col("l_partkey").asc_nulls_last)
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 2)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          emit6(sum(col("l_quantity").cast(dec25)).over(wr)).as("run_qty"))
        .orderBy("l_suppkey", "rn")
    },

    // ---- pivot ---------------------------------------------------------
    q("q_pivot",
      s"""SELECT l_returnflag,
        |  ${Sq.dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
        |  ${Sq.dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsumd(col("l_quantity")))
        .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))
        .orderBy("l_returnflag")
    },

    // ---- rollup --------------------------------------------------------
    q("q_rollup",
      s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  ${Sq.dsum("o_totalprice")} AS total
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"), dsumd(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status")
    },

    // ---- cube (all grouping-set combinations) --------------------------
    q("q_cube",
      s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n, ${Sq.dsum("o_totalprice")} AS total
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"), dsumd(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status")
    },

    // ---- string function family (pandas .str accessor surface) ---------
    q("q_string_ops",
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 8)) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  replace(p_brand, 'Brand', 'B') AS brand_short,
        |  lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
        |  regexp_extract(p_type, '([A-Z]+)', 1) AS type_word,
        |  CAST(contains(p_name, 'a') AS INT) AS has_a,
        |  split_part(p_type, ' ', 1) AS type_first
        |FROM part WHERE p_partkey % 4 = 1 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") % 4 === 1)
        .select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_brand"), "Brand", "B").as("brand_short"),
          lpad(col("p_size").cast("string"), 3, "0").as("size_padded"),
          regexp_extract(col("p_type"), "([A-Z]+)", 1).as("type_word"),
          col("p_name").contains("a").cast("int").as("has_a"),
          split(col("p_type"), " ").getItem(0).as("type_first"))
        .orderBy("p_partkey")
    },

    // ---- date/time function family -------------------------------------
    // dayofweek: Spark is 1=Sunday..7=Saturday; DuckDB dayofweek is
    // 0=Sunday..6 → +1 in the oracle.
    q("q_date_ops",
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
        |FROM orders WHERE o_orderkey % 25 = 3 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 25 === 3)
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofweek(col("o_orderdate")).as("dow"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy("o_orderkey")
    },

    // ---- sketch-based scale path (tolerance oracle) --------------------
    // Sketch OUTPUTS are not cross-engine reproducible (HLL register
    // layout and t-digest interpolation are engine-specific), so the
    // oracle doesn't compare them — it compares the documented error
    // ENVELOPE: the Spark side computes both sketch and exact values in
    // ONE grouped pass and emits within-tolerance flags; the oracle
    // asserts the flags are all 1 (plus the exact columns bit-for-bit).
    //  - approx_count_distinct: default rsd 0.05 → |est − exact| ≤ 15%
    //    of exact (3σ of the HLL++ guarantee);
    //  - approx_percentile(accuracy=1000): rank error ≤ 1/1000 ≪ the
    //    asserted [p45, p55] exact-rank band.
    // A sketch that drifts out of its envelope turns a flag 0 and fails
    // the hash compare — a real check, not a rows-only count.
    // NOTE the exact companions (countDistinct / percentile — the
    // latter buffers each group's values) exist ONLY to measure the
    // envelope at bench scale; the production scale path is the sketch
    // aggregates alone, which a user calls directly (they're Spark
    // builtins) without the exact columns this oracle query pairs in.
    q("q_approx_stats",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  CAST(1 AS BIGINT) AS parts_within_tol,
        |  CAST(1 AS BIGINT) AS median_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("apx_parts"),
          approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("apx_med"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n"),
          expr("percentile(l_extendedprice, 0.45D)").as("p45"),
          expr("percentile(l_extendedprice, 0.55D)").as("p55"))
        .select(col("l_returnflag"), col("n"), col("n_parts"),
          when(abs(col("apx_parts") - col("n_parts")) <= lit(0.15) * col("n_parts"), lit(1L))
            .otherwise(lit(0L)).as("parts_within_tol"),
          when(col("apx_med").between(col("p45"), col("p55")), lit(1L))
            .otherwise(lit(0L)).as("median_within_tol"))
        .orderBy("l_returnflag")
    },

    // KMV (k-minimum-values) distinct sketch: unlike HLL the sketch
    // state is DETERMINISTIC — the k smallest 60-bit md5 hashes are the
    // same in every engine — so the approximate estimate itself is
    // oracle-checkable bit-for-bit. est = (k−1)·2^60 / kth_min once ≥ k
    // distinct hashes are seen, else the exact distinct count. The same
    // shape merges across partitions/streams at scale: state per group
    // is k longs, union = k smallest of the concatenation.
    q("q_approx_kmv",
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, h,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        |  FROM h)
        |SELECT l_returnflag, nd_exact,
        |  CAST(CASE WHEN nd_exact >= 256
        |       THEN CAST(ROUND(255.0 * 1152921504606846976.0 / kth) AS BIGINT)
        |       ELSE nd_exact END AS BIGINT) AS nd_est
        |FROM (SELECT l_returnflag, COUNT(*) AS nd_exact,
        |    MAX(CASE WHEN rn = 256 THEN h END) AS kth
        |  FROM r GROUP BY 1)
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val k = 256
      // bounded-state sketch aggregate (KMinAgg: k longs, map-side
      // combined, dedup inherent) — no distinct() pre-shuffle and no
      // row_number() sort of the distinct hash set. countDistinct rides
      // the same aggregation for the exact count the query also reports.
      val h = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          conv(substring(md5(col("l_partkey").cast("string").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("h"))
      h.groupBy("l_returnflag")
        .agg(countDistinct(col("h")).as("nd_exact"),
          graft.functions.KMinAgg.kmin(col("h"), k).as("hs"))
        .select(col("l_returnflag"), col("nd_exact"),
          when(col("nd_exact") >= k,
            round(lit((k - 1).toDouble) * lit(1152921504606846976.0) / get(col("hs"), lit(k - 1)), 0)
              .cast("long"))
            .otherwise(col("nd_exact")).cast("long").as("nd_est"))
        .orderBy("l_returnflag")
    },

    // ---- sketch-based join cardinality estimate ------------------------
    // the optimizer-style diagnostic behind "should this join broadcast /
    // how big is the key overlap": per-side KMV sketches (k=256 bounded
    // longs, ONE map-side-combined aggregation per side — at 100 TB the
    // sketch is the ONLY thing that moves) merge into a union sketch
    // (k-min of the two k-mins) from which distinct-key union, Jaccard,
    // and intersection estimates all derive WITHOUT touching either
    // table again; the exact controls ride along as the audit columns
    // (and make the whole row oracle-checkable — the estimate itself is
    // deterministic md5 arithmetic). Same estimator family as
    // q_approx_kmv/q_kmv_merge.
    q("q_join_size_est",
      s"""WITH ha0 AS (SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |hb0 AS (SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |ra AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha0),
        |rb AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb0),
        |sa AS (SELECT COUNT(*) AS nd_a, MAX(CASE WHEN rn = 256 THEN h END) AS kth FROM ra),
        |sb AS (SELECT COUNT(*) AS nd_b, MAX(CASE WHEN rn = 256 THEN h END) AS kth FROM rb),
        |us AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM (
        |    SELECT DISTINCT h FROM (SELECT h FROM ra WHERE rn <= 256
        |                            UNION ALL SELECT h FROM rb WHERE rn <= 256))),
        |ust AS (SELECT COUNT(*) AS ndu, MAX(CASE WHEN rn = 256 THEN h END) AS kthu,
        |    CAST(LEAST(COUNT(*), 256) AS BIGINT) AS un_size FROM us),
        |sh AS (SELECT COUNT(*) AS n_shared FROM us
        |  WHERE rn <= 256 AND h IN (SELECT h FROM ra WHERE rn <= 256)
        |    AND h IN (SELECT h FROM rb WHERE rn <= 256)),
        |ie AS (SELECT COUNT(*) AS inter_exact
        |  FROM (SELECT DISTINCT o_custkey AS k FROM orders) o
        |  JOIN customer c ON o.k = c.c_custkey),
        |est AS (SELECT
        |    CAST(sa.nd_a AS BIGINT) AS nd_a_exact,
        |    CAST(CASE WHEN sa.nd_a >= 256 THEN CAST(ROUND(255.0 * 1152921504606846976.0 / sa.kth) AS BIGINT) ELSE sa.nd_a END AS BIGINT) AS nd_a_est,
        |    CAST(sb.nd_b AS BIGINT) AS nd_b_exact,
        |    CAST(CASE WHEN sb.nd_b >= 256 THEN CAST(ROUND(255.0 * 1152921504606846976.0 / sb.kth) AS BIGINT) ELSE sb.nd_b END AS BIGINT) AS nd_b_est,
        |    CAST(CASE WHEN ust.ndu >= 256 THEN CAST(ROUND(255.0 * 1152921504606846976.0 / ust.kthu) AS BIGINT) ELSE ust.ndu END AS BIGINT) AS nd_union_est,
        |    ust.un_size, sh.n_shared, ie.inter_exact
        |  FROM sa, sb, ust, sh, ie)
        |SELECT nd_a_exact, nd_a_est, nd_b_exact, nd_b_est, nd_union_est,
        |  ROUND(CAST(n_shared AS DOUBLE) / un_size, 6) AS jaccard_est,
        |  CAST(ROUND(CAST(n_shared AS DOUBLE) * nd_union_est / un_size) AS BIGINT) AS inter_est,
        |  CAST(inter_exact AS BIGINT) AS inter_exact
        |FROM est""".stripMargin) { (s, dir) =>
      val k = 256
      val big = 1152921504606846976.0
      def hcol(c: Column) =
        conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10).cast("long")
      def est(nd: Column, hs: Column): Column =
        when(nd >= k, round(lit((k - 1).toDouble) * lit(big) / get(hs, lit(k - 1)), 0)
          .cast("long")).otherwise(nd).cast("long")
      val a = t(s, dir, "orders").select(hcol(col("o_custkey")).as("h"))
        .agg(countDistinct(col("h")).as("nd_a"),
          graft.functions.KMinAgg.kmin(col("h"), k).as("ha"))
      val b = t(s, dir, "customer").select(hcol(col("c_custkey")).as("h"))
        .agg(countDistinct(col("h")).as("nd_b"),
          graft.functions.KMinAgg.kmin(col("h"), k).as("hb"))
      val ie = t(s, dir, "orders").select(col("o_custkey").as("jk")).distinct()
        .join(t(s, dir, "customer").select(col("c_custkey").as("jk")), Seq("jk"), "left_semi")
        .agg(count(lit(1)).as("inter_exact"))
      val dun = array_sort(array_distinct(concat(col("ha"), col("hb"))))
      a.crossJoin(b).crossJoin(ie)
        .withColumn("dun", dun)
        .withColumn("un", slice(col("dun"), 1, k))
        .withColumn("un_size", least(size(col("dun")), lit(k)).cast("long"))
        .withColumn("ndu", size(col("dun")).cast("long"))
        .withColumn("n_shared",
          size(array_intersect(col("un"), array_intersect(col("ha"), col("hb")))).cast("long"))
        .withColumn("nd_union_est",
          when(col("ndu") >= k, round(lit((k - 1).toDouble) * lit(big) / get(col("un"), lit(k - 1)), 0)
            .cast("long")).otherwise(col("ndu")).cast("long"))
        .select(
          col("nd_a").cast("long").as("nd_a_exact"), est(col("nd_a"), col("ha")).as("nd_a_est"),
          col("nd_b").cast("long").as("nd_b_exact"), est(col("nd_b"), col("hb")).as("nd_b_est"),
          col("nd_union_est"),
          r(col("n_shared").cast(DoubleType) / col("un_size"), 6).as("jaccard_est"),
          round(col("n_shared").cast(DoubleType) * col("nd_union_est") / col("un_size"), 0)
            .cast("long").as("inter_est"),
          col("inter_exact").cast("long").as("inter_exact"))
    },

    // ---- per-column data-quality profile -------------------------------
    // the standard DQ/profiling report (null counts, distinct counts,
    // null fraction per column) every ingestion gate runs: ONE corpus
    // scan with per-column conditional + distinct aggregates (Spark
    // plans the multi-distinct via Expand — one pass, column-count×
    // internal fanout), melted into one row per column from the single
    // aggregated row. At 100 TB the exact distincts swap for
    // approx_count_distinct without changing the shape.
    q("q_null_profile", {
      val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
        "l_quantity", "l_discount")
      val sels = cols.map(c =>
        s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  ROUND(CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS frac_null
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
      s"$sels\nORDER BY column_name"
    }) { (s, dir) =>
      val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
        "l_quantity", "l_discount")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")))
      val one = t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      val melted = explode(array(cols.map(c => struct(
        lit(c).as("column_name"), col("n_rows").cast(LongType).as("n_rows"),
        col(s"nn_$c").cast(LongType).as("n_null"),
        col(s"nd_$c").cast(LongType).as("n_distinct"))): _*)).as("m")
      one.select(melted)
        .select(col("m.column_name"), col("m.n_rows"), col("m.n_null"), col("m.n_distinct"),
          r(col("m.n_null").cast(DoubleType) / col("m.n_rows"), 6).as("frac_null"))
        .orderBy("column_name")
    },

    // ---- Bloom-prefiltered join (explicit runtime filter) --------------
    // the runtime-filter optimization as a checked artifact: the
    // BUILDING-segment customer keys fold into a 16 KB Bloom bitmap
    // (broadcast at ANY build-side size), the orders scan drops
    // non-member keys SCAN-LOCALLY before its shuffle, and the real
    // key join removes the false positives — no false negatives by
    // construction, so the oracle is the PLAIN join: the rewrite
    // shrinks the probe-side shuffle and changes nothing else. At
    // 100 TB this is the difference between shuffling every order and
    // shuffling only the ~1/5 that can match.
    q("q_bloom_join",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 6) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import graft.text.Bloom
      // Hash parity with the oracle is NOT needed here (no false
      // negatives → oracle is the plain join), so the probe-side scan
      // uses codegen'd xxhash64, not the corpus md5 convention: the
      // per-row cost is a few long multiplies instead of a string md5 +
      // hex conv, which at sf1 was the whole query (md5 over every
      // orders row ≈ 1.3 s of the 1.5 s total). Masked non-negative so
      // the Kirsch–Mitzenmacher stride arithmetic stays in [0, 2^63).
      def hcol(c: Column) = xxhash64(c).bitwiseAND(lit(Long.MaxValue))
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      // driver-held 16 KB bitmap → the probe filter is literal long
      // arithmetic inside the orders scan's codegen (no broadcast
      // exchange); the one-row collect is the build side's job either way
      val bm = Bloom.bitmapWords(cust.select(hcol(col("c_custkey")).as("h")))
      val pre = Bloom.filterByBloomWords(
        t(s, dir, "orders").select("o_custkey", "o_orderpriority", "o_totalprice"),
        hcol(col("o_custkey")), bm)
      pre.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).cast(LongType).as("n_orders"),
          dsumd(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority")
    },

    // ---- market-basket pair mining (co-occurrence + lift) --------------
    // frequent brand PAIRS across order baskets: support (orders holding
    // both brands) and lift (support·N / (n_a·n_b)) per unordered pair —
    // the association-rule first step (Apriori's k=2 layer, which at
    // LLM-corpus scale is also the doc-level tag/domain co-occurrence
    // miner). Shape: dictionary-encode the item vocabulary (bounded —
    // collected + broadcast, the same KB contract as the cell table),
    // then ONE corpus shuffle — groupBy(order) bit_or's each basket to
    // a single LONG mask — and ONE native MaskPairCountAgg pass turns
    // 1.5M masks into the w(w+1)/2 triangular cell vector by set-bit
    // iteration: no pair rows ever exist (the double-explode form
    // materialized ~22M rows at sf1 and measured 2.5 s; the basket-
    // keyed self-join 7 s; this form ~1 s). The exchange after the
    // basket agg carries |partitions| × ~3 KB buffers, nothing else.
    // Diagonal cells are the per-brand marginals, and the basket TOTAL
    // rides in the same pass via a sentinel bit (w) set on every mask —
    // one corpus job produces pairs, marginals, AND the total. Lift
    // math finishes driver-side from the one collected vector
    // (LocalRelation). Vocabularies past 63 ids take the pair-explode
    // form instead (documented in MaskPairCountAgg).
    q("q_basket_pairs",
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_orderkey IS NOT NULL),
        |pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand GROUP BY 1, 2),
        |bc AS (SELECT brand, COUNT(*) AS cnt FROM ob GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob)
        |SELECT brand_a, brand_b, support,
        |  ROUND(CAST(support AS DOUBLE) * n.n_orders / (ca.cnt * cb.cnt), 6) AS lift
        |FROM pairs
        |JOIN bc ca ON ca.brand = pairs.brand_a
        |JOIN bc cb ON cb.brand = pairs.brand_b
        |CROSS JOIN n
        |ORDER BY brand_a, brand_b""".stripMargin) { (s, dir) =>
      import graft.functions.MaskPairCountAgg
      import s.implicits._
      // item dictionary: bounded vocabulary, sorted for a stable
      // encoding; a NULL brand is not an item (the oracle's equi-joins
      // on brand never match NULL, and the driver-side sort would NPE)
      val brands = t(s, dir, "part").select("p_brand").distinct()
        .filter(col("p_brand").isNotNull)
        .collect().map(_.getString(0)).sorted
      val w = brands.length // sentinel bit w carries the basket total
      require(w < 63, s"q_basket_pairs: item vocabulary $w exceeds the mask width")
      val dim = brands.zipWithIndex
        .map { case (b, i) => (b, 1L << i) }.toSeq.toDF("p_brand", "bit")
      val cells = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        // a NULL orderkey is not a basket: groupBy would pool every
        // null-key row into one phantom mega-basket (SQL's a.ok = b.ok
        // never matches NULL, so the oracle has no such basket)
        .filter(col("l_orderkey").isNotNull)
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")
          .join(broadcast(dim), "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(bit_or(col("bit")).bitwiseOR(lit(1L << w)).as("mask"))
        .agg(MaskPairCountAgg.maskPairCount(col("mask"), w + 1).as("cells"))
        .head().getSeq[Long](0)
      val tri = MaskPairCountAgg.tri(w + 1) _
      val n = cells(tri(w, w))
      (for {
        i <- 0 until w; j <- (i + 1) until w
        sup = cells(tri(i, j)) if sup > 0L
      } yield (brands(i), brands(j), sup, graft.util.Mirror.r(
        sup.toDouble * n / (cells(tri(i, i)) * cells(tri(j, j)))))
      ).sortBy(t0 => (t0._1, t0._2))
        .toDF("brand_a", "brand_b", "support", "lift")
    },

    // ---- data-quality constraint suite (Deequ-style) -------------------
    // declarative pipeline-gate checks melted into one report:
    // completeness (NULL counts), key uniqueness (rows − distinct),
    // domain membership (priority enum), value range (quantity, price),
    // and referential integrity (orphan FK rows) — the pre-ingest
    // contract a 100 TB nightly load is accepted or quarantined by.
    // Cost shape: ONE aggregation scan per table for every scalar check
    // on it (the checks share the pass, melted after), plus one
    // anti-join per FK edge — orders→customer broadcasts the dim side;
    // lineitem→orders is a key-shuffle anti-join (both sides fact-sized,
    // the unavoidable shuffle, AQE-skew-safe). Violation counts are
    // exact longs; frac is violations/rows rounded 6dp identically.
    q("q_dq_suite",
      """WITH o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ck,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_ok,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
        |      '4-NOT SPECIFIED', '5-LOW') OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_prio
        |  FROM orders),
        |l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 OR l_quantity IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty
        |  FROM lineitem),
        |fk1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |fk2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
        |  WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |m AS (
        |  SELECT 'complete_custkey' AS constraint_id, 'orders' AS table_name,
        |    'o_custkey' AS column_name, null_ck AS violations, n FROM o
        |  UNION ALL SELECT 'unique_orderkey', 'orders', 'o_orderkey', dup_ok, n FROM o
        |  UNION ALL SELECT 'range_totalprice', 'orders', 'o_totalprice', bad_price, n FROM o
        |  UNION ALL SELECT 'domain_priority', 'orders', 'o_orderpriority', bad_prio, n FROM o
        |  UNION ALL SELECT 'range_quantity', 'lineitem', 'l_quantity', bad_qty, n FROM l
        |  UNION ALL SELECT 'fk_orders_customer', 'orders', 'o_custkey', fk1.v, o.n FROM fk1, o
        |  UNION ALL SELECT 'fk_lineitem_orders', 'lineitem', 'l_orderkey', fk2.v, l.n FROM fk2, l)
        |SELECT constraint_id, table_name, column_name, violations,
        |  ROUND(CAST(violations AS DOUBLE) / n, 6) AS frac,
        |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT) AS passes
        |FROM m ORDER BY constraint_id""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").agg(orderDqScalarAggs.head,
        (count(lit(1)) - countDistinct(col("o_orderkey"))).cast(LongType).as("dup_ok")
          +: orderDqScalarAggs.tail: _*)
        .select("n", "null_ck", "dup_ok", "bad_price", "bad_prio")
      val l = t(s, dir, "lineitem").agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50 || col("l_quantity").isNull,
          1L).otherwise(0L)).cast(LongType).as("bad_qty"))
      // FK legs count NON-NULL orphans only (null keys are already the
      // complete_* constraints' finding): without the isNotNull filter
      // the two engines diverge on dirty data — left_anti KEEPS a
      // null-key row (null fails the equi-condition) while SQL's
      // `NULL NOT IN (...)` evaluates to NULL and drops it silently.
      val fk1 = t(s, dir, "orders").select("o_custkey")
        .filter(col("o_custkey").isNotNull)
        .join(broadcast(t(s, dir, "customer").select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).cast(LongType).as("v"))
      // The big side folds to KEY cardinality (cnt-weighted,
      // map-side-combined — lineitem carries ~4 rows/key, and each map
      // partition combines before the exchange) BEFORE the anti-join,
      // so the join shuffles grouped keys instead of every raw row and
      // the orphan count is recovered as sum(cnt). At 60M-row sf10 this
      // is the difference between shuffling 60M probe rows and ~15M.
      val fk2 = t(s, dir, "lineitem").select("l_orderkey")
        .filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
        .join(t(s, dir, "orders").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(coalesce(sum(col("cnt")), lit(0L)).cast(LongType).as("v"))
      // four one-row collects (the bounded-collect convention;
      // construction-inclusive timing pays them) → LocalRelation
      // report: a melted-union finish would re-plan the orders scan
      // once PER constraint row (the multi-consumer re-scan disease) —
      // this way each table is scanned exactly twice: its scalar
      // check pass and its FK anti-join. The four jobs are mutually
      // independent, so they are SUBMITTED CONCURRENTLY (Spark's
      // scheduler interleaves jobs from separate threads): wall-clock
      // is the longest constraint (the lineitem→orders anti-join),
      // not the sum of all four — sequential collects measured 2.3 s
      // at sf1 vs ~1.2 s concurrent, and on a real cluster the gap is
      // the whole point of a multi-table DQ gate.
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      // blocking{}: each collect parks a pool thread on a Spark job;
      // without the hint a low-parallelism fork-join pool (1-2 core
      // driver) would run the "concurrent" jobs 2-at-a-time
      val fs = Seq(o, l, fk1, fk2).map(df => Future(blocking { df.collect()(0) }))
      val Seq(or, lr, r1, r2) = fs.map(Await.result(_, Duration.Inf))
      val (v1, v2) = (r1.getLong(0), r2.getLong(0))
      val (no, nl) = (or.getLong(0), lr.getLong(0))
      val rows = Seq(
        ("complete_custkey", "orders", "o_custkey", or.getLong(1), no),
        ("unique_orderkey", "orders", "o_orderkey", or.getLong(2), no),
        ("range_totalprice", "orders", "o_totalprice", or.getLong(3), no),
        ("domain_priority", "orders", "o_orderpriority", or.getLong(4), no),
        ("range_quantity", "lineitem", "l_quantity", lr.getLong(1), nl),
        ("fk_orders_customer", "orders", "o_custkey", v1, no),
        ("fk_lineitem_orders", "lineitem", "l_orderkey", v2, nl))
      import s.implicits._
      rows.map { case (c, tbl, cn, v, n) =>
          (c, tbl, cn, v, graft.util.Mirror.r(v.toDouble / n), if (v == 0L) 1 else 0)
        }.sortBy(_._1)
        .toDF("constraint_id", "table_name", "column_name", "violations", "frac", "passes")
    },

    // ---- deterministic sampling ----------------------------------------
    q("q_sample_det",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE (l_orderkey % 97 + 97) % 97 = 11
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      // pmod on both sides: SQL's % keeps the dividend's sign, so a bare
      // `% 97 = 11` silently drops NEGATIVE keys from the sample — the
      // double-mod makes the oracle non-negative exactly like pmod
      t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(97)) === 11)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- stratified sampling (balanced training splits) ----------------
    // exactly min(40, |stratum|) orders per priority stratum, chosen by a
    // deterministic md5 rank — pandas groupby().sample(n, random_state)
    // re-expressed reproducibly. Scale: ONE shuffle on the stratum key;
    // Spark executes the rank-≤-k filter as WindowGroupLimit, so each
    // task keeps a k-row heap per stratum instead of sorting the corpus
    // (same physical shape as q_topk). A hot stratum never materializes
    // beyond k rows per task.
    q("q_sample_stratified",
      """SELECT o_orderpriority, o_orderkey, rk FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 40 ORDER BY o_orderpriority, rk""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(md5(col("o_orderkey").cast(StringType).cast(BinaryType)), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 40)
        .select(col("o_orderpriority"), col("o_orderkey"), col("rk").cast(LongType).as("rk"))
        .orderBy("o_orderpriority", "rk")
    },

    // ---- per-group top-k (groupby().nlargest / head) --------------------
    // pandas groupby().nlargest(3): the 3 highest-value orders per
    // priority with a total tiebreak. Executes as WindowGroupLimit —
    // each task keeps a k-row heap per group, the hot group is never
    // sorted whole (the q_sample_stratified shape, value-ordered).
    q("q_group_topk",
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderpriority", "rk")
    },

    // ---- winsorization (robust feature clipping) ------------------------
    // per-group [p05, p95] clip of l_extendedprice — outlier-robust
    // scaling before training. Two aggregate passes by design: the
    // quantile table is KB-sized (one row per group) and BROADCAST back,
    // so the corpus is scanned twice but shuffled only for the two
    // map-side-combined aggregations — never sorted whole, never joined
    // wide (the same stat-table algebra the Outlier explainer uses).
    q("q_winsorize",
      """WITH qs AS (SELECT l_returnflag,
        |    ROUND(CAST(quantile_cont(l_extendedprice, 0.05) AS DOUBLE), 4) AS p05,
        |    ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 4) AS p95
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, qs.p05, qs.p95, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < qs.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(SUM(CASE WHEN l.l_extendedprice > qs.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  ROUND(CAST(ROUND(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, qs.p05), qs.p95) AS DECIMAL(25,6))), 6) AS DOUBLE) / COUNT(*), 6) AS mean_wins
        |FROM lineitem l JOIN qs ON l.l_returnflag = qs.l_returnflag
        |GROUP BY 1, 2, 3 ORDER BY l.l_returnflag""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
      // ONE percentile buffer per group (array form), not one per
      // quantile: each percentile() aggregate keeps its own copy of
      // every group value, so the two-expression form doubled the
      // dominant buffer cost (measured 1.84 s -> 1.1 s at sf0.1)
      val qs = li.groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), array(lit(0.05), lit(0.95))).as("ps"))
        .select(col("l_returnflag"),
          r(element_at(col("ps"), 1), 4).as("p05"),
          r(element_at(col("ps"), 2), 4).as("p95"))
      val clipped = least(greatest(col("l_extendedprice"), col("p05")), col("p95"))
      // group on the string key ONLY and carry the (group-constant)
      // thresholds through first(): double-typed grouping keys measured
      // 3x slower in the hash aggregate (1.78 s vs 0.52 s at sf0.1)
      li.join(broadcast(qs), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(first(col("p05")).as("p05"), first(col("p95")).as("p95"),
          count(lit(1)).as("n"),
          sum((col("l_extendedprice") < col("p05")).cast("int")).cast(LongType).as("n_lo"),
          sum((col("l_extendedprice") > col("p95")).cast("int")).cast(LongType).as("n_hi"),
          r(dsumd(clipped) / count(lit(1)), 6).as("mean_wins"))
        .orderBy("l_returnflag")
    },

    // ---- robust (median/MAD) anomaly summary ----------------------------
    // per-group modified-z outlier detection: med = exact group median,
    // MAD = median(|x - med|), cutoff = 3σ-equivalent 4.4478·MAD
    // (3 × 1.4826, the normal-consistency constant), flag = |x - med|
    // beyond the cutoff. The robust counterpart of the z-score family —
    // immune to the outliers it is hunting. Three map-side-combined
    // aggregation passes by design (MAD is a two-level order statistic;
    // each stat table is one KB-sized row per group, broadcast back —
    // the winsorize shape); at 100 TB swap the exact percentile for
    // approx_percentile exactly as q_qcut_approx documents. Rounding at
    // 4dp before re-entry keeps every downstream comparison operand
    // bit-identical across engines.
    q("q_anomaly_mad",
      """WITH med AS (SELECT l_returnflag,
        |    ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS med
        |  FROM lineitem GROUP BY 1),
        |md AS (SELECT l.l_returnflag,
        |    ROUND(CAST(quantile_cont(ABS(l.l_extendedprice - m.med), 0.5) AS DOUBLE), 4) AS mad
        |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag GROUP BY 1)
        |SELECT l.l_returnflag, COUNT(*) AS n, m.med, d.mad,
        |  ROUND(4.4478 * d.mad, 4) AS cutoff,
        |  CAST(SUM(CASE WHEN l.l_extendedprice > m.med + ROUND(4.4478 * d.mad, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < m.med - ROUND(4.4478 * d.mad, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
        |  ROUND(CAST(SUM(CASE WHEN ABS(l.l_extendedprice - m.med) > ROUND(4.4478 * d.mad, 4) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS out_frac
        |FROM lineitem l
        |JOIN med m ON l.l_returnflag = m.l_returnflag
        |JOIN md d ON l.l_returnflag = d.l_returnflag
        |GROUP BY 1, m.med, d.mad ORDER BY l.l_returnflag""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
      val med = li.groupBy("l_returnflag")
        .agg(r(percentile(col("l_extendedprice"), lit(0.5)), 4).as("med"))
      val md = li.join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(r(percentile(abs(col("l_extendedprice") - col("med")), lit(0.5)), 4).as("mad"))
      val cutoff = r(lit(4.4478) * col("mad"), 4)
      // string-only group key + first() for the group-constant stats
      // (double grouping keys measured 3x slower — the winsorize lesson)
      li.join(broadcast(med), "l_returnflag").join(broadcast(md), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), first(col("med")).as("med"),
          first(col("mad")).as("mad"), first(cutoff).as("cutoff"),
          sum((col("l_extendedprice") > col("med") + cutoff).cast("int"))
            .cast(LongType).as("n_out_hi"),
          sum((col("l_extendedprice") < col("med") - cutoff).cast("int"))
            .cast(LongType).as("n_out_lo"),
          r(sum((abs(col("l_extendedprice") - col("med")) > cutoff).cast("int"))
            .cast(DoubleType) / count(lit(1)), 6).as("out_frac"))
        .orderBy("l_returnflag")
    },

    // ---- groupby().transform (row-aligned group stats) ------------------
    // pandas groupby().transform through the library surface
    // (ExplainGroupBy.zscore): per-row z-score from ONE exact group-stats
    // aggregation joined back (AQE-sized, never force-broadcast). The
    // subset filter applies AFTER the stats — z-scores are against the
    // full group, as transform semantics demand.
    q("q_group_zscore",
      s"""WITH st AS (SELECT l_returnflag, ${Sq.mean("l_quantity")} AS mu,
        |    ROUND(SQRT(${Sq.varSamp("l_quantity")}), 6) AS sd
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, st.mu, st.sd,
        |  ROUND((l.l_quantity - st.mu) / st.sd, 6) AS z
        |FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
        |WHERE l.l_orderkey % 50 = 7
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, dir) =>
      graft.core.ExplainFrame(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          "lineitem")
        .groupBy("l_returnflag").zscore("l_quantity").df
        .filter(col("l_orderkey") % 50 === 7)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity_mean").as("mu"), col("l_quantity_std").as("sd"),
          col("l_quantity_zscore").as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- qcut (quantile bucketing) --------------------------------------
    // pandas qcut(x, 10) at scale: decile BOUNDARIES from one exact
    // quantile aggregation (a 9-double array — broadcast), bucket =
    // 1 + #thresholds below the value. No global sort, no rank window:
    // the corpus is scanned once for boundaries and once for bucketing,
    // both map-side combined — the shape that survives 100 TB where
    // ntile()'s single global ordering cannot.
    q("q_qcut",
      """WITH th AS (SELECT list_transform(
        |    quantile_cont(l_extendedprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    t -> ROUND(CAST(t AS DOUBLE), 4)) AS th FROM lineitem)
        |SELECT 1 + len(list_filter(th.th, t -> t < l.l_extendedprice)) AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(MIN(l.l_extendedprice), 4) AS lo, ROUND(MAX(l.l_extendedprice), 4) AS hi
        |FROM lineitem l, th GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_extendedprice")
      // the 9 thresholds come back to the driver (BOUNDED: nBuckets-1
      // doubles, never corpus-sized) and re-enter as literals — a
      // broadcast-join of the 1-row stat table plans as a non-codegen
      // BroadcastNestedLoopJoin that measured 9x slower than this
      // literal comparison chain (3.5 s vs 0.4 s at sf0.1).
      // Boundary computation is histogram-refined, NOT percentile():
      // the exact-percentile aggregate buffers every value in one state
      // and measured ~2.8 s alone at sf0.1. ExactQuantile is three
      // linear codegen'd passes with bounded driver data (see its
      // scaladoc); interpolation is quantile_cont's lo + frac·(hi−lo),
      // 4dp-rounded with the exact D.r mirror.
      val ths = graft.util.ExactQuantile.quantiles(li, "l_extendedprice",
        (1 to 9).map(_ / 10.0)).map(graft.util.Mirror.r(_, 4))
      val bucket = ths.map(t0 => (col("l_extendedprice") > lit(t0)).cast("int"))
        .reduce(_ + _) + lit(1)
      li.select(bucket.cast(LongType).as("bucket"), col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          r(min(col("l_extendedprice")), 4).as("lo"),
          r(max(col("l_extendedprice")), 4).as("hi"))
        .orderBy("bucket")
    },

    // ---- approx qcut (the quantile SCALE path, tolerance-oracled) -------
    // q_qcut's exact decile boundaries are superlinear in BOTH engines
    // (sf1 growth 7.4x/8.1x — exact percentile buffers every value in
    // the aggregation state). The scale path swaps in approx_percentile
    // (t-digest: BOUNDED sketch state per task, map-side merged), whose
    // boundaries are not cross-engine reproducible by design — so this
    // follows the q_approx_stats tolerance-oracle convention: the query
    // itself validates each sketch boundary against the EXACT rank it
    // claims (fraction of rows at-or-below boundary i must sit within
    // i/10 ± 2%; t-digest accuracy 1000 bounds rank error at ~0.1%) and
    // emits within-envelope flags that hash-compare against the
    // oracle's constant-1 column. A sketch drifting out of envelope
    // turns a flag 0 and fails the hash — a real check, not rows-only.
    q("q_qcut_approx",
      """SELECT CAST(d AS BIGINT) AS decile,
        |  (SELECT COUNT(*) FROM lineitem) AS n,
        |  CAST(1 AS BIGINT) AS within_tol
        |FROM generate_series(1, 9) t(d) ORDER BY decile""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_extendedprice")
      // 9 sketch boundaries back to the driver (bounded, as in q_qcut),
      // re-entering as literals for the single validation scan
      val bs = li.agg(approx_percentile(col("l_extendedprice"),
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(1000)).as("bs"))
        .head().getSeq[Double](0)
      val aggs = bs.zipWithIndex.map { case (b, i) =>
        sum((col("l_extendedprice") <= lit(b)).cast(LongType)).as(s"c$i") } :+
        count(lit(1)).as("n")
      val flags = bs.indices.map { i =>
        struct(lit(i + 1).cast(LongType).as("decile"),
          when(abs(col(s"c$i").cast(DoubleType) / col("n") - lit((i + 1) / 10.0)) <= 0.02,
            lit(1L)).otherwise(lit(0L)).as("within_tol"))
      }
      li.agg(aggs.head, aggs.tail: _*)
        .select(col("n"), explode(array(flags: _*)).as("f"))
        .select(col("f.decile").as("decile"), col("n"), col("f.within_tol").as("within_tol"))
        .orderBy("decile")
    },

    // ---- cut (equal-width binning) --------------------------------------
    // pandas cut(x, 10): global [min, max] from one aggregation (two
    // bounded doubles, collected and re-entered as literals — same
    // rationale as q_qcut), bucket = min(9, floor((x-lo)/width)) + 1,
    // then a map-side-combined histogram. Both engines evaluate the
    // identical IEEE double expression, so the bin edges agree exactly.
    q("q_cut",
      """WITH mm AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem)
        |SELECT CAST(1 + LEAST(9, FLOOR((l.l_extendedprice - mm.lo) / ((mm.hi - mm.lo) / 10.0))) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(MIN(l.l_extendedprice), 4) AS bin_min, ROUND(MAX(l.l_extendedprice), 4) AS bin_max
        |FROM lineitem l, mm GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_extendedprice")
      val mm = li.agg(min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi")).head()
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      val width = (hi - lo) / 10.0
      li.select((lit(1) + least(lit(9), floor((col("l_extendedprice") - lo) / width)))
          .cast(LongType).as("bucket"), col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          r(min(col("l_extendedprice")), 4).as("bin_min"),
          r(max(col("l_extendedprice")), 4).as("bin_max"))
        .orderBy("bucket")
    },

    // ---- grouping sets (explicit set list, rollup/cube's general form) --
    // pandas parity: pd.concat of per-level groupbys; here ONE pass — the
    // Expand operator replicates each input row once per grouping set
    // before a single hash aggregation, so no re-scan per level
    q("q_grouping_sets",
      s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  ${Sq.dsum("o_totalprice")} AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        |ORDER BY priority, status""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq.empty[Column]),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status")
    },

    // ---- per-group mode (pandas groupby().agg(pd.Series.mode)) ----------
    // modal order priority per customer, tie-break (count desc, value asc).
    // Scale: the window runs over the (customer × ≤5 priorities) COUNT
    // table, not the corpus — the heavy lifting is one map-side-combined
    // groupBy
    q("q_group_mode",
      """SELECT o_custkey, mode_priority, n FROM (
        |  SELECT o_custkey, o_orderpriority AS mode_priority, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY COUNT(*) DESC, o_orderpriority NULLS LAST) AS rn
        |  FROM orders GROUP BY o_custkey, o_orderpriority)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val counts = t(s, dir, "orders")
        .groupBy("o_custkey", "o_orderpriority").agg(count(lit(1)).as("n"))
      // tie-break NULLS LAST explicitly: Spark's ASC default is NULLS
      // FIRST, SQL's is NULLS LAST — a null-priority mode group (dirty
      // data) would win ties on one engine and lose them on the other
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("n").desc, col("o_orderpriority").asc_nulls_last)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderpriority").as("mode_priority"), col("n"))
        .orderBy("o_custkey")
    },

    // ---- ordered list aggregation (pandas groupby().agg(','.join)) ------
    // collect_set is unordered by contract; array_sort makes the emitted
    // string deterministic. Bounded state: ≤ distinct containers per brand
    q("q_string_agg",
      """SELECT p_brand,
        |  string_agg(DISTINCT CAST(p_size AS VARCHAR), ','
        |             ORDER BY CAST(p_size AS VARCHAR)) AS sizes,
        |  COUNT(DISTINCT p_size) AS n_sizes
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      t(s, dir, "part").groupBy("p_brand")
        .agg(array_join(array_sort(collect_set(col("p_size").cast(StringType))), ",").as("sizes"),
          countDistinct(col("p_size")).as("n_sizes"))
        .orderBy("p_brand")
    },

    // ---- robust scaling ((x − median) / IQR, sklearn RobustScaler) ------
    // exact per-group quantiles (the qcut convention: percentile ==
    // quantile_cont interpolation, 6dp-rounded); the stats table is
    // group-cardinality-sized and broadcast back — rows never shuffle.
    // Degenerate guard: a constant group (IQR = 0) emits NULL rather
    // than ±Infinity/NaN — sklearn's RobustScaler leaves unit scale
    // for a zero IQR; NULL is the SQL-honest flag for "scale undefined"
    q("q_robust_scale",
      """WITH st AS (SELECT l_returnflag,
        |    ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS med,
        |    ROUND(quantile_cont(l_extendedprice, 0.75)
        |          - quantile_cont(l_extendedprice, 0.25), 6) AS iqr
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, st.med, st.iqr,
        |  CASE WHEN st.iqr = 0 THEN NULL
        |       ELSE ROUND((l.l_extendedprice - st.med) / st.iqr, 6) END AS robust
        |FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
        |WHERE l.l_orderkey % 50 = 7
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val st = li.groupBy("l_returnflag").agg(
        r(percentile(col("l_extendedprice"), lit(0.5)), 6).as("med"),
        r(percentile(col("l_extendedprice"), lit(0.75))
          - percentile(col("l_extendedprice"), lit(0.25)), 6).as("iqr"))
      li.filter(col("l_orderkey") % 50 === 7)
        .join(broadcast(st), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("med"), col("iqr"),
          when(col("iqr") === 0, lit(null))
            .otherwise(r((col("l_extendedprice") - col("med")) / col("iqr"), 6))
            .as("robust"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- z-order write layout -------------------------------------------
    // Morton-code locality profile: the bucket table that proves a
    // z-ordered write prunes on BOTH o_custkey and order-day at once
    q("q_zorder_layout",
      graft.sources.Layout.zProfileSql("orders")) { (s, dir) =>
      graft.sources.Layout.zProfile(t(s, dir, "orders"))
    },

    // ---- skew-aware hybrid join (hot keys broadcast, cold keys shuffle) --
    // the big-big join under key skew: Scale.skewJoin samples the fact
    // side, routes detected hot keys through a broadcast join of the
    // hot dim slice (their rows never enter the exchange), and shuffles
    // only the cold remainder — the pre-shuffle mitigation AQE's
    // post-shuffle SMJ-partition splitting cannot express. Routing is
    // semantics-preserving by construction, so the oracle is the PLAIN
    // join + aggregate: any hot set (including the empty one this
    // uniform testdata yields) must hash-match it. JoinPropertySpec
    // proves the routing on a synthetic hot key: union of one
    // BroadcastHashJoin and one shuffle join, row-identical to the
    // plain join.
    q("q_skew_join",
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  ${Sq.revsum("l_extendedprice", "l_discount")} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      graft.util.Scale.skewJoin(
          t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          dsumprod(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // ---- upsert / CDC merge (latest-per-key current view) ---------------
    // the lakehouse MERGE primitive an incremental 100 TB corpus refresh
    // is built on: base snapshot ∪ changelog (updates + deletes, each
    // sequence-stamped) → the CURRENT view = highest-sequence row per
    // key, delete rows dropped. Latest-per-key is "lead(seq) IS NULL"
    // over the key-partitioned window — identical to rn=1 under the
    // CDC contract (sequence numbers unique per key) and the SAME plan
    // shape as q_scd2_history, deliberately: at sf10 the offset-window
    // form steadies at ~1 s while row_number+WindowGroupLimit measured
    // ~18 s (the top-1 rewrite's partial+final double sort) and a
    // max_by aggregation ~2.8 s with a 30 s+ first-position JIT cliff
    // (interpreted struct-comparison SortAggregate vs the codegen'd
    // WindowExec) — all three measured head-to-head in one JVM.
    // The changelog is synthesized deterministically from orders
    // (every 7th key a price update, every 13th a delete) so both
    // engines merge the identical stream; update arithmetic is an
    // exact double add, and the report sum is the exact decimal
    // convention. Exercises the op-precedence edge: a key hit by BOTH
    // an update (seq 1) and a delete (seq 2) must vanish.
    q("q_upsert_merge",
      s"""WITH log AS (
        |  SELECT o_orderkey AS ok, o_totalprice AS price,
        |    o_orderpriority AS prio, 0 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1000.0, o_orderpriority, 1, 'U'
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority, 2, 'D'
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |cur AS (SELECT ok, price, prio, op,
        |    ROW_NUMBER() OVER (PARTITION BY ok
        |      ORDER BY seq DESC, op DESC, price DESC NULLS LAST, prio DESC NULLS LAST) AS rn
        |  FROM log)
        |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  ${Sq.dsum("price")} AS total_price
        |FROM cur WHERE rn = 1 AND op <> 'D'
        |GROUP BY prio ORDER BY prio""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val base = o.select(col("o_orderkey").as("ok"), col("o_totalprice").as("price"),
        col("o_orderpriority").as("prio"), lit(0).as("seq"), lit("I").as("op"))
      val upd = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey").as("ok"), (col("o_totalprice") + 1000.0).as("price"),
          col("o_orderpriority").as("prio"), lit(1).as("seq"), lit("U").as("op"))
      val del = o.filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .select(col("o_orderkey").as("ok"), lit(null).cast(DoubleType).as("price"),
          col("o_orderpriority").as("prio"), lit(2).as("seq"), lit("D").as("op"))
      // TOTAL ordering (seq alone ties on dirty data with duplicate
      // keys, making "latest" an arbitrary pick that diverges across
      // engines): ASC NULLS FIRST here is exactly the reverse of the
      // oracle's DESC NULLS LAST, so last-in-ASC == rn 1-in-DESC
      val w = Window.partitionBy("ok").orderBy(col("seq"), col("op"),
        col("price").asc_nulls_first, col("prio").asc_nulls_first)
      base.unionByName(upd).unionByName(del)
        .withColumn("nxt", lead(col("seq"), 1).over(w))
        .filter(col("nxt").isNull && col("op") =!= "D")
        .groupBy("prio")
        .agg(count(lit(1)).cast(LongType).as("n_rows"),
          sum(when(col("op") === "U", 1L).otherwise(0L)).cast(LongType).as("n_updated"),
          dsumd(col("price")).as("total_price"))
        .orderBy("prio")
    },

    // ---- SCD2 history build (versioned interval table) -------------------
    // q_upsert_merge's temporal twin: instead of the CURRENT view, build
    // the slowly-changing-dimension type-2 HISTORY — every non-delete
    // changelog row becomes a version whose validity closes at the key's
    // NEXT change (lead(seq) over the key; NULL = still current, and a
    // delete closes the prior version without opening one). Same
    // deterministic changelog fixture as the merge, so the two artifacts
    // reconcile: current versions here = merge survivors there
    // (spec-checked). ONE key-partitioned lead() window = one shuffle on
    // the version key; the report re-aggregates the interval table.
    q("q_scd2_history",
      s"""WITH log AS (
        |  SELECT o_orderkey AS ok, o_totalprice AS price,
        |    o_orderpriority AS prio, 0 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1000.0, o_orderpriority, 1, 'U'
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority, 2, 'D'
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |v AS (SELECT ok, price, prio, op, seq,
        |    LEAD(seq) OVER (PARTITION BY ok ORDER BY seq) AS valid_to
        |  FROM log)
        |SELECT prio,
        |  CAST(COUNT(*) AS BIGINT) AS n_versions,
        |  CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
        |  CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
        |  ${Sq.dsum("price")} AS version_price
        |FROM v WHERE op <> 'D'
        |GROUP BY prio ORDER BY prio""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val base = o.select(col("o_orderkey").as("ok"), col("o_totalprice").as("price"),
        col("o_orderpriority").as("prio"), lit(0).as("seq"), lit("I").as("op"))
      val upd = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey").as("ok"), (col("o_totalprice") + 1000.0).as("price"),
          col("o_orderpriority").as("prio"), lit(1).as("seq"), lit("U").as("op"))
      val del = o.filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .select(col("o_orderkey").as("ok"), lit(null).cast(DoubleType).as("price"),
          col("o_orderpriority").as("prio"), lit(2).as("seq"), lit("D").as("op"))
      val w = Window.partitionBy("ok").orderBy("seq")
      base.unionByName(upd).unionByName(del)
        .withColumn("valid_to", lead(col("seq"), 1).over(w))
        .filter(col("op") =!= "D")
        .groupBy("prio")
        .agg(count(lit(1)).cast(LongType).as("n_versions"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).cast(LongType).as("n_current"),
          sum(when(col("valid_to").isNotNull, 1L).otherwise(0L)).cast(LongType).as("n_closed"),
          dsumd(col("price")).as("version_price"))
        .orderBy("prio")
    }
  )

  /** The orders-side SCALAR DQ constraint aggregates of q_dq_suite —
    * shared VERBATIM with the streaming gate (`streaming.Dq`) so the
    * two forms cannot silently diverge: n, null o_custkey count,
    * non-positive o_totalprice count, out-of-domain o_orderpriority
    * count. Sums are coalesced to 0 so an EMPTY micro-batch folds as a
    * zero delta instead of a null (a global agg over zero rows sums to
    * null; the batch table is never empty, so the batch result is
    * unchanged). Uniqueness and the FK check are deliberately NOT here:
    * they are the stateful/join constraints each form implements with
    * its own scale machinery (countDistinct / seen-key store;
    * anti-join per pass / per micro-batch). A def, not a val: read
    * during `defs` initialization. */
  private[graft] def orderDqScalarAggs: Seq[Column] = Seq(
    count(lit(1)).cast(LongType).as("n"),
    coalesce(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), lit(0L))
      .cast(LongType).as("null_ck"),
    coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)), lit(0L))
      .cast(LongType).as("bad_price"),
    coalesce(sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW") || col("o_orderpriority").isNull, 1L)
      .otherwise(0L)), lit(0L)).cast(LongType).as("bad_prio"))
}
