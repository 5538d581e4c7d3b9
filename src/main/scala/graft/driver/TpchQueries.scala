package graft.driver

import org.apache.spark.sql.functions._

import graft.driver.DriverQuery.table

/** Relational queries over the TPC-H-style tables, restated in DuckDB SQL. */
object TpchQueries {

  val q1Agg: DriverQuery = DriverQuery("q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_price,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("cnt"))
  }

  val joinAgg: DriverQuery = DriverQuery("q_join_agg",
    """SELECT c_mktsegment,
      |  count(*) AS order_cnt,
      |  round(sum(o_totalprice), 1) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
    table(s, dir, "orders")
      .join(table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("order_cnt"),
        round(sum("o_totalprice"), 1).as("total_price"))
  }

  val queries: Seq[DriverQuery] = Seq(
    q1Agg,
    joinAgg,
    DriverQuery("q_topk_orders",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
    DriverQuery("q_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_discount < 0.05""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .where(col("l_quantity") > 45 && col("l_discount") < 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    },
    DriverQuery("q_window_events",
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        |  count(*) AS cnt, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("hour_ts"),
          col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          round(sum("value"), 2).as("total_value"))
    })
}
