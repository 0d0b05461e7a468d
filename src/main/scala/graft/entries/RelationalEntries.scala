package graft
package entries

import org.apache.spark.sql.functions._

/** The relational-parity entries (the facets, grouping and join
  * modules, SURVEY.md §2.3).
  */
object RelationalEntries extends EntryFamily {
  exact("rel_json", bench = true)((s, d) => {
    // JSON property extraction over the event props column
    import s.implicits._
    s.read.parquet(s"$d/events.parquet")
      .select($"event_type",
        get_json_object($"props", "$.k").cast("bigint").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
      .orderBy($"event_type")
  })(
    """SELECT event_type, count(*) AS n,
      |       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  exact("rel_agg", bench = true)((s, d) => {
    import s.implicits._
    s.read.parquet(s"$d/lineitem.parquet")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        // exact decimal summation, ONE double conversion at the end:
        // order-dependent double partial sums drift ~1e-4 at 1e10
        // magnitude over 10^6-row groups — enough to flip the 4-dp
        // rounding against any independent oracle at sf >= 1.0
        round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,6)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag", $"l_linestatus")
  })(
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,6))::DOUBLE, 4) AS revenue,
      |       count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  exact("rel_join_topk")((s, d) => {
    import s.implicits._
    val o = s.read.parquet(s"$d/orders.parquet")
    val c = s.read.parquet(s"$d/customer.parquet")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_name", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
  })(
    """SELECT o_orderkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)
  exact("rel_window_top2", bench = true)((s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    s.read.parquet(s"$d/orders.parquet")
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 2 && $"o_custkey" < 50)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  })(
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders
      |) WHERE rn <= 2 AND o_custkey < 50 ORDER BY o_custkey, rn""".stripMargin)
  exact("rel_semijoin")((s, d) => {
    import s.implicits._
    val c = s.read.parquet(s"$d/customer.parquet")
    val o = s.read.parquet(s"$d/orders.parquet")
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey").orderBy($"c_custkey")
  })(
    """SELECT c_custkey FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""".stripMargin)
}
