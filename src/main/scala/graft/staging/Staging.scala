package graft.staging

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typed staging projections — the stg_* layer.
  *
  * The reference stages every raw table through a cast + fixed-column
  * projection view (reference `dbt/models/staging/stg_erp_orders.sql:3-11`,
  * `local_runner.py:107-133`). Here each staging function is a pure
  * DataFrame → DataFrame projection, so when materialized as a temp view
  * it inlines into downstream plans and Catalyst pushes filters and
  * column pruning through it into the scan.
  */
object Staging {

  /** orders → typed staging rows (P1-P4, F5). `priority_code` peels the
    * leading code off `o_orderpriority` ("1-URGENT" → "1"). */
  def stgOrders(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey").cast("bigint").as("order_id"),
      col("o_custkey").cast("bigint").as("customer_id"),
      col("o_orderstatus").cast("string").as("status"),
      round(col("o_totalprice"), 2).as("order_value"),
      to_date(col("o_orderdate")).as("dt"),
      split_part(col("o_orderpriority"), lit("-"), lit(1)).as("priority_code"))
}
