package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.Exact._

/** Skew- and layout-management operators for the 100 TB posture
  * (SURVEY.md §2.2 partitioning; north star: "broadcast small dims,
  * repartition/bucketing for co-located joins, salting for skew").
  *
  * These are the mechanisms that keep the shuffle graph healthy when a
  * key distribution or table size would otherwise serialize a stage:
  *
  *  - [[saltedAgg]]: two-phase aggregation — partial per (key, salt),
  *    merge per key. A hot key's rows spread across `salts` reducers in
  *    phase 1; phase 2 only merges `salts` pre-aggregated rows per key.
  *    Exactness: counts are longs and the value sum uses the
  *    decimal-addend trick, so the two-phase result is bit-identical to
  *    the single-phase plan no matter how rows are split.
  *  - [[saltedJoin]]: replicate the SMALL side `salts`× (explode), salt
  *    the BIG side deterministically (xxhash64 → pmod, codegen'd,
  *    pushdown-friendly), equi-join on (key, salt). A hot join key
  *    lands on `salts` tasks instead of one. AQE's skew-join splitting
  *    covers the adaptive case; this is the explicit spelling for
  *    planned-hot keys.
  */
object Scale {

  /** Deterministic salt in [0, salts): hash of `src`, codegen'd. */
  def salt(src: Column, salts: Int): Column =
    pmod(xxhash64(src), lit(salts.toLong)).cast("int")

  /** Two-phase (salted) count + exact decimal sum per `key`.
    * Result columns: key, n (count), sum (DOUBLE via exact decimals). */
  def saltedAgg(df: DataFrame, key: String, valueCol: String, salts: Int,
                saltSource: Column): DataFrame =
    df.withColumn("_salt", salt(saltSource, salts))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(dec(col(valueCol))).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"),
        sum(col("_s")).cast(D38_4).cast(DoubleType).as("sum"))

  /** Skew-proof equi-join: big side salted by hash(saltSource), small
    * side replicated across all salts. Semantically identical to
    * big.join(small, key). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 saltSource: Column): DataFrame = {
    val b = big.withColumn("_salt", salt(saltSource, salts))
    val s = small.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, Seq(key, "_salt")).drop("_salt")
  }

  val queries: Map[String, Q] = Map(
    // Salted two-phase aggregation over the 5 hot o_orderpriority keys —
    // must be bit-identical to the plain GROUP BY (the oracle).
    "q44_salted_agg" -> ((s, dir) => {
      saltedAgg(Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
          salts = 16, saltSource = col("o_orderkey"))
        .withColumnRenamed("n", "n_orders")
        .withColumnRenamed("sum", "sum_price")
        .orderBy("o_orderpriority")
    }),

    // Salted fact⋈dim join (lineitem ⋈ supplier) rolled up per nation —
    // must match the unsalted join exactly.
    "q45_skew_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"), col("l_quantity"))
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      saltedJoin(li, sup, "s_suppkey", salts = 8, saltSource = col("l_orderkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"), dsumd(col("l_quantity")).as("sum_qty"))
        .orderBy("s_nationkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "q44_salted_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q45_skew_join" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey"""
  )
}
