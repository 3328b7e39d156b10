package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeSymbol: trim/upper/drop dot-suffix (S6)") {
    val got = Seq(" hbl.PA ", "ENGRO", "ogdc.xd.y", "  luck  ")
      .toDF("s").select(Relational.normalizeSymbol($"s").as("n"))
      .as[String].collect().toSeq
    assert(got == Seq("HBL", "ENGRO", "OGDC", "LUCK"))
  }

  test("q01 pricing summary groups all flag/status pairs") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getLong(rows.head.fieldIndex("count_order"))).sum > 0)
  }

  test("q02 revenue by nation is sorted desc and non-empty") {
    val revs = SparkEntry.queries("q02_revenue_by_nation")(spark, sf)
      .select($"revenue".cast("double")).as[Double].collect()
    assert(revs.nonEmpty && revs.sameElements(revs.sorted(Ordering[Double].reverse)))
  }

  test("q04 top-k is 15 rows descending") {
    val p = SparkEntry.queries("q04_topk_orders")(spark, sf)
      .select($"o_totalprice").as[Double].collect()
    assert(p.length == 15 && p.sameElements(p.sorted(Ordering[Double].reverse)))
  }

  test("q05 + q06 semi/anti partition customers w.r.t. pending orders") {
    val c = Tables.customer(spark, sf).count()
    val anti = SparkEntry.queries("q06_anti_join")(spark, sf)
      .agg(sum($"n_customers")).as[Long].head()
    val semi = Tables.customer(spark, sf).join(
      Tables.orders(spark, sf).filter($"o_orderstatus" === "P"),
      $"c_custkey" === $"o_custkey", "left_semi").count()
    assert(semi + anti == c)
  }

  test("q07 outer enrichment keeps every customer and conserves order counts") {
    val r = SparkEntry.queries("q07_outer_enrich")(spark, sf)
    assert(r.count() == Tables.customer(spark, sf).count()) // left join loses no one
    val totalOrders = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1996).count()
    assert(r.agg(sum($"n_1996")).as[Long].head() == totalOrders)
    assert(r.filter($"n_1996" === 0 && $"spend_1996" =!= 0.0).isEmpty)
  }

  test("q170 picks the true per-part argmin with suppkey tie-break") {
    val rows = SparkEntry.queries("q170_cheapest_supplier")(spark, sf)
      .select("p_partkey", "s_name", "min_price")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.size == rows.size, "one row per part")
    // local recompute of the argmin over observed quotes
    val quotes = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
      .as[(Long, Long, Double)].collect().toSeq
      .groupBy(q => (q._1, q._2)).map { case ((p, su), qs) =>
        (p, su, qs.map(_._3).min)
      }.toSeq
    val argmin = quotes.groupBy(_._1).map { case (p, qs) =>
      p -> qs.map(q => (q._3, q._2)).min
    }
    val sizes = Tables.part(spark, sf).filter($"p_size" >= 40)
      .select($"p_partkey").as[Long].collect().toSet
    val sups = Tables.supplier(spark, sf)
      .select($"s_suppkey", $"s_name").as[(Long, String)].collect().toMap
    rows.foreach { case (p, sname, price) =>
      assert(sizes.contains(p), s"part $p fails the size filter")
      val (bp, bs) = argmin(p)
      assert(price == bp && sname == sups(bs), s"part $p wrong pick")
    }
    assert(rows.map(_._1).toSet == argmin.keySet.intersect(sizes),
      "every sourceable filtered part appears")
  }

  test("all registered queries return rows at sf0.001") {
    val pass = Catalogue.pass(spark, sf)
    assert(pass.records.keySet ++ pass.failed.keySet == SparkEntry.queries.keySet)
    val empty = pass.records.toSeq.sortBy(_._1).collect {
      case (name, r) if r.rows <= 0 => s"$name returned 0 rows"
    }
    val bad = empty ++ pass.failures
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("skyline == brute-force NOT-EXISTS dominator on a tie-heavy fixture") {
    import graft.operators.Relational
    // (id, cost, gain): 2 dominated by 1 (same cost, less gain);
    // 1 dominated by 3 (cheaper, equal gain); 3 and 5 are exact
    // duplicates (both survive — no strict edge); 4 survives on the
    // gain axis; 6 dominated by 4 (equal gain, costlier); 7 dominated
    // transitively
    val rows = Seq((1L, 10L, 5L), (2L, 10L, 3L), (3L, 9L, 5L),
      (4L, 12L, 7L), (5L, 9L, 5L), (6L, 13L, 7L), (7L, 14L, 2L))
    val df = rows.toDF("id", "cost", "gain")
    val got = Relational.skyline(df, "cost", "gain")
      .select("id").as[Long].collect().toSet
    val brute = rows.filter { case (_, c, g) =>
      !rows.exists { case (_, c2, g2) =>
        c2 <= c && g2 >= g && (c2 < c || g2 > g)
      }
    }.map(_._1).toSet
    assert(got == brute && got == Set(3L, 4L, 5L),
      s"skyline $got != brute-force $brute")
  }
}
