package graft

import org.apache.spark.sql.functions._
import graft.functions.Exact._
import graft.operators.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregation is bit-identical to the plain plan (q44)") {
    val salted = SparkEntry.queries("q44_salted_agg")(spark, sf).collect().toSeq
    val plain = Tables.orders(spark, sf)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsumd($"o_totalprice").as("sum_price"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(salted == plain)
  }

  test("salted join is bit-identical to the plain join (q45)") {
    val salted = SparkEntry.queries("q45_skew_join")(spark, sf).collect().toSeq
    val li = Tables.lineitem(spark, sf)
      .select($"l_suppkey".as("s_suppkey"), $"l_quantity")
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey")
    val plain = li.join(sup, "s_suppkey")
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"), dsumd($"l_quantity").as("sum_qty"))
      .orderBy("s_nationkey").collect().toSeq
    assert(salted == plain)
  }

  test("salt spreads a hot key across all salt values") {
    val df = spark.range(10000).select(lit("HOT").as("k"), $"id")
    val spread = df.select(Scale.salt($"id", 16).as("s"))
      .distinct().count()
    assert(spread == 16, "every salt bucket must receive rows")
  }

  test("fanOut gate: no-op on an already-parallel scan, repartition on a single file") {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    def hasRepartition(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case r: Repartition => r
        case r: RepartitionByExpression => r
      }.isDefined
    val tmp = java.nio.file.Files.createTempDirectory("fanout_gate").toString
    try {
      // many-filed layout with >= defaultParallelism (4) files: the
      // 100 TB shape locally — fanOut must NOT add an exchange
      Tables.documents(spark, sf).repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/many")
      val many = spark.read.parquet(s"$tmp/many")
      assert(many.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
        "fixture must arrive already parallel for the gate to bite")
      assert(!hasRepartition(Tables.fanOut(many)),
        "fanOut must be a no-op on an already-parallel narrow scan")
      // single-file scan (1 partition): the local crutch must still fire
      val single = Tables.documents(spark, sf)
      assert(single.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
      assert(hasRepartition(Tables.fanOut(single)),
        "fanOut must spread a single-file scan across cores")
      // non-scan input (aggregate): partition count is unknowable
      // without executing stages - must always repartition
      val agg = single.groupBy("source").count()
      assert(hasRepartition(Tables.fanOut(agg)),
        "fanOut must repartition shuffle-bearing plans unconditionally")
      // FILTERED many-file scan: the partition count survives a
      // selective pushed filter while most partitions empty out, so the
      // gate must not no-op - the repartition only carries
      // the filter's survivors
      val filtered = spark.read.parquet(s"$tmp/many").filter($"doc_id" < 10)
      assert(hasRepartition(Tables.fanOut(filtered)),
        "fanOut must repartition filtered scans - their partitions may be mostly empty")
      // the nonSelectiveFilter OPT-IN: a call site that vouches
      // its predicate keeps the bulk of every partition (q01's
      // l_shipdate <= 1998-09-02 shape) makes Filter transparent, so
      // an already-parallel filtered scan stays exchange-free at
      // cluster scale...
      assert(!hasRepartition(Tables.fanOut(filtered, nonSelectiveFilter = true)),
        "under the nonSelectiveFilter opt-in an already-parallel filtered scan must stay a no-op")
      // ...while the single-file fixture shape still spreads — the
      // opt-in changes the narrow-scan TEST, never the count gate
      val filteredSingle = Tables.documents(spark, sf).filter($"doc_id" >= 0)
      assert(hasRepartition(Tables.fanOut(filteredSingle, nonSelectiveFilter = true)),
        "the opt-in must not disable the single-file spread")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("maybeBroadcast drops the hint past the stats budget (never forces a corpus broadcast)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.isDefined
    val docs = Tables.documents(spark, sf)
    assert(hinted(Tables.maybeBroadcast(docs)),
      "a fixture-sized table must keep the broadcast hint")
    assert(!hinted(Tables.maybeBroadcast(docs, budgetBytes = 0L)),
      "past the budget the hint must disappear — explicit hints are never demoted")
  }

  test("narrow+salted LSH survivors join emits exactly the wide pair set") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val sigs = Caches.cached(Dedup.minhashSignaturesTokens(docs, 5, 32))
    try {
      val wide = Dedup.lshSurvivorsWide(sigs, 8, 4, 0.7)
        .as[(Long, Long)].collect().toSet
      val narrow = Dedup.lshSurvivorsNarrow(sigs, 8, 4, 0.7)
        .as[(Long, Long)].collect().toSet
      assert(wide.nonEmpty, "fixture must produce survivors for the law to bite")
      assert(narrow == wide,
        s"cluster-shape survivors diverged: only-wide=${wide.diff(narrow)} " +
          s"only-narrow=${narrow.diff(wide)}")
      // the routed entry point picks the wide shape under the byte
      // budget and the narrow shape above it — both the same pair set
      val routedNarrow = Dedup.lshSurvivors(sigs, 8, 4, 0.7, narrowBudgetBytes = 0L)
        .as[(Long, Long)].collect().toSet
      assert(routedNarrow == wide)
    } finally Caches.releaseAll()
  }

  test("adversarial skew: one mega-cluster's pair emission spreads across salt blocks") {
    import graft.dedup.Dedup
    // skewed corpus: 10% of the docs are ONE near-dup
    // cluster — identical signatures, so every band has one mega bucket
    // holding C(60,2) = 1770 of the pair emission. The law must hold on
    // exactly the distribution salting exists for.
    val megaWords = (1 to 80).map(i => s"dup$i").mkString(" ")
    val docs = ((1 to 60).map(i => (i.toLong, megaWords)) ++
      (61 to 600).map(i => (i.toLong, (1 to 80).map(j => s"u${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // salting pays off when reducers outnumber band buckets — the
      // cluster regime (32 reducers vs 8 mega buckets); with reducers
      // <= bands the mega buckets saturate every reducer either way
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val sigs = Caches.cached(Dedup.minhashSignaturesTokens(docs, 5, 32))
      // 1. correctness under skew: salted narrow == wide pair set
      val wide = Dedup.lshSurvivorsWide(sigs, 8, 4, 0.7)
        .as[(Long, Long)].collect().toSet
      val narrow = Dedup.lshSurvivorsNarrow(sigs, 8, 4, 0.7)
        .as[(Long, Long)].collect().toSet
      assert(wide.count { case (a, b) => a <= 60 && b <= 60 } == 60 * 59 / 2,
        "the mega cluster's full pair set must survive both shapes")
      assert(narrow == wide,
        s"skewed pair sets diverged: only-wide=${wide.diff(narrow).take(5)} " +
          s"only-narrow=${narrow.diff(wide).take(5)}")
      // 2. the salting ENGAGES: measure per-reducer emission of the band
      // join directly (spark_partition_id on the join output). A/B at
      // blocks=1 (unsalted: each band's mega bucket lands on ONE
      // reducer, >= 1770 rows) vs blocks=8 (the bucket spreads).
      // The probe pins the CLUSTER regime the salt exists for: no
      // broadcast (locally the small melted side would broadcast and
      // every probe task streams its own slice — salting moot) and no
      // AQE (its skew splitting would mask a dead salt; salting is the
      // DETERMINISTIC layer underneath it).
      def maxPerTask(blocks: Int): Long = {
        val melted = Dedup.meltedBands(sigs, 8, 4, carry = Nil)
        val xs = melted.select($"doc_id".as("a_id"), $"band", $"key")
        val ys = melted.select($"doc_id".as("b_id"), $"band", $"key")
        val m = Dedup.saltedSelfJoin(xs, ys, Seq("band", "key"), "b_id", blocks)
          .filter($"a_id" < $"b_id")
          .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
          .groupBy("pid").count()
          .agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
        Caches.releaseAll(); m
      }
      val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      val (unsalted, salted) = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        (maxPerTask(1), maxPerTask(8))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      assert(unsalted >= 60L * 59 / 2,
        s"unsalted baseline must concentrate a full mega bucket, got $unsalted")
      assert(salted * 2 <= unsalted,
        s"salting must spread the mega bucket's emission: salted max/task " +
          s"$salted vs unsalted $unsalted — the salt has silently stopped engaging")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      Caches.releaseAll()
    }
  }

  test("q86 (narrow+salted route) emits exactly q37's pair set, through a salted join") {
    try {
      val wide = SparkEntry.queries("q37_minhash_lsh")(spark, sf)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      val narrowDf = SparkEntry.queries("q86_lsh_narrow_salted")(spark, sf)
      val narrow = narrowDf.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      assert(narrow == wide,
        s"narrow-routed q86 diverged from q37: only-wide=${wide.diff(narrow)} " +
          s"only-narrow=${narrow.diff(wide)}")
      // and the plan really is the salted narrow shape: the block salt
      // column joins alongside (band, key)
      val p = narrowDf.queryExecution.optimizedPlan.toString
      assert(p.contains("blk"),
        s"q86 must route through the salted narrow survivors join:\n${p.take(3000)}")
    } finally Caches.releaseAll()
  }

  test("adversarial mega-paragraph: q165's argmin combines map-side (scale law)") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // 20k occurrences of ONE 16-token paragraph across 8 input
    // partitions + 64 unique background docs — the distribution the
    // min(struct) reduce exists for (a window-rank spelling would sort
    // all 20k occurrences in one task)
    val hotPara = (1 to 16).map(i => s"h$i").mkString(" ")
    val docs = ((1L to 20000L).map(i => (i, hotPara)) ++
      (1L to 64L).map(i => (30000L + i,
        (1 to 16).map(j => s"u${i}x$j").mkString(" "))))
      .toDF("doc_id", "text").repartition(8)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so the executed plan instance keeps its metrics and no
      // runtime re-plan masks a dead combine
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val tiles = docs
        .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
        .withColumn("nt", size($"toks").cast("long"))
        .select($"doc_id", $"toks", $"nt",
          explode(expr("sequence(CAST(0 AS BIGINT), (nt - 1) DIV 16)"))
            .as("i"))
        .withColumn("para",
          concat_ws(" ", expr("slice(toks, CAST(i * 16 + 1 AS INT), 16)")))
      val first = tiles.groupBy("para")
        .agg(min(struct($"doc_id", $"i")).as("f"))
      val rows = first.collect()
      assert(rows.length == 65, s"expected 65 distinct paragraphs")
      val winner = rows.filter(_.getAs[String]("para") == hotPara)
        .head.getAs[org.apache.spark.sql.Row]("f")
      assert(winner.getLong(0) == 1L && winner.getLong(1) == 0L,
        "globally-first occurrence must win the argmin")
      // the scale claim, measured: 20 064 tile occurrences must leave
      // the map side as <= partitions x paragraphs PARTIAL rows — the
      // combine that keeps a corpus-wide hot paragraph off one reducer
      val partialOut = first.queryExecution.executedPlan.collect {
        case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode == Partial) => a
      }.map(_.metrics("numOutputRows").value).sum
      assert(partialOut > 0 && partialOut <= 8L * 65,
        s"partial argmin emitted $partialOut rows for 20064 occurrences " +
          "— the map-side combine has silently stopped engaging")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Caches.releaseAll()
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime (the unsalted skew path)") {
    // salting (q44/q45/q86) is the MANUAL skew tool; AQE's skew-join
    // split is the runtime one — the engine must actually engage it,
    // since at 100 TB most skew is discovered, not predicted. One key
    // carries 150k rows vs ~15 for the rest; with a tiny advisory
    // size, AQE must mark the sort-merge join skewed and split the hot
    // partition, while the join result stays exactly correct.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = ((1L to 150000L).map(_ => 7L) ++ (1L to 1500L).map(_ % 100))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "payload").repartition(8)
      val dim = (0L to 100L).map(k => (k, s"dim$k")).toDF("dk", "name")
      // payload stays in the output: the hot partition's shuffle BYTES
      // must exceed the threshold, and 150k copies of one constant key
      // lz4-compress to almost nothing on their own
      val j = fact.join(dim, $"k" === $"dk").select($"k", $"payload")
      // collect THIS frame (count() would plan separately) so the
      // adaptive plan finalizes before inspection
      val n = j.collect().length
      assert(n == 151500, s"skewed join lost rows: $n")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark the hot partition skew=true:\n${p.take(3000)}")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact PARTITIONS at runtime") {
    // the canonical 100 TB fact/dim pattern: the fact table is
    // hive-partitioned on the join key's FK; filtering the dimension
    // must prune fact partitions AT RUNTIME (the filter value is only
    // known after the dim scan) — Spark's DynamicPruningExpression.
    // Without DPP the fact scan reads all partitions every time. The
    // benefit heuristic compares pruned bytes against broadcast
    // overhead — meaningless at fixture scale, so the stats estimate
    // is disabled and the fallback ratio raised (the mechanism, not
    // the cost model, is what this law pins).
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = java.nio.file.Files.createTempDirectory("dpp_fact").toString
    try {
      Tables.orders(spark, sf)
        .withColumn("status", $"o_orderstatus")
        .write.partitionBy("status").mode("overwrite").parquet(s"$dir/fact")
      // the dim must be a REAL relation: a local Seq constant-folds the
      // selective filter into a LocalRelation before PartitionPruning
      // runs, and the rule then sees no predicate to derive from
      Seq(("O", "open"), ("F", "finished"), ("P", "pending"))
        .toDF("d_status", "d_name")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val j = fact.join(dim, $"status" === $"d_status")
        .filter($"d_name" === "open")
        .select($"o_orderkey", $"d_name")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"dim-filtered fact join must plan a dynamic pruning subquery:\n${p.take(3000)}")
      // and the pruned plan still answers correctly
      assert(j.count() ==
        Tables.orders(spark, sf).filter($"o_orderstatus" === "O").count())
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the third skew/volume tool: Spark's InjectRuntimeFilter builds a
    // bloom filter from the SELECTIVE build side and applies it below
    // the probe side's shuffle — at 100 TB this is the difference
    // between shuffling the whole fact table and shuffling the ~1% that
    // can possibly join. Thresholds are tuned down so the optimizer
    // proves the mechanism at test scale.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      val o = Tables.orders(spark, sf)
        .filter($"o_totalprice" > 400000.0) // selective creation side
        .select("o_orderkey")
      val j = li.join(o, $"l_orderkey" === $"o_orderkey")
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"runtime bloom filter must inject below the probe side:\n${p.take(3000)}")
      // and it must not change the answer
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter($"o_totalprice" > 400000.0),
          $"l_orderkey" === $"o_orderkey").count()
      assert(j.count() == expected)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("hot-key stress: one user owning 10% of events streams through the q206 DFA (r9 verdict #7)") {
    import spark.implicits._
    // adversarial fixture: 200k events, user 0 owns 10% (a bot / load
    // tester); the hot user's journey is vvv...vp so the DFA must see
    // the conversion only by streaming the WHOLE sorted run — an
    // early-exit or truncating implementation would miss it, and a
    // buffering implementation holds 20k rows in one aggregation row.
    val n = 200000
    val hot = n / 10
    val ev = spark.range(n.toLong).select(
      col("id").as("event_id"),
      when(col("id") < hot, 0L).otherwise(col("id") % 997 + 1).as("user_id"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1000).as("ts"),
      // hot user: all views except a final purchase at the last event
      when(col("id") < hot - 1, "view")
        .when(col("id") === hot - 1, "purchase")
        .otherwise(element_at(typedlit(Seq("view", "click", "purchase", "signup", "refund")),
          (col("id") % 5 + 1).cast("int"))).as("event_type"))
    val out = graft.operators.Analytics.journeySummaries(spark, ev)
      .as[(Long, String, Boolean, Long)].collect()
    val hotRow = out.find(_._1 == 0L).get
    assert(hotRow._4 == hot.toLong, s"hot user must keep all $hot events, got ${hotRow._4}")
    assert(hotRow._2 == "v" && hotRow._3,
      "hot user's vvv...vp journey must convert — the DFA saw the full sorted run")
    assert(out.map(_._4).sum == n.toLong, "summaries must cover every event exactly once")
    // per-key state is O(1): the plan streams sorted groups, never
    // collects arrays (the same pin as AnalyticsSpec's law, re-checked
    // here on the adversarial fixture's own plan)
    val plan = graft.operators.Analytics.journeySummaries(spark, ev)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), s"DFA plan buffers arrays:\n$plan")
  }
}
