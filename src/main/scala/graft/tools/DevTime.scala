package graft.tools

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.Tables

/** Dev-only stage timer for the q37 pipeline (not part of the driver
  * contract; run via `runMain graft.tools.DevTime <sfDir>`). */
object DevTime {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"STAGE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // consume through the noop sink where a stage's WORK is being
    // timed: count() lets column pruning delete the computed columns
    // (a signature stage would time as a bare scan). Row COUNTS for
    // reporting still use count().
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm per-stage timing for the q37 pipeline (stage 2 of 2
    // reported); DEVTIME_THRESHOLD picks the Jaccard threshold (0.9
    // historical default; q37's bench line runs 0.7 — profile THAT)
    if (sys.env.contains("DEVTIME_WARM")) {
      val th = sys.env.getOrElse("DEVTIME_THRESHOLD", "0.9").toDouble
      val d2 = Tables.documents(spark, dir).select("doc_id", "text")
      (1 to 2).foreach { rep =>
        graft.Caches.releaseAll()
        val s0 = System.nanoTime()
        val sg = graft.Caches.cached(Dedup.minhashSignatures(d2, 3, 32)); consume(sg)
        val s1 = System.nanoTime()
        val sv = Dedup.lshSurvivors(sg, 8, 4, th)
        val nSv = Tables.fanOut(sv).count()
        val s2 = System.nanoTime()
        graft.Caches.releaseAll()
        val full = Dedup.minhashNearDups(d2, 3, 32, 8, th).count()
        val s3 = System.nanoTime()
        if (rep == 2) println(f"WARM th=$th sigs=${(s1-s0)/1e9}%.2f survivors($nSv)=${(s2-s1)/1e9}%.2f full($full)=${(s3-s2)/1e9}%.2f")
      }
      // verify-side breakdown: pair cache, survivor-scoped array build,
      // and the final verify joins timed separately (DEVTIME_VERIFY=1)
      if (sys.env.contains("DEVTIME_VERIFY")) {
        graft.Caches.releaseAll()
        val t0 = System.nanoTime()
        val sg = graft.Caches.cached(Dedup.minhashSignatures(d2, 3, 32))
        val pairs = graft.Caches.cached(Dedup.lshSurvivors(sg, 8, 4, th))
        val nP = pairs.count()
        val t1 = System.nanoTime()
        graft.plans.SortedShingles.register(spark)
        val ids = pairs.select(col("a_id").as("doc_id"))
          .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
        val survD = Tables.fanOut(d2.join(ids, Seq("doc_id"), "left_semi"))
        val shArr = graft.Caches.cached(survD.select(col("doc_id"),
          call_function(graft.plans.SortedShingles.NAME, col("text"), lit(3)).as("sh")))
        val nS = shArr.count()
        val t2 = System.nanoTime()
        val fanned = Tables.fanOut(pairs)
        val inter = expr("sorted_intersect_count(a_sh, b_sh)")
        graft.plans.SortedIntersectCount.register(spark)
        val withSh = fanned
          .join(Tables.maybeBroadcast(shArr.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), leafExpansion = 24.0), "a_id")
          .join(Tables.maybeBroadcast(shArr.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), leafExpansion = 24.0), "b_id")
        val uni = size(col("a_sh")) + size(col("b_sh")) - inter
        val n = withSh
          .filter(least(size(col("a_sh")), size(col("b_sh"))) * lit(1.0) >=
            lit(th) * greatest(size(col("a_sh")), size(col("b_sh"))))
          .select(col("a_id"), col("b_id"), (inter.cast("double") / uni).as("jaccard"))
          .filter(col("jaccard") >= th).count()
        val t3 = System.nanoTime()
        println(f"VERIFY pairs($nP)=${(t1-t0)/1e9}%.2f shArr($nS)=${(t2-t1)/1e9}%.2f verify($n)=${(t3-t2)/1e9}%.2f")
        if (sys.env.contains("DEVTIME_EXPLAIN"))
          println("SHARR PLAN:\n" + shArr.queryExecution.executedPlan.toString)
        graft.Caches.releaseAll()
      }
      // band-bucket skew profile: pairs emitted per (band,key) bucket
      val sg2 = graft.Caches.cached(Dedup.minhashSignatures(d2, 3, 32)); sg2.count()
      val melted = sg2.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array((0 until 8).map { j =>
            org.apache.spark.sql.functions.xxhash64(
              (j * 4 until (j + 1) * 4).map(i =>
                org.apache.spark.sql.functions.col(s"s$i")): _*).as("key")
          }: _*)).as("key"))
      val top = melted.groupBy("key")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("b"))
        .orderBy(org.apache.spark.sql.functions.col("b").desc)
        .limit(10).collect()
      println("TOP BUCKETS: " + top.map(r =>
        s"${r.getLong(1)} (${r.getLong(1) * (r.getLong(1) - 1) / 2} pairs)").mkString(", "))
      graft.Caches.releaseAll()
      spark.stop(); return
    }
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    println("docs = " + docs.count())
    val sigs = graft.Caches.cached(Dedup.minhashSignatures(docs, 3, 32))
    time("signatures")(consume(sigs))
    val cand = Dedup.lshCandidates(sigs, 8, 4)
    println("candidates = " + time("candidates")(cand.count()))
    time("full_pipeline_cold") {
      graft.Caches.releaseAll()
      Dedup.minhashNearDups(docs, 3, 32, 8, 0.7).count()
    }
    graft.Caches.releaseAll()
    // q49 breakdown
    val slice = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 200)
    val pairs = Dedup.jaccardPairs(slice, 3)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.7)
    println("pairs = " + time("q49_jaccard_pairs")(pairs.count()))
    time("q49_components")(Dedup.components(pairs).count())
    graft.Caches.releaseAll()
    // q65 breakdown (token-5-gram pipeline)
    val p65 = graft.Caches.cached(Dedup.minhashNearDupsTokens(docs, 5, 32, 8, 0.7))
    println("q65 pairs = " + time("q65_neardups_tokens")(p65.count()))
    time("q65_components")(Dedup.components(p65).count())
    graft.Caches.releaseAll()
    // token-pipeline internals: survivors of the est prefilter
    val sigs65 = graft.Caches.cached(Dedup.minhashSignaturesTokens(docs, 5, 32))
    consume(sigs65)
    val surv = Dedup.lshSurvivors(sigs65, 8, 4, 0.7)
    println("est survivors = " + time("q65_est_survivors")(surv.count()))
    graft.Caches.releaseAll()
    spark.stop()
  }
}
