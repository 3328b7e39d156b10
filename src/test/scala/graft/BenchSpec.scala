package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import org.apache.spark.sql.functions.{lit, raise_error}

/** [[Bench.walk]], the one walk over the catalogue, driven with
  * synthetic catalogues: a failing query is reported and returned with
  * its cause and never stops the walk or leaks what it registered. */
class BenchSpec extends SparkSpec {

  /** `body`'s result and the stderr lines it printed through `Console`. */
  private def stderrOf[A](body: => A): (A, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val a = Console.withErr(new PrintStream(buf, true, "UTF-8"))(body)
    (a, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("the walk continues past throwing queries, names each cause, and releases their pins") {
    Caches.releaseAll()
    val rows: Q = (s, _) => s.range(5).toDF("x")
    val throwsInBuild: Q = { (s, _) =>
      Caches.pin(s.range(3).toDF("x"))
      throw new IllegalStateException("no frame after the pin")
    }
    val throwsInWrite: Q = (s, _) => s.range(3).toDF("x").select(raise_error(lit("raised in the write")))
    val queries = Map("w1_rows" -> rows, "w2_throws_in_build" -> throwsInBuild,
      "w3_throws_in_write" -> throwsInWrite)
    val ((ok, failed), lines) = stderrOf {
      Bench.walk("TEST", queries) { (_, fn) =>
        val df = fn(spark, sf)
        Bench.consume(df)
        df.count()
      }
    }
    assert(ok == Seq("w1_rows" -> 5L))
    assert(failed.map(_._1) == Seq("w2_throws_in_build", "w3_throws_in_write"))
    assert(Caches.pinnedCount == 0, "a failed query's pin outlived its attempt")
    // the cause of the write's failure, as a direct consume reports it
    val cause = intercept[Exception](Bench.consume(throwsInWrite(spark, sf)))
    val fails = lines.filter(_.startsWith("TEST FAIL "))
    assert(fails.size == 2, lines.mkString("\n"))
    assert(fails(0) == "TEST FAIL w2_throws_in_build: java.lang.IllegalStateException: no frame after the pin")
    assert(fails(1).startsWith(s"TEST FAIL w3_throws_in_write: ${cause.getClass.getName}: ") &&
      fails(1).contains("raised in the write"), fails(1))
    // the walk returns each cause as `<class>: <message>`, as it printed it
    assert(failed(0)._2 == "java.lang.IllegalStateException: no frame after the pin")
    assert(failed(1)._2.startsWith(s"${cause.getClass.getName}: ") &&
      failed(1)._2.contains("raised in the write"), failed(1)._2)
    assert(fails == failed.map { case (n, c) => s"TEST FAIL $n: $c" })
    assert(lines.last == "TEST DONE 1 of 3 ok; failed: w2_throws_in_build, w3_throws_in_write")
  }

  test("a query failing on one of its reps is reported failed, not timed from the other") {
    Caches.releaseAll()
    var calls = 0
    val secondRepThrows: Q = { (s, _) =>
      calls += 1
      if (calls == 2) throw new RuntimeException("rep 2 failed")
      s.range(3).toDF("x")
    }
    val steady: Q = (s, _) => s.range(3).toDF("x")
    val queries = Map("r1_second_rep_throws" -> secondRepThrows, "r2_steady" -> steady)
    val ((ok, failed), lines) = stderrOf {
      Bench.walk("TEST", queries)((_, fn) => Bench.reps(spark, sf, fn, 2))
    }
    assert(failed == Seq("r1_second_rep_throws" -> "java.lang.RuntimeException: rep 2 failed"))
    assert(lines.contains("TEST FAIL r1_second_rep_throws: java.lang.RuntimeException: rep 2 failed"))
    assert(ok.map(_._1) == Seq("r2_steady"))
    // a sub-second query is topped up to four reps, each split into build and exec
    assert(ok.head._2.size == 4 && ok.head._2.forall { case (b, e) => b >= 0 && e >= 0 })
  }
}
