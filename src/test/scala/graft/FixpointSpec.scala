package graft

import graft.SparkJobs.{jobsOf, withConf}
import graft.graph.Traversals
import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared loop machinery: one job per frontier or iterate round,
  * probes that carry a SQL execution id, and resident edge tables that
  * belong to their scope alone and are released however the scope
  * ends.
  */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 0 → 1 → … → 9 */
  private def path10: DataFrame = (0 until 9).map(i => (i, i + 1)).toDF("src", "dst")

  test("frontier: one Spark job per round plus one for the seed, on a 10-vertex path; " +
      "bfsLevels and reachableFrom likewise") {
    // AQE off and no broadcasts: then a round's exchanges are stages of
    // its one fused checkpoint+count job, and the count of jobs is the
    // loop's own (AQE would add one job per query stage)
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = path10
      val ((levels, rounds), jobs) = jobsOf {
        Fixpoint.resident(edges, "src") { e =>
          Fixpoint.frontier(Seq((0, 0)).toDF("node", "dist"), "dist") { (st, front, r) =>
            st.unionAll(front.join(e, front("node") === e("src"))
                .select(e("dst").as("node"), lit(r).as("dist")))
              .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          }
        }
      }
      // nine rounds that reach a vertex, one that finds the frontier empty
      assert(rounds == 10)
      assert(jobs.size == rounds + 1, s"${jobs.size} jobs for $rounds rounds")
      assert(levels.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
        == (0 until 10).map(i => (i, i)))

      // (source, cap, rounds the loop runs): uncapped loops end on the
      // empty round, a capped one on the cap
      for ((src, cap, expected) <- Seq((0, 20, 10), (0, 4, 4), (5, 20, 5))) {
        val (bfs, bfsJobs) = jobsOf(Traversals.bfsLevels(edges, src, cap))
        assert(bfsJobs.size == expected + 1, s"bfsLevels($src, $cap): ${bfsJobs.size} jobs")
        assert(bfs.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
          == (src until 10).map(i => (i, i - src)).filter(_._2 <= cap))
        if (cap == 20) {
          val (reach, reachJobs) = jobsOf(Traversals.reachableFrom(edges, src))
          assert(reachJobs.size == expected + 1, s"reachableFrom($src): ${reachJobs.size} jobs")
          assert(reach.collect().map(_.getInt(0)).sorted.toSeq == (src until 10))
        }
      }
    }
  }

  test("iterate: one Spark job per round, plus one for the seed under a count rule") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val seed = spark.range(0, 10, 1, 2).toDF("v")
      def values(df: DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq

      // count zero: each round lowers every positive value by one, so
      // the count of positives reaches 0 after 9 rounds — or the cap
      for ((cap, rounds) <- Seq((Int.MaxValue, 9), (4, 4))) {
        val ((out, n), jobs) = jobsOf(Fixpoint.iterate(seed, Until.Empty(col("v") > 0), cap) {
          (st, _) => st.select(greatest(col("v") - 1, lit(0L)).as("v"))
        })
        assert(n == rounds)
        assert(jobs.size == rounds + 1, s"Empty, cap $cap: ${jobs.size} jobs for $n rounds")
        assert(values(out) == (0L until 10L).map(v => math.max(v - rounds, 0L)))
      }
      // an empty seed runs no round: its probe is the only job
      val ((_, n0), jobs0) = jobsOf(
        Fixpoint.iterate(seed.filter(col("v") > 100), Until.Empty(lit(true))) {
          (_, _) => fail("a round ran on an empty seed")
        })
      assert(n0 == 0 && jobs0.size == 1)

      // count unchanged: a peel that stops shrinking at 6 rows; the
      // round that removes nothing is the last
      val ((core, nu), jobsU) = jobsOf(Fixpoint.iterate(seed, Until.Unchanged(lit(true))) {
        (st, r) => st.filter(col("v") < math.max(10 - r, 6))
      })
      assert(nu == 5)
      assert(jobsU.size == nu + 1, s"Unchanged: ${jobsU.size} jobs for $nu rounds")
      assert(values(core) == (0L until 6L))

      // fixed rounds: the seed is taken as given, so the rounds are
      // the only jobs
      val ((fixed, nr), jobsR) = jobsOf(Fixpoint.iterate(seed, Until.Rounds, 3) {
        (st, _) => st.select((col("v") + 10).as("v"))
      })
      assert(nr == 3 && jobsR.size == 3, s"Rounds: ${jobsR.size} jobs for $nr rounds")
      assert(values(fixed) == (30L until 40L))
    }
  }

  test("iterate: a fixed-round loop materializes every round in that round's job") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val calls = spark.sparkContext.longAccumulator("iterate-calls")
      val bump = udf((v: Long) => { calls.add(1); v + 1 }).asNondeterministic()
      val seed = spark.range(0, 20, 1, 4).toDF("v")
      val ((out, rounds), jobs) = jobsOf(Fixpoint.iterate(seed, Until.Rounds, 5) {
        (st, _) => st.select(bump(col("v")).as("v"))
      })
      assert(rounds == 5 && jobs.size == 5)
      // every round ran its step over all 20 rows before iterate returned
      // (a lazy checkpoint that no job computes would leave this at 0) ...
      assert(calls.value == 20L * 5)
      // ... and reading the result recomputes none of them
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (5L until 25L))
      assert(calls.value == 20L * 5)
    }
  }

  test("checkpointWithCount's probe is one job and carries a SQL execution id") {
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    val ((ck, n), jobs) = jobsOf(Fixpoint.checkpointWithCount(df, col("id") % 7 === 3))
    assert(n == (0 until 1000).count(_ % 7 == 3))
    assert(jobs.size == 1, s"${jobs.size} jobs")
    assert(jobs.head.getProperty("spark.sql.execution.id") != null,
      "the probe job runs outside any SQL execution")
    assert(ck.count() == 1000)
  }

  test("overlapping resident scopes on one frame keep separate cache entries") {
    val df = (0 until 50).map(i => (i, (i * 7) % 50)).toDF("src", "dst")
    def cached(f: DataFrame) = f.groupBy(col("src")).count().queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }.isDefined
    // both sides of keyedResident's size switch: cached as-is, and
    // repartitioned on the key (no broadcast threshold)
    for (threshold <- Seq(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"), "-1"))
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        Fixpoint.resident(df, "src") { outer =>
          assert(outer.count() == 50)
          Fixpoint.resident(df, "src") { inner => assert(inner.count() == 50) }
          assert(cached(outer), s"threshold $threshold: the inner scope evicted the outer table")
          assert(outer.count() == 50)
        }
      }
  }

  /** The session cache manager's entry count (package-private in
    * Spark, so read reflectively).
    */
  private def cachedEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("a round that throws leaves no resident table cached") {
    val before = cachedEntries
    // the UDF fails on one dst: the round that first reads the resident
    // edge table, after the seed's round, throws
    val boom = udf((d: Int) => { if (d == 3) throw new IllegalStateException("boom"); d })
    val edges = path10.select(col("src"), boom(col("dst")).as("dst"))
    // no broadcast threshold: a table this small would take
    // bfsLevels' driver path, which holds no resident table
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      intercept[Exception](Traversals.bfsLevels(edges, 0, 20))
    }
    assert(cachedEntries == before, "bfsLevels left its edge table cached")

    // a driver-side failure in round 2, after round 1 read the table
    val e2 = intercept[IllegalStateException] {
      Fixpoint.resident(path10, "src") { e =>
        Fixpoint.frontier(Seq((0, 0)).toDF("node", "dist"), "dist") { (st, front, r) =>
          if (r == 2) throw new IllegalStateException("round 2")
          st.unionAll(front.join(e, front("node") === e("src"))
              .select(e("dst").as("node"), lit(r).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        }
      }
    }
    assert(e2.getMessage == "round 2")
    assert(cachedEntries == before, "the scope left its edge table cached")
  }
}
