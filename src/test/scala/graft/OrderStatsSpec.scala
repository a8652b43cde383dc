package graft

import graft.util.OrderStats
import graft.util.OrderStats.Percentile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** `OrderStats.percentiles` must be EXACT on both of its paths —
  * bit-identical to SQL `percentile_cont` under duplicates, skew,
  * negatives, NULL groups and forced multi-round refinement, because
  * q16's oracle hashes its interpolated output. No shipped corpus
  * crosses the built-in envelope, so the selection path is forced
  * here through the entry's package-private form.
  */
class OrderStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Requests as (value SQL expression, percentage, output name). */
  private def sqlPercentiles(df: DataFrame, groups: Seq[String],
      reqs: Seq[(String, Double, String)]): DataFrame = {
    val cols = reqs.map { case (v, p, n) =>
      expr(s"percentile_cont($p) WITHIN GROUP (ORDER BY $v)").as(n)
    }
    df.groupBy(groups.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  private def rowsByGroup(df: DataFrame, nGroups: Int): Map[Seq[Any], Row] =
    df.collect().map(r => r.toSeq.take(nGroups) -> r).toMap

  /** Both paths of the entry — the built-in and the forced selection
    * with `buckets`/`tailK` — equal SQL `percentile_cont` row for row.
    */
  private def checkBothPaths(df: DataFrame, groups: Seq[String],
      reqs: Seq[(String, Double, String)], buckets: Int = 0,
      tailK: Int = 8192): Unit = {
    val want = rowsByGroup(sqlPercentiles(df, groups, reqs), groups.size)
    assert(want.nonEmpty)
    val requests = reqs.map { case (v, p, n) => Percentile(expr(v), p, n) }
    val paths = Seq(
      "built-in" -> OrderStats.percentiles(df, groups, requests),
      s"selection(buckets=$buckets tailK=$tailK)" -> OrderStats.percentiles(
        df, groups, requests, Nil, forceSelection = true, buckets, tailK))
    paths.foreach { case (path, out) =>
      assert(out.columns.toSeq == groups ++ reqs.map(_._3), path)
      val got = rowsByGroup(out, groups.size)
      assert(got.keySet == want.keySet, s"$path: groups")
      want.foreach { case (g, w) =>
        assert(got(g) == w, s"$path: group $g got ${got(g)}, want $w")
      }
    }
  }

  private val spread = Seq(0.0, 1.0, 0.5, 1.0 / 3, 2.0 / 3, 0.9)

  test("matches a local sort under duplicates and skew, across refinement depths") {
    val rnd = new scala.util.Random(7)
    // heavy duplicates + a dense cluster + outliers + negatives
    val values = Seq.fill(500)(42.0) ++
      Seq.fill(800)(rnd.nextInt(20).toDouble - 10.0) ++
      Seq.fill(700)(1e-9 * rnd.nextInt(1000)) ++
      Seq(-1e18, 1e18, 0.0, -0.0)
    val df = values.toDF("v").repartition(7)
    val reqs = spread.zipWithIndex.map { case (p, i) => ("v", p, s"p$i") }
    // tiny buckets/tailK force several histogram rounds; big values
    // resolve in the first
    checkBothPaths(df, Nil, reqs, buckets = 4, tailK = 2)
    checkBothPaths(df, Nil, reqs, buckets = 1024, tailK = 1024)
    // and the percentile_cont interpolation over a driver-side sort
    val sorted = values.sorted.toArray
    val got = OrderStats.percentiles(df, Nil,
      reqs.map { case (v, p, n) => Percentile(col(v), p, n) }, Nil,
      forceSelection = true, buckets = 4, tailK = 2).head()
    spread.zipWithIndex.foreach { case (p, i) =>
      val pos = p * (sorted.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      val want = if (lo == hi) sorted(lo)
        else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
      assert(got.getDouble(i) == want, s"p=$p")
    }
  }

  test("log-spread data converges within the structural bit-space round bound") {
    // The scenario that defeats value-space bucketing: values spanning
    // hundreds of binades with the mass (> tailK rows) in the low tail
    // — a linear value split eliminates only a few binades per round
    // and can exceed any fixed round cap. Bit-space buckets divide the
    // IEEE bit range B-fold per round regardless, so tiny buckets +
    // tiny tailK must still converge (and stay exact).
    val rnd = new scala.util.Random(41)
    val values = (1 to 3000).map(_ => math.pow(2.0, -(rnd.nextInt(900).toDouble)) *
        (1.0 + rnd.nextDouble())) ++
      Seq(java.lang.Double.MIN_VALUE, 4.9e-324, 1e308, -1e308, -0.0, 0.0,
        1e-310, -1e-310) ++ Seq.fill(300)(2.2e-320)
    val df = values.toDF("v").repartition(5)
    val reqs = spread.zipWithIndex.map { case (p, i) => ("v", p, s"p$i") }
    checkBothPaths(df, Nil, reqs, buckets = 4, tailK = 2)
    checkBothPaths(df, Nil, reqs, buckets = 1024, tailK = 8)
  }

  test("several groups equal the per-group SQL percentile_cont bit-for-bit") {
    val rnd = new scala.util.Random(29)
    val values = (1 to 4000).map(_ =>
      (s"g${rnd.nextInt(4)}", rnd.nextDouble() * 1e5)) ++
      (1 to 200).map(_ => ("g1", 333.33))
    val df = values.toDF("g", "v").repartition(6)
    val reqs = Seq(("v", 0.25, "p25"), ("v", 0.5, "p50"), ("v", 0.9, "p90"))
    checkBothPaths(df, Seq("g"), reqs)
    checkBothPaths(df, Seq("g"), reqs, buckets = 4, tailK = 2)
  }

  test("NULL groups form their own group, matching the built-in aggregate") {
    val rnd = new scala.util.Random(29)
    val data: Seq[(Option[String], Double)] =
      (1 to 4000).map(_ => (Some(s"g${rnd.nextInt(4)}"), rnd.nextDouble() * 1e5)) ++
        (1 to 200).map(_ => (Some("g1"), 333.33)) ++
        (1 to 200).map(i => (Option.empty[String], i.toDouble * 7.5))
    val df = data.toDF("g", "v").repartition(6)
    val reqs = Seq(("v", 0.25, "p25"), ("v", 0.5, "p50"), ("v", 0.9, "p90"))
    assert(sqlPercentiles(df, Seq("g"), reqs).count() == 5) // g0..g3 + NULL
    checkBothPaths(df, Seq("g"), reqs)
    checkBothPaths(df, Seq("g"), reqs, buckets = 4, tailK = 2)
  }

  test("one global group (q16's deciles) equals SQL percentile_cont") {
    val rnd = new scala.util.Random(13)
    val values = Seq.fill(3000)(rnd.nextDouble() * 1e6) ++ Seq.fill(100)(777.77)
    val df = values.toDF("spend").repartition(5)
    checkBothPaths(df, Nil,
      (1 to 9).map(k => ("spend", s"0.$k".toDouble, s"b$k")))
  }

  test("two value columns stacked under one group key (q11's shape)") {
    val rnd = new scala.util.Random(17)
    val df = (1 to 3000).map(i => (Seq("A", "N", "R")(i % 3),
        (1 + rnd.nextInt(50)).toDouble, rnd.nextDouble() * 1e5))
      .toDF("flag", "qty", "price").repartition(6)
    val reqs = Seq(("qty", 0.5, "median_qty"), ("price", 0.9, "p90_price"),
      ("price", 0.5, "median_price"))
    checkBothPaths(df, Seq("flag"), reqs)
    checkBothPaths(df, Seq("flag"), reqs, buckets = 4, tailK = 2)
  }

  test("unbounded group cardinality: 100k+ groups through the co-partitioned path") {
    // past GroupBroadcastEnvelope the engine must co-partition the
    // values ONCE and keep all per-group state distributed; small
    // tailK forces real histogram rounds through that path too
    val n = (OrderStats.GroupBroadcastEnvelope + 40000).toInt
    val rows = (0 until n).flatMap { g =>
      val cnt = 3 + g % 5
      (0 until cnt).map(i => (s"grp$g", ((g * 31 + i * 17) % 9973).toDouble / 7.0))
    }
    val df = rows.toDF("g", "v").repartition(8)
    val reqs = Seq(("v", 0.5, "p50"))
    val want = rowsByGroup(sqlPercentiles(df, Seq("g"), reqs), 1)
    val got = rowsByGroup(OrderStats.percentiles(df, Seq("g"),
      reqs.map { case (v, p, nm) => Percentile(col(v), p, nm) }, Nil,
      forceSelection = true, buckets = 4, tailK = 2), 1)
    assert(want.size == n)
    assert(got == want)
  }

  test("e10's past-the-envelope selection plan equals the built-in aggregate") {
    // No shipped corpus crosses the envelope for e10, so its
    // selection plan is pinned here on the real sf0.01 session table:
    // two value columns stacked, plus the count/sum passthrough.
    val sess = graft.ops.Events.sessionsTable(spark, "/root/testdata/sf0.01")
    val dur = col("end_es") - col("start_es")
    val got = OrderStats.percentiles(sess, Nil,
        Seq(Percentile(dur, 0.5, "p50_duration_s"), Percentile(dur, 0.9, "p90_duration_s"),
          Percentile(col("n_events"), 0.5, "p50_events")),
        Seq(count(lit(1)).as("n_sessions"),
          sum(col("n_events").cast("decimal(18,0)")).cast("long").as("total_events")),
        forceSelection = true, buckets = 0, tailK = 8192)
      .select("n_sessions", "p50_duration_s", "p90_duration_s", "p50_events",
        "total_events")
      .head()
    val want = sess.agg(count(lit(1)).as("n_sessions"),
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY end_es - start_es)"),
      expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY end_es - start_es)"),
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY n_events)"),
      expr("CAST(SUM(CAST(n_events AS DECIMAL(18,0))) AS BIGINT)")).head()
    assert(got == want)
  }

  test("tailK past the TopKAggregate cap fails at the API boundary") {
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val e = intercept[IllegalArgumentException](
      OrderStats.percentiles(df, Nil, Seq(Percentile(col("v"), 0.5, "p50")), Nil,
        forceSelection = true, buckets = 0, tailK = 8193))
    assert(e.getMessage.contains("8192"),
      s"boundary error must name the cap, got: ${e.getMessage}")
  }
}
