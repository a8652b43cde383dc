package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Evidence for the SURVEY §5 co-location claim: two tables bucketed
  * on the join key join with ZERO exchanges — the plan shape that
  * turns a 100 TB fact-fact join from a full shuffle into a local
  * merge per bucket.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("bucketed co-located join plans without a shuffle") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1 to 1000).map(i => (i.toLong, s"left_$i")).toDF("k", "lv")
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_left")
      (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "rv")
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_right")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan, got:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val sf = "/root/testdata/sf0.001"

  test("MatStore.bucketedTable joins back on the bucket key without an Exchange on that side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = graft.util.MatStore.bucketedTable(spark, "bktspec:left",
          "graft_bktspec", "k", 8) {
        (1 to 500).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
      }
      val right = graft.util.MatStore.bucketedTable(spark, "bktspec:right",
          "graft_bktspec", "k", 8) {
        (1 to 500).map(i => (i.toLong, i * 3.0)).toDF("k", "rv")
      }
      val joined = left.join(right, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.count() == 500)
      // second lookup serves the same catalog table, no rebuild
      assert(graft.util.MatStore.bucketedTable(spark, "bktspec:left",
        "graft_bktspec", "k", 8)(fail("must not rebuild")).count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("MatStore.bucketedTable's write forks no chmod and leaves no write option on the table") {
    // the catalog's first use creates the warehouse directory, once per JVM
    val catalog = spark.sessionState.catalog
    catalog.listTables("default"): Unit
    val (n, forks) = SparkJobs.forksOf(graft.util.MatStore.bucketedTable(spark, "bktspec:forks",
        "graft_bktspec", "k", 4) {
      (1 to 100).map(i => (i.toLong, s"f$i")).toDF("k", "fv")
    }.count())
    assert(n == 100)
    assert(forks == 0, s"the bucketed write forked $forks processes")
    val tables = catalog.listTables("default", "graft_bkt_*").map(catalog.getTableMetadata)
    assert(tables.nonEmpty)
    val leaked = tables.filter(_.storage.properties.keySet.exists(_.startsWith("fs.file.")))
    assert(leaked.isEmpty, leaked.map(t => t.identifier -> t.storage.properties).mkString("; "))
  }

  test("registered fact-fact joins consume the bucketed layout: zero shuffle exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // forcing broadcasts OFF makes the assertion strict: without the
    // bucketed layout every one of these would need an Exchange pair
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // q03's whole pipeline: bucketed l ⋈ o join AND the
      // (o_orderkey, o_orderdate) aggregation ride the bucket
      // partitioning; only its dim join broadcasts (re-enabled below)
      val l = Tables.bucketed(spark, sf, "lineitem", "l_orderkey")
        .select(col("l_orderkey").as("orderkey"), col("l_suppkey"))
      val o = Tables.bucketed(spark, sf, "orders", "o_orderkey")
        .select(col("o_orderkey"), col("o_custkey"))
      val spine = l.join(o, col("orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      val plan = spine.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed fact-fact join still shuffles:\n$plan")
      assert(spine.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // and the registered q03 keeps only broadcast exchanges end-to-end
    val q03Plan = SparkEntry.queries("q03_top_orders")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!q03Plan.contains("Exchange hashpartitioning"),
      s"q03 still carries a shuffle exchange:\n$q03Plan")
  }

  test("q05: customer join rides the custkey buckets - lineitem never shuffles") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("q05_nation_revenue")(spark, sf)
        .queryExecution.executedPlan.toString
      // the one permitted fact-side shuffle: the narrow filtered
      // orders⋈customer intermediate onto lineitem's orderkey buckets
      // (plus the trivial 25-row n_name aggregation exchange and the
      // final sort's range exchange) — never custkey, never lineitem
      val custkeyExchanges = "Exchange hashpartitioning\\([^)]*custkey".r
        .findAllIn(plan).size
      assert(custkeyExchanges == 0,
        s"q05 still shuffles on custkey:\n$plan")
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges <= 2,
        s"q05 has $hashExchanges hash exchanges (want <= 2: oc->orderkey + agg):\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graph builds consume the fact spine: no orderkey join in their plans") {
    import graft.graph.{Components, TradeGraph}
    // the fact-fact shuffle lives only in the spine build
    TradeGraph.orderFacts(spark, sf).count()
    val edgesPlan = TradeGraph.edges(spark, sf).queryExecution.executedPlan.toString
    assert(!edgesPlan.contains("orderkey = o_orderkey"),
      s"edges build still joins the facts:\n$edgesPlan")
    assert(!edgesPlan.contains("SortMergeJoin"),
      s"edges build should join only (broadcastable) dims here:\n$edgesPlan")
    // bipairs is scan + distinct over the spine — no join at all
    val bipairsPlan = Components.bipartitePairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!bipairsPlan.contains("Join"), s"bipairs reads the materialized store:\n$bipairsPlan")
  }

  test("fact spine matches the direct lineitem-orders join") {
    import graft.graph.TradeGraph
    val spine = TradeGraph.orderFacts(spark, sf)
      .groupBy().agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum($"orderkey"),
        org.apache.spark.sql.functions.sum($"custkey"),
        org.apache.spark.sql.functions.sum($"suppkey")).head()
    val direct = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy().agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum($"l_orderkey"),
        org.apache.spark.sql.functions.sum($"o_custkey"),
        org.apache.spark.sql.functions.sum($"l_suppkey")).head()
    assert(spine == direct)
  }
}
