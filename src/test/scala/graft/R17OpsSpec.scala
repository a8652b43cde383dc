package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization internals: the salted d07 bucket join, d18's
  * one-directional hydration, and the fused checkpoint+probe primitive
  * the iterative family runs on. Each test pins BOTH the semantics (an
  * independent recount) and the plan property the optimization exists
  * for, so a regression of either fails loudly.
  */
class R17OpsSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("d07 salted nibble join equals an all-pairs Hamming recount " +
      "over d03's fingerprints, and the salt layout is plan-pinned") {
    // independent leg: d03 emits (doc_id, simhash); brute-force the
    // n² Hamming census driver-side (the oracle's shape, in Scala)
    val fps = dedup.Dedup.simhashTable(spark, dir)
      .select(col("doc_id"), col("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = fps.map { case (id, h) =>
      val n = fps.count { case (oid, oh) =>
        oid != id && java.lang.Long.bitCount(h ^ oh) <= 3
      }
      (id, n.toLong)
    }.toSet
    val d07 = SparkEntry.queries("d07_simhash_neighbors")(spark, dir)
    val got = d07.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"diff sample=${(got.diff(expected) ++ expected.diff(got)).take(3)}")

    // plan pin: the pair join runs on (nidx, nib, salt) under two
    // explicit-count repartitions (the layout AQE cannot coalesce) with
    // the deterministic pmod salt — the r17 fix for the 64-key join
    // serializing its Σ|bucket|² pair space onto a couple of tasks
    val plan = d07.queryExecution.optimizedPlan
    val reparts = plan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
          if r.optNumPartitions.isDefined => r
    }
    assert(reparts.size >= 2,
      s"expected the two pinned salt repartitions, found ${reparts.size}")
    assert(plan.toString.contains("pmod"), "salt projection missing")

    // executed plan: the salted join's keys are plain column references
    // of one type — a `cast(salt_b as bigint)` key would defeat the
    // pinned repartition and add an exchange of the exploded side
    val saltJoins = collect(d07.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "salt")) => j
    }
    assert(saltJoins.size == 1, s"expected one salted join, found ${saltJoins.size}")
    val keys = saltJoins.head.leftKeys ++ saltJoins.head.rightKeys
    assert(keys.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]),
      s"salted join keys must carry no cast: $keys")
    assert(saltJoins.head.leftKeys.map(_.dataType) == saltJoins.head.rightKeys.map(_.dataType),
      s"salted join key types differ: $keys")
  }

  test("d18 emits both directions of each d04 candidate from ONE " +
      "hydration (explode, no union-duplicated subtree), n_inter " +
      "symmetric and consistent with d04's union sizes") {
    val d04 = SparkEntry.queries("d04_ngram_jaccard")(spark, dir)
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val d18df = SparkEntry.queries("d18_containment")(spark, dir)
    val d18 = d18df.select("doc_a", "doc_b", "n_a", "n_inter")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(d18.size == 2 * d04.length, "d18 must carry both directions")
    d04.foreach { case (a, b, ni, nu) =>
      val (na, niAB) = d18((a, b))
      val (nb, niBA) = d18((b, a))
      assert(niAB == ni && niBA == ni,
        s"($a,$b): intersection must be symmetric and equal d04's")
      // |A| + |B| − |A∩B| = |A∪B| ties the per-direction sizes to
      // d04's independently-computed union size
      assert(na + nb - ni == nu, s"($a,$b): sizes inconsistent with d04")
    }
    // plan pin: both directions come from one explode over the counted
    // row — a union of two projections would re-run the whole
    // hydration per branch (Catalyst duplicates a union's subtree; the
    // r16 d07 lesson), doubling the array-carrying exchange this
    // restructure halved
    val plan = d18df.queryExecution.optimizedPlan
    val unions = plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(unions.isEmpty, "d18 must not union-duplicate the hydration")
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(gens.size == 1, s"expected ONE direction explode, got ${gens.size}")
  }

  test("checkpointWithCount: one fused action returns the predicate " +
      "count, truncates lineage, and preserves rows exactly") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "m")
      .repartition(8)
    val (ck, n) = util.Fixpoint.checkpointWithCount(df, col("m") === 3)
    assert(n == (1 to 1000).count(_ % 7 == 3))
    // lineage is checkpoint-truncated: the returned frame is backed by
    // a LogicalRDD leaf, exactly like the eager localCheckpoint form
    assert(ck.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    // and the rows are the input's, unchanged
    assert(ck.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      == (1 to 1000).map(i => (i.toLong, i % 7)))
    // the probe must not have narrowed the frame: full re-count agrees
    assert(ck.count() == 1000)
  }

  test("readParquet re-infers the schema when a schema-affecting conf changes") {
    // a BINARY column with no Spark schema in the footer (Spark's own
    // writer records one, which would pin the type), so the
    // binaryAsString conf alone decides what it infers to
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message m { required binary payload; }")
    val dir = java.nio.file.Files.createTempDirectory("binparquet")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(dir.resolve("part-0.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("payload", "abc"))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(conf)
    def payloadType = util.Par.readParquet(spark, dir.toString).schema("payload").dataType
    try {
      spark.conf.set(conf, "false")
      assert(payloadType == org.apache.spark.sql.types.BinaryType)
      spark.conf.set(conf, "true")
      assert(payloadType == org.apache.spark.sql.types.StringType)
      assert(util.Par.readParquet(spark, dir.toString).collect().map(_.getString(0)).toSeq
        == Seq("abc"))
    } finally before match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
