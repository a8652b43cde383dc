package graft

import org.apache.spark.sql.SparkSession


/** Dev profiling main: stage-level timing for the expensive operators
  * so optimization targets facts, not guesses.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  $name ($r)")
    }

    if (args.length > 3 && args(1) == "ann") {
      // ANN calibration probe: recall@3 of the bits/tables scale
      // family against a sampled-query exact oracle (independent
      // window-based implementation, same shape as SimilaritySpec's).
      // Usage: graft.Profile <sfDir> ann <bits> <tables> [sampleMod]
      import org.apache.spark.sql.functions._
      import graft.functions.VectorFunctions.{floatDot, floatNorm}
      val (bits, tables) = (args(2).toInt, args(3).toInt)
      val sampleMod = if (args.length > 4) args(4).toInt else 20
      val e = Tables(spark, sfDir, "embeddings")
        .withColumn("nrm", floatNorm(col("embedding")))
      val isSampled = col("query_id") % sampleMod === 0
      val q = e.filter(col("vec_id") % sampleMod === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
        .repartition(graft.util.Par.shufflePartitions(spark), col("query_id"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"), col("nrm").as("nc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      val exact = q.join(broadcast(c), col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
        .select(col("query_id"), col("neighbor_id"), col("cos"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      t(s"ann.exact.sampled(1/$sampleMod)")(exact.count())
      t(s"ann.candidates(bits=$bits,tables=$tables)")(
        sim.Similarity.annCandidates(spark, sfDir, bits, tables)
          .filter(isSampled).count())
      val approx = sim.Similarity.annKnnGraphAt(spark, sfDir, bits, tables)
        .filter(isSampled)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
        .localCheckpoint()
      t("ann.approx.graph")(approx.count())
      val recall = exact.join(approx,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg((count(col("q2")).cast("double") / lit(3.0)).as("r"))
        .agg(avg(col("r"))).collect()(0).getDouble(0)
      println(f"ann.recall_at_3(bits=$bits,tables=$tables) = $recall%.3f")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "bipartite") {
      // decompose g11/g13 using the SHIPPED pipeline pieces (no inline
      // copies — Components exposes supplierStar and labelPropagate so
      // the profiler can't drift from the real code)
      import org.apache.spark.sql.functions._
      t("warmup")(Tables(spark, sfDir, "lineitem").count())
      val pairs = graph.Components.bipartitePairs(spark, sfDir)
      t("bipairs.build+count")(pairs.count())
      val star = graph.Components.supplierStar(pairs)
      t("g11.star.distinct")(star.count())
      val snodes = pairs.select(col("supp").as("node")).distinct()
      val ssym = star.unionAll(star.select(col("dst").as("src"), col("src").as("dst")))
      t("g11.labelPropagate")(graph.Components.labelPropagate(snodes, ssym).count())
      var threshold = Int.MaxValue
      t("g13.hotkeys.measure") {
        threshold = graph.Components.measuredSaltThreshold(pairs).getOrElse(Int.MaxValue)
        threshold
      }
      val common = graph.Components.coCustomerCounts(pairs, threshold, 32)
      t("g13.coCustomerCounts")(common.count())
      t("g13.full")(SparkEntry.queries("g13_supplier_overlap")(spark, sfDir).count())
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "annpath") {
      // Broadcast-vs-bucketed ANN build cost at this corpus (the
      // annBroadcastEnvelopeRows switch's two physical shapes, same
      // rows — SimilaritySpec pins bit-equality). The bucketed plan
      // pays the one-time tsig/vec_id catalog-table layout on first
      // touch; the second timing is the steady-state rebuild cost a
      // cluster-scale corpus would pay per refresh. Per-phase shuffle
      // WRITE bytes are reported alongside wall time — the bucketed
      // path's inherent cost center is its one wide exchange, and the
      // canonical-pair rewrite's claim (half the bytes) must be
      // measured, not asserted.
      // Usage: graft.Profile <sfDir> annpath
      import org.apache.spark.sql.functions._
      import graft.functions.VectorFunctions.floatNorm
      val sw = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          sw.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
        }
      })
      def ts(name: String)(f: => Any): Unit = {
        Thread.sleep(2000) // let straggler listener events drain
        val b0 = sw.get
        t(name)(f)
        Thread.sleep(2000)
        println(f"          shuffle-write ${(sw.get - b0) / 1e9}%.2f GB in $name")
        // release the finished phase's shuffle files before the next
        // one: ContextCleaner only deletes them when the shuffle's RDD
        // is collected, and two retained ~64 GB exchanges don't fit
        // this box's disk (measured: the warm re-run died on ENOSPC
        // with the first run's files still held)
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        Thread.sleep(5000)
      }
      val e = Tables(spark, sfDir, "embeddings")
        .withColumn("nrm", floatNorm(col("embedding")))
      val n = e.count()
      val (bits, tables) = sim.Similarity.annParams(n)
      println(s"n=$n family=($bits bits, $tables tables)")
      ts("ann.broadcast.build")(
        sim.Similarity.annGraphBroadcast(e, bits, tables).count())
      ts("ann.bucketed.build+layout")(
        sim.Similarity.annGraphBucketed(spark, sfDir, bits, tables).count())
      ts("ann.bucketed.build(layout warm)")(
        sim.Similarity.annGraphBucketed(spark, sfDir, bits, tables).count())
      // The quantized composition (s09's plan): identical candidate
      // stream, int8 store as the hydration side — the wide
      // pair+vector exchange carries 72 B of vector payload per row
      // instead of ~280 B, which is the r12 claim to MEASURE against
      // the float phase above (same layout-warm footing: quantized
      // store laid out first, untimed).
      sim.Similarity.bucketedQuantVecs(spark, sfDir).count()
      ts("ann.bucketed.quantized(layout warm)")(
        sim.Similarity.rerankTop3QuantizedFrom(
          sim.Similarity.bucketedQuantVecs(spark, sfDir),
          sim.Similarity.signCandidatesBucketed(spark, sfDir, bits, tables)
        ).count())
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "skew") {
      // g13 salt-switch evidence at scale: inject one aggregator-shaped
      // hot customer into the REAL corpus pairs (the shape a 100 TB
      // marketplace graph is guaranteed to contain), show the measured
      // switch engages, and time the Σd² pair stream salted vs plain —
      // the plain join must emit the hot key's d²/2 co-pairs from ONE
      // reducer, the salted plan spreads them across SaltFactor
      // sub-keys. Usage: graft.Profile <sfDir> skew [hotDegree]
      import org.apache.spark.sql.functions._
      val hotDegree = if (args.length > 2) args(2).toInt else 10000
      val real = graph.Components.bipartitePairs(spark, sfDir)
        .select(col("cust"), col("supp"))
      t("pairs.real")(real.count())
      println(s"measured threshold on real pairs: " +
        s"${graph.Components.measuredSaltThreshold(real)} (None = stay plain)")
      import spark.implicits._
      val hot = (1L to hotDegree.toLong).map(sp => (1000000000L, sp))
        .toDF("cust", "supp")
      val skewed = real.unionAll(hot).localCheckpoint()
      val thr = graph.Components.measuredSaltThreshold(skewed)
      println(s"measured threshold with injected d=$hotDegree: $thr")
      require(thr.nonEmpty,
        s"injected degree $hotDegree did not flip the measured salt " +
          "switch — pass a larger hotDegree (arg 3) to exercise the salted path")
      def consume(threshold: Int): Long =
        graph.Components.coCustomerCounts(skewed, threshold,
            graph.Components.SaltFactor)
          .agg(count(lit(1)), sum(col("n_common"))).head().getLong(0)
      t(s"coCustomer.plain (hot d=$hotDegree on one reducer)")(
        consume(Int.MaxValue))
      t(s"coCustomer.salted (threshold=${thr.get}, salt=${graph.Components.SaltFactor})")(
        consume(thr.get))
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "winnow") {
      // WinnowIndex O(batch) evidence: build on 90% of the corpus,
      // append the last 10% as a daily-crawl batch, compare walls and
      // confirm the appended census equals a full rebuild.
      // Usage: graft.Profile <sfDir> winnow
      import org.apache.spark.sql.functions._
      val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 10 =!= 0).localCheckpoint()
      val batch = docs.filter(col("doc_id") % 10 === 0).localCheckpoint()
      println(s"  base=${base.count()} docs, batch=${batch.count()} docs")
      val idx = new text.WinnowIndex(spark,
        java.nio.file.Files.createTempDirectory("graft_winidx_prof").toString)
      t("build(90%)")(idx.build(base))
      t("append(10%)")(idx.append(batch))
      t("census")(idx.census().count())
      val rebuilt = new text.WinnowIndex(spark,
        java.nio.file.Files.createTempDirectory("graft_winidx_prof_rb").toString)
      t("rebuild(100%)")(rebuilt.build(docs))
      val a = idx.census().orderBy(col("fp"))
      val b = rebuilt.census().orderBy(col("fp"))
      println(s"  append==rebuild: ${a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty}")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "fuzzy") {
      // d16 candidate-volume insurance probe (r13 VERDICT #7): the
      // suggested (length bucket, variant) blocking key vs the shipped
      // variant-only key. Prints the structural fact first — the name
      // corpus is fixed-width, so length adds no selectivity — then
      // measures both plans' candidate volume and wall anyway, so the
      // keep-or-drop call is a number, not an argument.
      // Usage: graft.Profile <sfDir> fuzzy
      import org.apache.spark.sql.functions._
      val names = Tables(spark, sfDir, "supplier")
        .select(col("s_name")).distinct().localCheckpoint()
      t("names.distinct")(names.count())
      val hist = names.groupBy(length(col("s_name"))).count().collect().toSeq
      println("  name length histogram: " +
        hist.map(r => s"len=${r.get(0)}:${r.getLong(1)}").sorted.mkString(" "))
      // the bucketed twin below joins on the ORIGINAL string's length,
      // so an insert/delete pair (lengths differ) can never meet in its
      // join — its count is only comparable to fuzzyKeyPairs on a
      // FIXED-WIDTH corpus. Say so loudly when the histogram says the
      // comparison would be apples-to-oranges.
      if (hist.size > 1)
        println("  NOTE: variable-length corpus — the length-bucketed " +
          "count below is a LOWER BOUND, not an equivalent of d16 " +
          "(cross-length edit pairs never meet its (len, variant) join)")
      t("d16.shipped (join on v)")(
        dedup.Dedup.fuzzyKeyPairs(names, "s_name", 2).count())
      // bucketed twin: same neighborhood, join key (length(s_name), v)
      val d1 = """transform(sequence(1, length(s_name)),
        i -> concat(substring(s_name, 1, i - 1),
                    substring(s_name, i + 1, length(s_name) - i)))"""
      val nbhd = s"""array_distinct(concat(array(s_name), $d1,
        flatten(transform($d1, v -> transform(sequence(1, length(v)),
          i -> concat(substring(v, 1, i - 1),
                      substring(v, i + 1, length(v) - i)))))))"""
      val va = names.select(col("s_name"), length(col("s_name")).as("lb"),
        explode(expr(nbhd)).as("v"))
      t("d16.length-bucketed (join on lb, v)")(
        va.toDF("name_a", "lb", "v")
          .join(va.toDF("name_b", "lb", "v"), Seq("lb", "v"))
          .filter(col("name_a") < col("name_b"))
          .select(col("name_a"), col("name_b")).distinct()
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist") <= 2).count())
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "scc") {
      // FW-BW SCC at scale on the bipartite-derived DIRECTED graph:
      // customer c and supplier s trade through an order; the edge is
      // directed by orderkey parity (even: c->s, odd: s->c), so a
      // (c, s) pair trading through both parities forms a 2-cycle and
      // hub suppliers weld those into large SCCs — the regime where
      // g24's closure-pair envelope is unpayable (|V|·reach pairs over
      // ~10^5 nodes) and Scc.fwbw's per-round O(V) frontier sets are
      // the only viable shape. Node ids: customer = 2k, supplier =
      // 2k+1 (g11's disambiguation). Usage: graft.Profile <sfDir> scc
      import org.apache.spark.sql.functions._
      val facts = graph.TradeGraph.orderFacts(spark, sfDir)
      val c = col("custkey") * 2
      val sp = col("suppkey") * 2 + 1
      val edges = facts.select(
        when(col("orderkey") % 2 === 0, c).otherwise(sp).as("src"),
        when(col("orderkey") % 2 === 0, sp).otherwise(c).as("dst"))
        .distinct().localCheckpoint()
      val nodes = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct().localCheckpoint()
      t("edges")(edges.count())
      t("nodes")(nodes.count())
      var labels: org.apache.spark.sql.DataFrame = null
      t("fwbw")(
        { labels = graph.Scc.fwbw(nodes, edges).localCheckpoint(); labels.count() })
      println(s"          peel passes ${graph.Scc.lastPeelPasses}, " +
        s"pivot rounds ${graph.Scc.lastPivotRounds}, " +
        s"doubling rounds ${graph.Scc.lastDoublingRounds}")
      val census = labels.groupBy(col("scc_id"))
        .agg(count(lit(1)).as("n")).localCheckpoint()
      t("census.n_sccs")(census.count())
      t("census.largest")(census.agg(max(col("n"))).head().getLong(0))
      t("census.nodes_in_nontrivial")(
        census.filter(col("n") > 1)
          .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0))
      spark.stop()
      return
    }

    if (args.length > 1) {
      // time the named queries in isolation (fresh JVM, warm session)
      t("warmup")(Tables(spark, sfDir, "lineitem").count())
      args.drop(1).foreach { name =>
        t(name)(SparkEntry.queries(name)(spark, sfDir).count())
      }
      spark.stop()
      return
    }

    val docs = Tables(spark, sfDir, "documents")
    t("warmup")(docs.count())
    val mh = dedup.Dedup.minhashes(docs)
    t("d02.minhashes")(mh.count())
    val mhc = mh.localCheckpoint()
    t("d02.minhashes.checkpoint")(mhc.count())
    t("d02.candidates")(dedup.Dedup.candidates(mhc).count())
    t("d02.full")(SparkEntry.queries("d02_minhash_lsh")(spark, sfDir).count())
    t("d04.full")(SparkEntry.queries("d04_ngram_jaccard")(spark, sfDir).count())
    t("g11.full")(SparkEntry.queries("g11_bipartite_cc")(spark, sfDir).count())
    spark.stop()
  }
}
