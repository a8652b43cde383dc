package graft

/** Per-round benchmark: times every registered operator at the
  * driver-chosen scale factor and emits one JSON line.
  *
  * Self-defending against a noisy host, at two granularities:
  *   - per REP: the FOREIGN CPU share — (/proc/stat busy ticks minus
  *     this JVM's own /proc/self/stat ticks) over total machine ticks
  *     — is measured across every rep. Loadavg can't serve here: the
  *     bench's own 32 threads push loadavg far past any threshold, so
  *     a loadavg gate flags every rep of a healthy run. Foreign share
  *     is exactly zero for our own work and exactly what contaminated
  *     round 7 (another process eating the core budget). The IOWAIT
  *     share is measured alongside it: a foreign process saturating
  *     the disk consumes no CPU ticks but stalls every shuffle (the
  *     round-8 sf1 burst inflated g11/g13 10x at foreign share 0.000).
  *     Pre-rep loadavg is still recorded as corroborating evidence.
  *   - per QUERY: when warm reps disagree by >3x (rep 1 is excluded —
  *     cold-vs-warm is legitimately 8x for the MatStore-backed index
  *     builds) or any rep saw foreign share >15%, extra reps are run
  *     and the median is taken over the CLEAN (low-foreign-share) reps
  *     when at least two exist. A query whose clean warm reps still
  *     disagree (or that never got two) lands in "contended" in the
  *     artifact, so a burst spanning all reps self-identifies instead
  *     of masquerading as a code regression (round-7 lesson: a host
  *     burst made a 37s run report 95s).
  */
object Bench {
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "" }

  /** (total machine ticks, busy machine ticks, own-process ticks,
    * iowait ticks) from /proc/stat + /proc/self/stat; all -1 when
    * unreadable (non-Linux). Same clock-tick unit throughout, so
    * ratios need no HZ constant.
    */
  private def cpuTicks(): (Long, Long, Long, Long) =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().split("\\s+").drop(1).map(_.toLong)
      val total = cpu.sum
      val iow = if (cpu.length > 4) cpu(4) else 0L
      val idle = cpu(3) + iow
      val self = scala.io.Source.fromFile("/proc/self/stat").mkString
        .split("\\s+")
      val own = self(13).toLong + self(14).toLong // utime + stime, all threads
      (total, total - idle, own, iow)
    } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }

  /** Fraction of the whole machine's CPU burned by OTHER processes
    * between two [[cpuTicks]] samples; -1 when unmeasurable.
    */
  private def foreignShare(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): Double = {
    if (a._1 < 0 || b._1 < 0 || b._1 <= a._1) return -1.0
    val foreign = (b._2 - a._2) - (b._3 - a._3)
    math.max(0.0, foreign.toDouble / (b._1 - a._1).toDouble)
  }

  /** Fraction of machine time spent in iowait between two samples;
    * -1 when unmeasurable. Catches the contamination foreignShare is
    * blind to: a foreign process saturating the DISK consumes no CPU
    * ticks but stalls every shuffle read/write (measured at sf1: a
    * burst made g11/g13 report 10x their quiet-host times with
    * queries_foreign pinned at 0.000).
    */
  private def iowaitShare(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): Double = {
    if (a._1 < 0 || b._1 < 0 || b._1 <= a._1 || a._4 < 0) return -1.0
    math.max(0.0, (b._4 - a._4).toDouble / (b._1 - a._1).toDouble)
  }

  /** Deterministic single-thread CPU probe: a fixed xorshift/rotate
    * loop, reported as seconds (min of 3 runs — the least-disturbed
    * sample). The SAME work every round, so the ratio of two rounds'
    * probe times is the host-speed drift between them — the
    * calibration the round-8→9 comparison needed a half-day of manual
    * untouched-query forensics to reconstruct (uniform 1.3–1.7×
    * bands on code-untouched queries, attributed to host drift only
    * via a hand-run probe). Pure ALU work: immune to disk bursts,
    * sensitive to CPU contention/frequency — probe it, don't infer it.
    */
  private def hostProbeSec(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.rotateLeft(x, i & 63)
        i += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.println("improbable") // keep acc live
      dt
    }
    (1 to 3).map(_ => once()).min
  }

  /** [[hostProbeSec]] on the round-10 canonical host state — the
    * denominator that turns a probe time into `host_factor` (>1 =
    * this run's host is slower than the reference; divide warm
    * medians by it before cross-round comparison).
    */
  private val HostProbeReferenceSec = 0.47

  /** Multi-thread MEMORY-BANDWIDTH probe: 16 threads each stream 12
    * read+write passes over a private 64 MB long array (~25 GB of
    * traffic), wall-clocked; min of 3 runs. This measures the channel
    * the single-thread ALU probe is blind to: two rounds in a row the
    * untouched-query band sat at 1.5–1.8× while host_factor read
    * ~1.06, because a foreign memory-bandwidth hog slows every
    * shuffle and scan without slowing a register-resident xorshift
    * loop. Arrays are allocated (and faulted in by pass 0, untimed)
    * before the clock starts, so the number is bandwidth, not
    * allocation or page-fault service.
    */
  private def membwProbeSec(): Double = {
    val nThreads = 16
    val words = 8 * 1024 * 1024 // 64 MB of longs per thread
    val arrays = Array.fill(nThreads)(new Array[Long](words))
    val sink = new java.util.concurrent.atomic.AtomicLong
    def pass(a: Array[Long], seed: Long): Unit = {
      var i = 0
      var acc = seed
      while (i < words) { acc += a(i); a(i) = acc + i; i += 1 }
      sink.addAndGet(acc): Unit
    }
    arrays.foreach(pass(_, 1L)) // fault pages in, untimed
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = arrays.map { a =>
        val t = new Thread(() => { var p = 0; while (p < 12) { pass(a, p); p += 1 } })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val best = (1 to 3).map(_ => once()).min
    if (sink.get == 42L) System.err.println("improbable") // keep work live
    best
  }

  /** [[membwProbeSec]] on the round-11 canonical host state (the
    * round the probe was introduced) — denominator for
    * `membw_factor`. Cross-round rule: trust a warm-median comparison
    * only when BOTH factors are near the untouched-query band;
    * tools/bench_diff.py flags takes where band and probes disagree
    * by >1.2×.
    */
  private val MembwProbeReferenceSec = 0.24

  /** max/min over successful rep times; 1.0 when fewer than 2. */
  private def spread(ts: Seq[Double]): Double = {
    val good = ts.filter(_ > 0)
    if (good.size < 2) 1.0 else good.max / math.max(good.min, 1e-9)
  }

  /** Deterministic per-query execution counters — the HOST-INDEPENDENT
    * bench signal: five takes of bit-identical code spread 2.9× in
    * wall time on this burst-prone host (r14's SCC forensics), but
    * shuffle record counts, bytes, and job/stage/task counts are
    * functions of the plan and the data alone. They're captured on the
    * first WARM rep (steady state — rep 0 includes one-time MatStore
    * index builds) and land in bench.json beside the walls;
    * tools/bench_diff.py compares them FIRST and treats a wall delta
    * with identical counters as host noise, not regression.
    */
  private final class CounterListener(context: org.apache.spark.SparkContext)
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val shufRowsW = new AtomicLong; val shufBytesW = new AtomicLong
    val shufRowsR = new AtomicLong
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shufRowsW.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
        shufBytesW.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        shufRowsR.addAndGet(m.shuffleReadMetrics.recordsRead): Unit
        tasks.incrementAndGet(): Unit
      }
    }
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    /** The counters once the async listener bus has delivered every
      * event of the actions that returned, so a lagging task-end event
      * can't shear the numbers.
      */
    def drainedSnapshot(): Seq[(String, Long)] = {
      org.apache.spark.graftshim.ListenerBusBridge.drain(context)
      Seq("shuffle_rows_w" -> shufRowsW.get, "shuffle_bytes_w" -> shufBytesW.get,
        "shuffle_rows_r" -> shufRowsR.get, "jobs" -> jobs.get,
        "stages" -> stages.get, "tasks" -> tasks.get)
    }
    /** Reset only after the bus is drained: straggler task-end events
      * from the PREVIOUS rep (rep 0 carries heavy one-time MatStore
      * builds) would otherwise land after the reset and inflate the
      * "deterministic" counters.
      */
    def quiesceAndReset(): Unit = {
      org.apache.spark.graftshim.ListenerBusBridge.drain(context)
      Seq(shufRowsW, shufBytesW, shufRowsR, jobs, stages, tasks).foreach(_.set(0))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional first arg: comma-separated query subset, mirroring
    // Verify's — for dev-side scale runs (e.g. the SF-growing family at
    // sf1). The driver passes no args, so its artifact covers everything.
    val only = SparkEntry.subset(args.headOption)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = SparkEntry.localSession()
    val counters = new CounterListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    val loadStart = loadavg()
    val tStart = java.time.Instant.now().toString
    val probePre = hostProbeSec()
    val membwPre = membwProbeSec()
    // Warm the JVM + parquet footers so per-query numbers measure the
    // plans, not first-touch class loading.
    SparkEntry.queries("q06_forecast_filter")(spark, sfDir).count()

    def freeState(): Unit = {
      // free cached/localCheckpoint blocks so one query's iteration
      // state can't pressure the next query's heap
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }

    // Above this fraction of the machine burned by OTHER processes, a
    // rep's timing is suspect. 15% of 32 cores ≈ 5 foreign cores —
    // comfortably above normal daemon noise, well below the round-7
    // burst that tripled timings.
    val foreignThreshold = 0.15
    // Above this fraction of machine time in iowait, the disk was
    // saturated during the rep — by us or by a foreign process. Our own
    // steady-state shuffle traffic on this host measures <5%; sustained
    // 30%+ is the signature of the external disk bursts that inflated
    // sf1 g11/g13 10x while foreign CPU share stayed 0.
    val iowaitThreshold = 0.30
    val extraReps = math.max(0, sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_REPS", "2").toInt)

    case class Rep(idx: Int, dt: Double, load: String, foreign: Double, iow: Double)

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // deterministic counters come from the first WARM rep (rep 0
      // carries one-time MatStore builds); a 1-rep run uses rep 0
      val counterRep = if (reps >= 2) 1 else 0
      var qCounters: Seq[(String, Long)] = Seq.empty
      def runRep(idx: Int): Rep = {
        val la = loadavg()
        val c0 = cpuTicks()
        if (idx == counterRep) counters.quiesceAndReset()
        val t0 = System.nanoTime()
        // A failed operator reports -1, not its elapsed time — a broken
        // query must not look like a fast success in the bench JSON.
        // Action = toRdd.count(): materialize the operator's OWN plan
        // row-by-row without shipping results to the driver. df.count()
        // is NOT that — Catalyst replans Aggregate(count) and prunes
        // every column/join the count doesn't need (measured: t16's
        // whole excision stage — 39k shuffled rows — collapsed to 8
        // rows under count()), so walls timed a fraction of some
        // operators. Counters and walls now measure the real plan.
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true } catch {
          case e: Throwable => System.err.println(s"BENCH FAIL $name: $e"); false
        }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        if (idx == counterRep && ok) qCounters = counters.drainedSnapshot()
        val c1 = cpuTicks()
        val fg = foreignShare(c0, c1)
        val io = iowaitShare(c0, c1)
        freeState()
        Rep(idx, dt, la, fg, io)
      }
      val initial = (0 until reps).map(runRep)
      def warm(rs: Seq[Rep]) = rs.filter(_.idx > 0)
      // Contention check on the initial reps: warm reps of deterministic
      // code disagreeing >3x, or a rep that ran while other processes
      // ate the core budget, mean the median may be polluted — buy more
      // evidence. (Rep 0 is exempt from the spread check: cold-vs-warm
      // is a legitimate 8x for the MatStore-backed index builds.)
      val suspicious = spread(warm(initial).map(_.dt)) > 3.0 ||
        initial.exists(r => r.dt > 0 &&
          (r.foreign > foreignThreshold || r.iow > iowaitThreshold))
      val all =
        if (suspicious) initial ++ (reps until reps + extraReps).map(runRep)
        else initial
      // One explicit GC per QUERY (not per rep — reps x queries gc
      // pauses cost ~1 min of wall clock): kicks ContextCleaner, which
      // only releases old broadcast and shuffle state on collection (a
      // large heap may never collect on its own, and 30+ accumulated
      // broadcasts slow later joins)
      System.gc()
      val good = all.filter(_.dt >= 0)
      // Prefer reps that ran on a quiet host; rep 0 (cold) keeps its
      // role in cold_value regardless of which reps feed the median.
      val clean = good.filter(r =>
        (r.foreign < 0 || r.foreign <= foreignThreshold) &&
          (r.iow < 0 || r.iow <= iowaitThreshold))
      val pool = (if (clean.size >= 2) clean else good).map(_.dt)
      val dt =
        if (good.size < all.size || pool.isEmpty) -1.0
        else pool.sorted.apply(pool.size / 2)
      // Still contended after extra reps: no two clean warm reps, or
      // the clean warm reps themselves disagree by >3x. The number is
      // reported anyway but the artifact says not to trust it.
      val contended = suspicious &&
        (warm(clean).size < 2 || spread(warm(clean).map(_.dt)) > 3.0)
      (name, dt, all.map(_.dt), all.map(r => (r.load, r.foreign, r.iow)), contended,
        qCounters)
    }
    val loadEnd = loadavg()
    val tEnd = java.time.Instant.now().toString
    val probePost = hostProbeSec()
    val membwPost = membwProbeSec()
    val hostFactor = ((probePre + probePost) / 2.0) / HostProbeReferenceSec
    val membwFactor = ((membwPre + membwPost) / 2.0) / MembwProbeReferenceSec
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Per-rep times, in execution order. Rep 1 is the COLD run: for the
    // operators backed by MatStore's session-level memoization (shared
    // signature/edge/sketch/KNN index tables) it includes the one-time
    // index build; later reps re-read the memoized parquet. The median
    // therefore measures steady-state session cost, cold_value measures
    // first-touch cost — both are real, so both are reported instead of
    // letting the median silently hide the builds.
    val qreps = results.map { case (k, _, ts, _, _, _) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-rep host-noise evidence, aligned with queries_reps: the
    // pre-rep loadavg (corroboration) and the foreign CPU share across
    // the rep (the decision signal) — the trail for which specific
    // timings a host burst touched.
    val qloads = results.map { case (k, _, _, ev, _, _) =>
      "\"" + k + "\":" + ev.map(e => "\"" + e._1.split("\\s+").headOption.getOrElse("") + "\"")
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qforeign = results.map { case (k, _, _, ev, _, _) =>
      "\"" + k + "\":" + ev.map(e => f"${e._2}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qiowait = results.map { case (k, _, _, ev, _, _) =>
      "\"" + k + "\":" + ev.map(e => f"${e._3}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val contendedKeys = results.collect { case (k, _, _, _, true, _) => "\"" + k + "\"" }
    // per-query deterministic counters (first warm rep) — the signal
    // bench_diff.py compares FIRST; empty object when the query failed
    val qcounters = results.map { case (k, _, _, _, _, cs) =>
      "\"" + k + "\":" + cs.map { case (n, v) => "\"" + n + "\":" + v }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = results.map(_._3.head).filter(_ >= 0).sum
    val note = "rep 1 is cold (includes one-time MatStore index builds " +
      "shared across operators); reps 2+ re-use session-memoized index " +
      "tables; value=sum of per-query medians, cold_value=sum of rep-1 times; " +
      "queries_foreign is the fraction of machine CPU burned by OTHER " +
      "processes during each rep (own Spark load excluded); queries_iowait " +
      "is the fraction of machine time in iowait (disk saturation — catches " +
      "foreign DISK bursts that consume no CPU); queries listed " +
      "in contended never got 2 agreeing warm reps with foreign share<=" +
      f"$foreignThreshold%.2f and iowait share<=$iowaitThreshold%.2f " +
      "— do not trust their numbers; host_probe_sec is a fixed " +
      "single-thread CPU probe (pre/post run) and host_factor its mean " +
      "over the pinned reference; membw_probe_sec is a fixed 16-thread " +
      "memory-bandwidth probe and membw_factor its mean over the pinned " +
      "reference — it sees the contention channel the ALU probe is " +
      "blind to. Divide warm medians by host_factor before cross-round " +
      "comparison, and distrust the whole take when the untouched-query " +
      "band disagrees with BOTH factors by >1.2x (tools/bench_diff.py " +
      "flags this); queries_counters are deterministic per-query " +
      "execution counters (shuffle rows/bytes, jobs/stages/tasks) from " +
      "the first WARM rep — host-independent: compare THESE first " +
      "across rounds (bench_diff.py does); counters_rep records which " +
      "rep they came from (0 = cold incl. MatStore builds, 1 = first " +
      "warm) — comparing counters across takes with different " +
      "counters_rep provenance is invalid and bench_diff skips it; " +
      "identical counters with a wall delta means the PLAN did not " +
      "change — attribute the delta to the host only when the host " +
      "evidence (foreign share / host_factor / membw drift) " +
      "corroborates, else it is a same-plan CPU regression"
    val subsetField = only.fold("")(s =>
      "\"subset\":" + s.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]") + ",")
    val env =
      s"""$subsetField"reps":$reps,"counters_rep":${if (reps >= 2) 1 else 0},"foreign_threshold":$foreignThreshold,"iowait_threshold":$iowaitThreshold,"contended":${contendedKeys.mkString("[", ",", "]")},"host_probe_sec":[$probePre,$probePost],"host_factor":$hostFactor,"membw_probe_sec":[$membwPre,$membwPost],"membw_factor":$membwFactor,"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","t_start":"$tStart","t_end":"$tEnd""""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","cold_value":$coldTotal,"queries":$qs,"queries_reps":$qreps,"queries_loadavg":$qloads,"queries_foreign":$qforeign,"queries_iowait":$qiowait,"queries_counters":$qcounters,"note":"$note",$env,"sf":"$sfDir"}"""
    // Long per-query line first; persist a copy where truncation can't
    // reach it; SHORT summary line LAST — the harness captures a
    // bounded TAIL of stdout, so whatever must survive goes at the end.
    println(full)
    // A dev-side subset run must not overwrite the canonical full-run
    // artifact with a partial-total one — subsets land in their own file.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(if (only.isDefined) "bench_subset.json" else "bench.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","cold_value":$coldTotal,"reps":$reps,"contended_count":${contendedKeys.size},"host_factor":$hostFactor,"membw_factor":$membwFactor,"loadavg_end":"$loadEnd","sf":"$sfDir"}""")
  }
}
