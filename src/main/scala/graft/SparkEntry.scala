package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The trade-graph build is the engine's signature move:
    * four-table star join distilled into the weighted edge list every
    * graph operator consumes.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("g01_build_edges")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(op => op.name -> op.run).toMap

  /** DuckDB-runnable oracle SQL per query (same parquet tables). */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(op => op.oracle.map(op.name -> _)).toMap

  /** The mains' optional query subset: a comma-separated list of
    * registered names. A typo'd name fails loudly instead of running
    * (and reporting) nothing for it.
    */
  private[graft] def subset(arg: Option[String]): Option[Set[String]] = arg.map { a =>
    val names = a.split(",").map(_.trim).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.toSeq.sorted.mkString(", "))
    names
  }

  /** The mains' session: `local[SPARK_GRAFT_CPUS]` (default 4) with one
    * shuffle partition per core, AQE on (Spark's default, stated because
    * Bench's counters depend on it), UTC and no UI.
    */
  private[graft] def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep top_k_scored on the object-hash path (its per-key state is
      // ~16k bytes; the 128-key default would sort-fallback every task)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
