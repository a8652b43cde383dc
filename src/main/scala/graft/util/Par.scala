package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}

/** Session parallelism lookup shared by every operator that sizes an
  * explicit repartition or bucket count from the shuffle-partition
  * conf. `spark.sql.shuffle.partitions` is not guaranteed numeric on
  * every deployment (e.g. "auto" under some vendors' AQE modes), so a
  * non-numeric value falls back to the scheduler's default parallelism
  * instead of throwing NumberFormatException mid-query.
  */
object Par {
  def shufflePartitions(s: SparkSession): Int =
    try s.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: NumberFormatException => s.sparkContext.defaultParallelism }

  /** Whether Spark would broadcast `df` as a join side: its optimized
    * plan's size estimate is within `spark.sql.autoBroadcastJoinThreshold`
    * (and broadcasting is on). A table that passes is one the driver
    * already collects whole for every broadcast, so an operator may
    * collect it once itself, or write it from the driver. Planning
    * only: no job runs.
    */
  def broadcastSized(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /** `df`'s rows as its physical plan produces them: one
    * `executeCollect`, with no encoder. A local relation's scan is
    * answered from the driver's own rows, so it runs no job and takes
    * no SQL execution id; any other plan runs under a new execution id
    * named `name`, as an action would.
    */
  def collectRows(df: DataFrame, name: String): Array[InternalRow] = {
    val qe = df.queryExecution
    qe.executedPlan match {
      case local: LocalTableScanExec => local.executeCollect()
      case plan => SQLExecution.withNewExecutionId(qe, Some(name))(plan.executeCollect())
    }
  }

  private val schemaConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema", "spark.sql.caseSensitive")

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** `spark.read.parquet(path)` with the inferred schema memoized per
    * (path, schema confs): schema inference launches a one-task footer
    * job on EVERY read call, and this library re-reads the same base
    * tables and session-materialized index tables hundreds of times
    * per bench/verify run — those jobs were a measurable slice of the
    * per-query session floor (guide §5: the driver should do almost no
    * data work; a known schema makes the read job-free). Keyed by path
    * plus every conf that changes what the footers infer to (the
    * legacy-nanos flag decides what type `events.ts` infers to,
    * binaryAsString whether a BINARY column is a string); both base
    * corpora and MatStore dirs are write-once under a given path, so
    * a cached schema cannot go stale within a process (a persistent
    * MatStore table rebuilt from a rewritten corpus lands in a new
    * version, under a table named by the new fingerprint).
    */
  def readParquet(s: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val key = (path +: schemaConfs.map(c => s.conf.getOption(c).orNull)).mkString("#")
    val sch = schemaCache.computeIfAbsent(key, _ => s.read.parquet(path).schema)
    s.read.schema(sch).parquet(path)
  }
}
