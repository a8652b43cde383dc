package graft.sources

import graft.graph.AdjacencyCodec
import graft.util.NioLocalFileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File source/sink for the reference's on-disk graph format: G<k>.txt
  * with N on the first line and N rows of space-separated 0/1
  * (primary_server.c writes these; G*.txt fixtures ship with the
  * reference).
  *
  * Reading is fully distributed: the text source with `wholetext=true`
  * yields one row per file (order inside a file preserved — plain
  * line-mode text makes no ordering guarantee across splits), then the
  * matrix parse is a pair of posexplodes, all codegen'd. A directory
  * of thousands of graph files fans out one file per task.
  */
object GraphTextIO {

  /** Read a G.txt file or directory of them: (graph, src, dst). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(path)
      .withColumn("graph", regexp_extract(input_file_name(), "([^/]+)\\.txt$", 1))
      .withColumn("lines", split(col("value"), "\n"))
      .withColumn("n", trim(element_at(col("lines"), 1)).cast("int"))
    raw.select(col("graph"), col("n"),
        posexplode(slice(col("lines"), lit(2), size(col("lines")))).as(Seq("i0", "row")))
      .filter(col("i0") < col("n") && trim(col("row")) =!= "")
      .select(col("graph"), col("i0").as("src"),
        posexplode(split(trim(col("row")), " ")).as(Seq("dst", "bit")))
      .filter(col("bit") === "1")
      .select(col("graph"), col("src").cast("int").as("src"), col("dst").cast("int").as("dst"))
  }

  /** Write an edge DataFrame as a single G.txt payload (the format is
    * dense text for ≤30-node graphs — reference client.c caps N at 30 —
    * so the final render is a driver-side string by design).
    */
  def write(edges: DataFrame, n: Int, path: String): Unit = {
    val text = AdjacencyCodec.toText(AdjacencyCodec.toMatrix(edges, n), n)
    val p = new org.apache.hadoop.fs.Path(path)
    val out = NioLocalFileSystem.get(p, edges.sparkSession.sparkContext.hadoopConfiguration)
      .create(p, true)
    out.write((text + "\n").getBytes("UTF-8"))
    out.close()
  }
}
