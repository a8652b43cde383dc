package graft.graph

import graft.Op
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Codec for the reference's on-disk graph format: G<k>.txt holds N on
  * the first line, then N rows of space-separated 0/1 (primary_server.c
  * writes it, secondary_server.c re-reads it). We keep the format as an
  * interchange codec — matrix rows as (i, row-string) DataFrames — while
  * the engine itself works on edge lists.
  *
  * The dense matrix is inherently O(V²) text, so this codec is for the
  * reference's ≤30-node graphs and debugging; edge-list parquet is the
  * scale representation.
  */
object AdjacencyCodec {

  /** Edge list -> (i, row) matrix rows for an n-node graph. */
  def toMatrix(edges: DataFrame, n: Int): DataFrame = {
    val s = edges.sparkSession
    val idx = s.range(0, n.toLong).select(col("id").cast("int").as("i"))
    val jdx = s.range(0, n.toLong).select(col("id").cast("int").as("j"))
    val present = edges.select(col("src"), col("dst")).distinct()
      .withColumn("bit", lit(1))
    idx.crossJoin(jdx)
      .join(present, col("i") === col("src") && col("j") === col("dst"), "left")
      .select(col("i"), col("j"), coalesce(col("bit"), lit(0)).as("bit"))
      .groupBy(col("i"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("j"), col("bit")))),
        x => x.getField("bit").cast("string")), " ").as("row"))
  }

  /** Matrix rows -> edge list (src, dst) of the 1-bits. */
  def fromMatrix(matrix: DataFrame): DataFrame =
    matrix.select(col("i").as("src"),
        posexplode(split(col("row"), " ")).as(Seq("dst", "bit")))
      .filter(col("bit") === "1")
      .select(col("src"), col("dst").cast("int").as("dst"))

  /** Render the full G.txt payload (driver-side string; tiny by design). */
  def toText(matrix: DataFrame, n: Int): String = {
    val rows = matrix.orderBy(col("i")).select(col("row"))
      .collect().map(_.getString(0))
    (n.toString +: rows).mkString("\n")
  }

  /** g10: adjacency-matrix roundtrip — trade edges -> dense matrix ->
    * edges again; identity, so the oracle is the distinct edge list.
    */
  private def g10(s: SparkSession, dir: String): DataFrame = {
    val e = TradeGraph.edgesTable(s, dir)
    val n = 25
    fromMatrix(toMatrix(e, n))
      .orderBy(col("src"), col("dst"))
  }

  private val g10Sql = s"""
    WITH ${GraphSql.edgesCte}
    SELECT DISTINCT src, dst FROM edges ORDER BY src, dst"""

  val ops: Seq[Op] = Seq(Op("g10_adjacency_roundtrip", g10, Some(g10Sql)))
}
