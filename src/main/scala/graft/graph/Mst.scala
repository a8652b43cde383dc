package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest via Borůvka rounds — the textbook
  * distributed MST: every component picks its minimum outgoing edge
  * simultaneously, chosen edges contract components, and the component
  * count at least halves per round, so ≤ log₂(V) rounds regardless of
  * graph size. Each round is a constant number of joins/aggregations;
  * contraction reuses [[Components.labelPropagate]] on the component
  * graph (which shrinks geometrically, so later rounds are nearly
  * free).
  *
  * Determinism: the per-component minimum is `min(struct(cost, src,
  * dst))` — a total order over edges — so tie-breaks are fixed and the
  * forest is reproducible. With consistent tie-breaks Borůvka selects
  * no cycles. Costs must be integral (see g08's trade-cost proxy) so
  * comparisons are exact.
  */
object Mst {

  /** (src, dst, cost) minimum spanning forest of an undirected graph
    * given as unique edges (src < dst) with integral costs.
    */
  def boruvka(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"), col("cost")).localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("comp")).localCheckpoint()
    var forest: DataFrame = null
    var done = false
    while (!done) {
      val la = labels.toDF("n1", "c1")
      val lb = labels.toDF("n2", "c2")
      val (cross, nCross) = Fixpoint.checkpointWithCount(
        e0.join(la, col("src") === col("n1"))
          .join(lb, col("dst") === col("n2"))
          .filter(col("c1") =!= col("c2"))
          .select(col("src"), col("dst"), col("cost"), col("c1"), col("c2")),
        lit(true))
      if (nCross == 0) done = true
      else {
        val edgeStruct = struct(col("cost"), col("src"), col("dst")).as("e")
        val cand = cross.select(col("c1").as("comp"), edgeStruct)
          .unionAll(cross.select(col("c2").as("comp"), edgeStruct))
        val chosen = cand.groupBy(col("comp")).agg(min(col("e")).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.cost").as("cost"))
          .distinct().localCheckpoint()
        forest = if (forest == null) chosen
          else forest.unionAll(chosen).localCheckpoint()
        // contract: connected components of the chosen edges over the
        // current component ids, then relabel every node
        val ce = chosen.join(la, col("src") === col("n1"))
          .join(lb, col("dst") === col("n2"))
          .select(col("c1").as("src"), col("c2").as("dst"))
        val cnodes = labels.select(col("comp").as("node")).distinct()
        val csym = ce.unionAll(ce.select(col("dst").as("src"), col("src").as("dst")))
        val clabels = Components.labelPropagate(cnodes, csym).toDF("oldc", "newc")
        labels = labels.join(clabels, col("comp") === col("oldc"))
          .select(col("node"), col("newc").as("comp"))
          .localCheckpoint()
      }
    }
    if (forest == null) e0.filter(lit(false)) else forest
  }
}
