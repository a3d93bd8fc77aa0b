package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.ConnectedComponents
import graft.queries.{Baskets, GateMemo, Graphs}

/** The iterative graph operators over co-purchase edges: each call is
  * shuffle rounds plus `localCheckpoint` lifetimes, with no store I/O. */
object GraphPhase {

  /** The co-purchase edge derivation of the `q_graph_*` keys: canonical
    * (u < v) pairs per basket, distinct, checkpointed. */
  def edges(lineitem: DataFrame): DataFrame =
    Baskets.pairs(Baskets.baskets(lineitem.select("l_orderkey", "l_partkey")), "u", "v")
      .distinct().localCheckpoint(true)

  private def finish(res: DataFrame, spent: Seq[DataFrame]): Seq[Row] = {
    val rows = res.collect().toSeq
    spent.foreach(GateMemo.unpersistCheckpoint)
    rows
  }

  /** Span name → the call returning its collected result: the four
    * `Graphs` iterations behind `q_graph_*` and the O(log n) connected
    * components contraction, run in this order so that every seed
    * measures the same cold-to-warm sequence. */
  val Algorithms: Seq[(String, DataFrame => Seq[Row])] = Seq(
    "queries.pagerank" -> (e => Graphs.pagerankFrom(e).collect().toSeq),
    "queries.ppr" -> (e => { val (r, s) = Graphs.pprFrom(e); finish(r, s) }),
    "queries.triangles" -> (e => { val (r, s) = Graphs.trianglesFrom(e); finish(r, s) }),
    "queries.reach" -> (e => { val (r, s) = Graphs.reachFrom(e); finish(r, s) }),
    "operators.components" -> (e => ConnectedComponents.runStarContraction(e, "u", "v").collect().toSeq))

  /** Min-label propagation over the same edges: the reference the
    * star contraction must match. */
  def labelPropagation(lineitem: DataFrame): String = {
    val e = edges(lineitem)
    try Run.hashRows(ConnectedComponents.run(e, "u", "v").collect().toSeq)
    finally GateMemo.unpersistCheckpoint(e)
  }
}
