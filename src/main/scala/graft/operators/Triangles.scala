package graft.operators

import graft.CkptOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** x82: triangle counting over the part co-purchase graph — the
  * clustering-structure primitive of corpus/graph analytics (community
  * density, spam-ring detection, graph-quality audits), done with the
  * degree-ordered orientation of the node-iterator family (Schank &
  * Wagner's forward algorithm; Suri & Vassilvitskii's MapReduce
  * adaptation): orient every undirected edge from its lower-(degree, id)
  * endpoint to the higher one, then close each oriented edge u→v by
  * intersecting the sorted out-adjacency lists N+(u) ∩ N+(v) — each
  * member w is a triangle u<v<w (by rank), found exactly once.
  *
  * Why the orientation matters at 100 TB: the naive wedge enumeration
  * pays Σ_v C(d(v), 2) — a single celebrity hub with 10⁷ neighbors
  * contributes 5·10¹³ wedges and the job never finishes. Orientation
  * caps every out-degree at O(√m), so intersection work is bounded by
  * O(m^1.5) TOTAL and is hub-proof — the difference between a plan
  * that survives a power-law graph and one that dies on its first hot
  * key. The edge-iterator form (r21) additionally never materializes
  * wedges as ROWS: the only corpus-scaled shuffle carries each edge
  * with its endpoint adjacency lists (Σ outdeg² longs), and the
  * intersection is one fused merge-walk kernel. The triangle SET is
  * orientation-invariant, so the DuckDB oracle replays it with plain
  * id-ordering and must match exactly — count per node and in total.
  */
object Triangles {

  /** Top-`k` nodes by triangle participation, with the global triangle
    * count riding every row (broadcast 1-row join — the q29/x8 class).
    */
  def topTriangleNodes(li: DataFrame, k: Int = 20): DataFrame = {
    // undirected simple edges, one row per {a < b} pair
    val e = PageRank.coPurchaseEdges(li)
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
      .ckpt() // read three times below (degrees + both orientation joins)
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // rank(v) = (d, v) lexicographic; orient u -> v iff rank(u) < rank(v)
    val oriented = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
      // materialize keyed by u with the layout VISIBLE (graft.ckptBy):
      // the adjacency groupBy(u) AND the first closer join on u then run
      // exchange-free over it (plain ckpt reports UnknownPartitioning
      // under AQE and both would re-shuffle the edge relation)
      .ckptBy(graft.spreadWidth(li.sparkSession), "u")
    // EDGE-ITERATOR closer (r21, guide §2.3 "shuffle fewer bytes"): instead
    // of materializing every wedge (u→y, u→z) and semi-joining the closing
    // edge — which shuffled ~380 MB of wedge rows at sf0.1 — attach each
    // oriented out-adjacency list to both endpoints of every oriented edge
    // and take the sorted-merge intersection: for edge u→v the members of
    // N+(u) ∩ N+(v) are exactly the triangle apexes w with rank u < v < w,
    // so each triangle is found ONCE (at its min-rank edge) and only
    // Σ outdeg² LONGS move (the wedge ROW count never exists as rows).
    // The orientation cap (outdeg ≤ O(√m)) bounds both list sizes and the
    // merge walk, keeping the plan hub-proof at 100 TB.
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val tri = oriented
      .join(adj, "u")
      .withColumnRenamed("nbrs", "au")
      .join(adj.select(col("u").as("v"), col("nbrs").as("av")), "v")
      .select(col("u"), col("v"),
        graft.functions.ArrayExpressions.sortedLongIntersect(col("au"), col("av")).as("ws"))
      .filter(size(col("ws")) > 0)
    // one row per (triangle, member): u (min), v (mid), each apex w (max)
    val perNode = tri
      .select(explode(expr("flatten(transform(ws, w -> array(u, v, w)))")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .ckpt() // tiny (nodes-in-triangles); read for top-k AND total
    val total = perNode
      .agg((sum(col("n_tri")) / 3).cast("bigint").as("total_triangles"))
    perNode.crossJoin(broadcast(total))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(k)
      .select(col("node").as("l_partkey"), col("n_tri"), col("total_triangles"))
  }
}
