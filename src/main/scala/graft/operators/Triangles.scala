package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficients over an undirected
  * graph, by degree-ordered edge orientation (the compact-forward /
  * MapReduce formulation: orient every edge from its (degree, node)-
  * smaller endpoint to the larger, enumerate wedges only at the
  * smallest vertex of each triangle, close with one equi-join).
  *
  * Scale shape: the orientation bounds every node's OUT-degree by
  * O(sqrt(m)) — a hub with a million neighbors RECEIVES oriented edges
  * but emits none, so the wedge self-join never explodes on it. Each
  * triangle is produced exactly once (at its (deg, node)-minimal
  * vertex), so no post-hoc /3 or /6 correction is needed. All joins
  * are equi-joins on node ids; nothing is collected to the driver.
  *
  * Reference scope: the reference engine (google-parfait/
  * dataset_grouper) has no graph operators — this is part of the
  * LLM-pipeline extension surface (graph structure of a click/
  * transition corpus as a curation signal, like the PageRank quality
  * weight in [[PageRank]]).
  */
object Triangles {

  /** Canonical undirected edge set: self-loops dropped, parallel edges
    * collapsed, endpoints ordered a < b. One distinct-shuffle on the
    * canonical pair. */
  def undirectedEdges(edges: DataFrame, src: Column, dst: Column): DataFrame =
    edges.filter(src =!= dst)
      .select(least(src, dst).as("a"), greatest(src, dst).as("b"))
      .distinct()

  /** Per-node triangle participation over the undirected graph implied
    * by `edgesRaw`: (node, deg, n_triangles, clustering_ppm) where
    * clustering_ppm = floor(2e6 * T(v) / (deg * (deg - 1))) — the local
    * clustering coefficient in integer ppm (0 for deg < 2), so the
    * whole result is integer-exact and oracle-replayable. */
  def perNode(edgesRaw: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = undirectedEdges(edgesRaw, src, dst)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
    // orient a->b iff (deg_a, a) < (deg_b, b); b->a otherwise. Ties on
    // degree break by node id, so the order is total and the oriented
    // graph is acyclic.
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("deg_v"))

    // wedges at the common source u, (v, w) ordered by (deg, node);
    // the triangle closes iff the oriented edge v->w exists (it cannot
    // be w->v under the total order).
    val o2 = oriented.select(
      col("u"), col("v").as("w"), col("deg_v").as("deg_w"))
    val wedges = oriented.join(o2, Seq("u"))
      .filter(col("deg_v") < col("deg_w") ||
        (col("deg_v") === col("deg_w") && col("v") < col("w")))
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val triangles = wedges.join(closing, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))

    val perNodeT = triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

    deg.join(perNodeT, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          expr("coalesce(n_triangles, 0L) * 2000000L div (deg * (deg - 1L))"))
          .otherwise(lit(0L)).cast("long").as("clustering_ppm"))
  }

  /** Triangle census over the item-transition graph of consecutive
    * events per user (same edge construction as
    * [[PageRank.overEventTransitions]], collapsed to undirected). */
  def overEventTransitions(events: DataFrame): DataFrame =
    perNode(
      PageRank.transitionEdges(events, col("user_id"), col("ts"),
        col("event_id"), get_json_object(col("props"), "$.k").cast("long")),
      col("src"), col("dst"))

  /** DuckDB replay: identical construction, `//` == Spark `div` on
    * non-negative BIGINTs, tuple ordering spelled out explicitly. */
  object Sql {
    def query: String =
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |tr AS (
         |  SELECT item AS src, lead(item) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM tr WHERE dst IS NOT NULL AND src <> dst),
         |deg AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1),
         |ori AS (
         |  SELECT
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |         THEN e.a ELSE e.b END AS u,
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |         THEN e.b ELSE e.a END AS v,
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |         THEN db.deg ELSE da.deg END AS deg_v
         |  FROM und e
         |  JOIN deg da ON da.node = e.a
         |  JOIN deg db ON db.node = e.b),
         |tri AS (
         |  SELECT o1.u, o1.v, o2.v AS w
         |  FROM ori o1
         |  JOIN ori o2 ON o1.u = o2.u
         |   AND (o1.deg_v < o2.deg_v
         |        OR (o1.deg_v = o2.deg_v AND o1.v < o2.v))
         |  JOIN ori oc ON oc.u = o1.v AND oc.v = o2.v),
         |tcount AS (
         |  SELECT node, count(*) AS n_triangles FROM (
         |    SELECT u AS node FROM tri
         |    UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri)
         |  GROUP BY 1)
         |SELECT d.node, d.deg,
         |  COALESCE(t.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.deg >= 2
         |       THEN (COALESCE(t.n_triangles, 0) * 2000000)
         |            // (d.deg * (d.deg - 1))
         |       ELSE 0 END AS clustering_ppm
         |FROM deg d LEFT JOIN tcount t ON t.node = d.node""".stripMargin
  }
}
