package graft.graph

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Level-synchronous k-hop BFS (reference: lcilp utils/dgl_utils.py:8-31),
  * the one BFS of the graph layer, in two forms with the same semantics:
  * [[walk]] runs it as one frontier join per level over a DataFrame, and
  * [[walkLocal]] runs it in-process over a collected adjacency map. Every
  * k-hop, all-pairs and subgraph gather in `graft.graph` calls one of them.
  *
  * Both forms take the same inputs: the seeds (in [[walk]] their key
  * columns make many independent BFS runs one frontier), an optional
  * excluded node (root removal), and an optional per-key, per-level cap.
  * The cap reproduces the reference's down-sampling (dgl_utils.py:26-27),
  * the supernode/skew guard, with a deterministic md5 order instead of
  * np.random.choice, so results are retry-stable (SURVEY.md §7.4). Edges
  * with a null endpoint are no edges ([[edgeList]]).
  */
object Bfs {

  /** edges(src,dst) directed as given (pass the symmetrized edge list
    * for undirected semantics); seeds(node). Returns (node, dist) for
    * all nodes within <= h hops, dist = BFS level (seeds at 0).
    */
  def kHop(
      edges: DataFrame,
      seeds: DataFrame,
      h: Int,
      maxNodesPerHop: Option[Int] = None): DataFrame =
    walk(edges, seeds.select("node"), h, cap = maxNodesPerHop)._1

  /** All-pairs shortest-path distances within components, bounded by
    * maxDepth (reference eccentricity/diameter/radius stats,
    * lcilp utils/graph_utils.py:163-180 — networkx single-process; here
    * one BFS frontier keyed by source node, so every source expands in
    * the same level-synchronous job). und(src,dst) must be symmetric.
    * Returns (a, node, dist) for every node within maxDepth of a (dist is
    * the exact shortest path: first level reached = minimum).
    *
    * This op is inherently O(V*E): every node seeds a BFS. It is a
    * STATS op for dictionary-sized graphs (the reference runs networkx
    * eccentricity on subgraphs), NOT a full-graph operator — `maxNodes`
    * makes misapplication a hard error instead of a runaway job.
    *
    * Small inputs (< `driverThreshold` edges) run [[walkLocal]] on the
    * driver — the same adaptivity as ConnectedComponents.run: the
    * distributed rounds cost dozens of job launches (49 on GraphSpec's
    * 13-node fixture at maxDepth 8) for work a collect finishes in
    * microseconds at stats-subgraph size. BFS distances depend only on
    * id EQUALITY (no ordering), so the string-cast round trip is
    * type-safe. Pass driverThreshold=0 to force the distributed rounds
    * (tests do).
    */
  def allPairsDistances(und: DataFrame, maxDepth: Int,
      maxNodes: Int = 10000, driverThreshold: Long = 1 << 16,
      // default TRUE: silently truncated distances poison any
      // downstream stat; a caller doing intentionally-bounded k-hop
      // exploration opts out explicitly
      requireConverged: Boolean = true): DataFrame = {
    def guard(nNodes: Long): Unit = require(nNodes <= maxNodes,
      s"allPairsDistances seeds a BFS from EVERY node (O(V*E)); refusing a graph " +
        s"with > $maxNodes nodes — raise maxNodes only for bounded stats subgraphs")
    // truncation = one MORE level still discovers nodes (a non-empty
    // frontier at maxDepth alone just means diameter == maxDepth), so a
    // converged walk is run one level deeper and must end empty there
    val depth = if (requireConverged) maxDepth + 1 else maxDepth
    def converged(lastFrontierEmpty: => Boolean): Unit =
      if (requireConverged && !lastFrontierEmpty) throw new IllegalStateException(
        s"allPairsDistances: BFS still had a non-empty frontier at maxDepth=$maxDepth " +
          "— distances are truncated and downstream per-component stats would " +
          "silently fragment; raise maxDepth above the true diameter")
    val e = edgeList(und)
    val spark = und.sparkSession
    import spark.implicits._
    collectSmall(e.select(col("src").cast("string"), col("dst").cast("string")),
        driverThreshold) match {
      case Some(rows) =>
        // the collected edges give the node-count guard for free
        val pairs = rows.map(r => (r.getString(0), r.getString(1)))
        val adj = pairs.groupMap(_._1)(_._2)
        val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        guard(nodes.length.toLong)
        val out = nodes.toSeq.flatMap { a =>
          val (dist, frontier) = walkLocal(adj, Seq(a), depth)
          converged(frontier.isEmpty)
          dist.map { case (n, d) => (a, n, d) }
        }
        val idType = und.schema("src").dataType
        spark.createDataset(out).toDF("a", "node", "dist")
          .select(col("a").cast(idType).as("a"),
            col("node").cast(idType).as("node"), col("dist"))
      case None =>
        val nodes = e.select(col("src").as("a"))
          .unionAll(e.select(col("dst").as("a"))).distinct()
        guard(nodes.limit(maxNodes + 1).count())
        val (dist, frontier) = walk(e, nodes.select(col("a"), col("a").as("node")), depth)
        converged(frontier.isEmpty)
        dist
    }
  }

  /** Per-component eccentricity stats over the bounded all-pairs
    * distances: (component, diameter, radius, n_nodes); component id =
    * min node id reachable (graph_utils.py:163-180).
    *
    * CONTRACT: `maxDepth` must be >= the true diameter of every
    * component — ENFORCED: a BFS whose frontier is still non-empty at
    * maxDepth throws (IllegalStateException) instead of silently
    * fragmenting components into rows keyed by inconsistent
    * min-reachable ids. Use ConnectedComponents.run for component ids
    * when the diameter is unknown.
    */
  def eccentricityStats(und: DataFrame, maxDepth: Int,
      driverThreshold: Long = 1 << 16): DataFrame = {
    val ecc = allPairsDistances(und, maxDepth, driverThreshold = driverThreshold,
      requireConverged = true)
      .groupBy(col("a"))
      .agg(max(col("dist")).as("ecc"), min(col("node")).as("component"))
    ecc.groupBy(col("component"))
      .agg(max(col("ecc")).as("diameter"), min(col("ecc")).as("radius"),
        count(lit(1)).as("n_nodes"))
  }

  /** The distributed BFS. `seeds` has a `node` column; every other column
    * is a key, and each key value walks on its own (its own visited set
    * and its own cap), so one frontier carries any number of BFS runs.
    * `exclude` names a key column whose node is removed from the graph
    * for that key (root removal). Returns (visited, last frontier), both
    * (keys..., node, dist); the last frontier is empty unless the walk
    * stopped at level h.
    *
    * Each level costs an emptiness probe and the frontier's checkpoint.
    * `visited` is a union of checkpointed frontiers, so the anti-join
    * re-reads cached blocks and needs no checkpoint of its own.
    */
  private[graph] def walk(edges: DataFrame, seeds: DataFrame, h: Int,
      exclude: Option[String] = None,
      cap: Option[Int] = None): (DataFrame, DataFrame) = {
    val keys = seeds.columns.toSeq.filter(_ != "node")
    val e = edgeList(edges)
    var frontier = seeds.distinct().withColumn("dist", lit(0)).localCheckpoint(true)
    var visited = frontier
    var level = 0
    while (level < h && !frontier.isEmpty) {
      level += 1
      val reached = frontier.join(e, col("node") === col("src"))
      var next = exclude.fold(reached)(x => reached.filter(col("dst") =!= col(x)))
        .select(keys.map(col) :+ col("dst").as("node"): _*)
        .distinct()
        .join(visited.select((keys :+ "node").map(col): _*), keys :+ "node", "left_anti")
      cap.foreach { c =>
        next = next.withColumn("__rn", row_number().over(
          Window.partitionBy(keys.map(col): _*).orderBy(md5(col("node").cast("string")))))
          .filter(col("__rn") <= c)
          .drop("__rn")
      }
      frontier = next.withColumn("dist", lit(level)).localCheckpoint(true)
      visited = visited.unionAll(frontier)
    }
    (visited, frontier)
  }

  /** The driver-local BFS: [[walk]] for one key, over an adjacency map.
    * Returns (node -> dist, last frontier).
    */
  private[graph] def walkLocal[N](adj: Map[N, Array[N]], seeds: Iterable[N], h: Int,
      exclude: Option[N] = None,
      cap: Option[Int] = None): (Map[N, Int], Set[N]) = {
    val dist = scala.collection.mutable.Map.from(seeds.iterator.map(_ -> 0))
    var frontier = seeds.toSet
    var level = 0
    while (level < h && frontier.nonEmpty) {
      level += 1
      var next = frontier
        .flatMap(n => adj.get(n).fold(Iterator.empty[N])(_.iterator))
        .filter(n => !exclude.contains(n) && !dist.contains(n))
      cap.foreach(c => next = next.toSeq.sortBy(md5hex).take(c).toSet)
      next.foreach(dist(_) = level)
      frontier = next
    }
    (dist.toMap, frontier)
  }

  /** Spark's `md5(cast(node as string))`, so both walks cap in one order. */
  private def md5hex(node: Any): String = DigestUtils.md5Hex(node.toString)

  /** (src, dst) with null-endpoint rows dropped: a null is no node. */
  private[graph] def edgeList(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

  /** Small-input probe by collecting: Some(rows) when `df` has fewer than
    * `threshold` rows, else None (also for threshold <= 0, which forces
    * the distributed path). A bounded limit(threshold) collect answers
    * "is it small?" and, when yes, already is the driver path's input —
    * one job, nothing read twice.
    */
  private[graph] def collectSmall(df: DataFrame, threshold: Long): Option[Array[Row]] =
    Option.when(threshold > 0)(df.limit(threshold.toInt).collect())
      .filter(_.length < threshold)

  /** Both-direction edge list. */
  def undirected(edges: DataFrame): DataFrame = {
    val (s, d) = (col(edges.columns(0)), col(edges.columns(1)))
    edges.select(s.as("src"), d.as("dst"))
      .unionAll(edges.select(d.as("src"), s.as("dst")))
      .distinct()
  }

  /** Append transposed relations: each (src, dst, rel) also as
    * (dst, src, rel + nRels) — the reference's both-direction message
    * passing (lcilp subgraph_extraction/datasets.py:245-251,
    * test_ranking.py:78-81).
    */
  def withInverseRelations(adjacency: DataFrame, nRels: Int): DataFrame =
    adjacency.select(col("src"), col("dst"), col("rel"))
      .unionAll(adjacency.select(col("dst").as("src"), col("src").as("dst"),
        (col("rel") + nRels).as("rel")))
}
