package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Enclosing-subgraph extraction + double-radius node labeling for
  * candidate edges, batched over ALL candidates in one job
  * (reference semantics:
  * /root/reference/src/gnn/lcilp/subgraph_extraction/graph_sampler.py:300-391 —
  * per-link python workers in an mp.Pool; here one edge_id-keyed frontier
  * DataFrame per BFS level, so a million candidates are just more rows).
  *
  * Semantics reproduced exactly:
  *  - nodes = {head, tail} ∪ (N_h(head) ∩ N_h(tail))   (enclosing mode)
  *  - d(v, head) is computed with tail REMOVED from the graph, and
  *    d(v, tail) with head removed (graph_sampler.py:365-391);
  *  - roots keep labels (0,1)/(1,0);
  *  - prune to nodes with max(d_head, d_tail) <= h;
  *  - optional per-level frontier cap `maxNodesPerHop` mirroring the
  *    reference's down-sampling knob (utils/dgl_utils.py:26-27) with a
  *    deterministic md5 order instead of np.random.choice — without it a
  *    hub entity in the candidate set grows the frontier by
  *    candidates x hub-degree rows per level.
  *
  * [[encloseAndLabelCommunity]] additionally reproduces the reference's
  * ALWAYS-ON multicom community pruning (graph_sampler.py:319-325) as a
  * mapGroups beam per candidate.
  */
object Subgraphs {

  /** edges(src,dst) symmetric; candidates(edge_id, head, tail).
    * Returns one row per kept subgraph node:
    * (edge_id, node, d_head, d_tail).
    *
    * `mode` mirrors the reference's `enclosing_sub_graph` switch
    * (graph_sampler.py:327-331): "enclosing" (default — the driver
    * path, unchanged) intersects the per-root root-removed
    * neighborhoods; "union" takes roots + N_h(head) ∪ N_h(tail)
    * gathered WITHOUT root removal (get_neighbor_nodes,
    * graph_sampler.py:283-297 removes no roots) and then labels within
    * the induced subgraph with the other root removed (node_label,
    * graph_sampler.py:365-391).
    *
    * Equivalence note (proved in GraphSpec "uncapped modes coincide"):
    * with NO per-hop cap the two modes emit identical rows — any ≤ h
    * root-removed path from a kept node to a root consists of nodes
    * that are themselves within h of that root, hence inside the union
    * neighborhood, so union-induced distances equal full-graph
    * root-removed distances, and the pruned union set collapses to the
    * intersection set. The modes genuinely diverge once
    * `maxNodesPerHop` caps bind: enclosing samples per root-removed
    * frontier, union per unremoved frontier (the reference's
    * np.random.choice domains differ the same way), so different nodes
    * survive the cap.
    */
  def encloseAndLabel(
      edges: DataFrame,
      candidates: DataFrame,
      h: Int,
      maxNodesPerHop: Option[Int] = None,
      mode: String = "enclosing",
      driverThreshold: Long = 1 << 16): DataFrame = {
    require(mode == "enclosing" || mode == "union",
      s"encloseAndLabel mode must be enclosing|union, got '$mode'")
    if (mode == "union")
      return gatherAndBeam(edges, candidates, h, maxNodesPerHop, community = false,
        driverThreshold)
    // BFS from both roots per candidate, the OTHER root removed per side
    // (graph_sampler.py:365-391), per-(candidate, side) cap; the
    // enclosing subgraph is the intersection of the two reaches (both
    // walks stop at h, so the max(d_head, d_tail) <= h prune holds)
    smallInput(edges, candidates, driverThreshold) match {
      case Some((adj, cands)) =>
        val spark = edges.sparkSession
        import spark.implicits._
        spark.createDataset(cands.toSeq.flatMap { case (eid, head, tail) =>
          val dh = Bfs.walkLocal(adj, Seq(head), h, Some(tail), maxNodesPerHop)._1
          val dt = Bfs.walkLocal(adj, Seq(tail), h, Some(head), maxNodesPerHop)._1
          Seq(LabeledNode(eid, head, 0, 1), LabeledNode(eid, tail, 1, 0)) ++
            dh.collect { case (n, a) if n != head && n != tail && dt.contains(n) =>
              LabeledNode(eid, n, a, dt(n))
            }
        }).toDF()
      case None =>
        val walked = Bfs.walk(edges, rootSeeds(candidates, perRoot = true), h,
          Some("other"), maxNodesPerHop)._1
        def fromSide(side: Int, label: String) = walked.filter(col("side") === side)
          .select(col("edge_id"), col("node"), col("dist").as(label))
        // the roots themselves keep the reference's fixed labels
        val roots = candidates.select(col("edge_id"),
          col("head").as("node"), lit(0).as("d_head"), lit(1).as("d_tail"))
          .unionAll(candidates.select(col("edge_id"),
            col("tail").as("node"), lit(1).as("d_head"), lit(0).as("d_tail")))
        val nonRoots = fromSide(0, "d_head")
          .join(fromSide(1, "d_tail"), Seq("edge_id", "node"))
          .join(candidates, Seq("edge_id"))
          .filter(col("node") =!= col("head") && col("node") =!= col("tail"))
          .select(col("edge_id"), col("node"), col("d_head"), col("d_tail"))
        roots.unionAll(nonRoots)
    }
  }

  /** BFS seeds per candidate. Per root: (edge_id, side, other, node) with
    * side 0 = head, 1 = tail and `other` the root to remove; jointly:
    * (edge_id, node) for both roots, one BFS per candidate.
    */
  private def rootSeeds(candidates: DataFrame, perRoot: Boolean): DataFrame = {
    def from(root: String, other: String, side: Int) = candidates.select(
      (col("edge_id") +: (if (perRoot) Seq(lit(side).as("side"), col(other).as("other"))
        else Nil)) :+ col(root).as("node"): _*)
    from("head", "tail", 0).unionAll(from("tail", "head", 1))
  }

  /** The driver fast path's input, when it engages: the (null-free)
    * adjacency map and the candidates, each collected by one bounded
    * probe. It engages only for small inputs (< `driverThreshold` rows
    * each; 0 forces the distributed path — tests assert both paths emit
    * identical rows) whose id contract the local bodies hold exactly:
    * BIGINT node ids everywhere and a string edge_id (no cast round-trips
    * — "0123"-style string ids would silently canonicalize, so anything
    * else stays distributed). At dictionary-sized graphs the distributed
    * scaffolding (an emptiness probe and a checkpoint per level, then the
    * assembly) is pure overhead.
    */
  private def smallInput(edges: DataFrame, candidates: DataFrame, driverThreshold: Long)
      : Option[(Map[Long, Array[Long]], Array[(String, Long, Long)])] = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val localShape = candidates.schema("edge_id").dataType == StringType &&
      Seq(candidates.schema("head"), candidates.schema("tail"),
        edges.schema("src"), edges.schema("dst"))
        .forall(_.dataType == LongType)
    if (!localShape) None
    else for {
      e <- Bfs.collectSmall(Bfs.edgeList(edges), driverThreshold)
      c <- Bfs.collectSmall(candidates.select("edge_id", "head", "tail"), driverThreshold)
    } yield (e.map(r => (r.getLong(0), r.getLong(1))).groupMap(_._1)(_._2),
      c.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
  }

  /** Gather, then label in a per-candidate beam: union mode
    * (graph_sampler.py:331 `else` branch, `community` off) and the
    * community flow (`community` on, see [[encloseAndLabelCommunity]]).
    *
    *   1. U = N_h(head) ∪ N_h(tail) WITHOUT root removal
    *      (get_neighbor_nodes, graph_sampler.py:283-297): a U node reached
    *      through the other root is later pruned by the root-removed
    *      labels, but it belongs to U. Union mode walks each root on its
    *      own once a cap binds (the reference applies np.random.choice to
    *      each root's own BFS, so the sampling domains stay separate);
    *      otherwise both roots seed one BFS — the visited set of a
    *      multi-seed BFS is the union of the per-seed visited sets.
    *   2. the induced edges of U, plus a marker row (head, head) that
    *      guarantees every candidate a group even when U has no induced
    *      edge (self-loops are ignored by the beam's adjacency build).
    *   3. [[communityLabelBeam]], with full-graph src degrees (only the
    *      community sweep reads them, so the distributed path joins them
    *      in only then).
    */
  private def gatherAndBeam(
      edges: DataFrame,
      candidates: DataFrame,
      h: Int,
      cap: Option[Int],
      community: Boolean,
      driverThreshold: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val perRoot = !community && cap.nonEmpty
    smallInput(edges, candidates, driverThreshold) match {
      case Some((adj, cands)) =>
        // symmetric edge list: out-degree == degree, row count == volume
        // (the beam reads degrees only for the community sweep)
        def deg(n: Long): Int = adj.get(n).fold(0)(_.length)
        val totalVol = adj.valuesIterator.map(_.length.toDouble).sum
        spark.createDataset(cands.toSeq.flatMap { case (eid, head, tail) =>
          def reach(seeds: Long*) = Bfs.walkLocal(adj, seeds, h, None, cap)._1.keySet
          val u = if (perRoot) reach(head) ++ reach(tail) else reach(head, tail)
          // induced edges enumerate U's adjacency lists: bounded by the
          // capped BFS, never a full edge scan per candidate
          val induced = Iterator((head, head, deg(head))) ++ u.iterator.flatMap { a =>
            adj.getOrElse(a, Array.empty[Long]).iterator.filter(u).map(b => (a, b, deg(a)))
          }
          communityLabelBeam(eid, head, tail, induced, totalVol, h, community)
        }).toDF()
      case None =>
        val e = Bfs.edgeList(edges)
        val u = Bfs.walk(e, rootSeeds(candidates, perRoot), h, cap = cap)._1
          .select(col("edge_id"), col("node")).distinct()
        val n1 = u.select(col("edge_id"), col("node").as("__s"))
        val n2 = u.select(col("edge_id").as("__e2"), col("node").as("__d"))
        val induced = e
          .join(n1, e("src") === n1("__s"))
          .join(n2, col("edge_id") === col("__e2") && e("dst") === n2("__d"))
          .select(col("edge_id"), col("src"), col("dst"))
        val markers = candidates.select(col("edge_id"),
          col("head").as("src"), col("head").as("dst"))
        val gathered = induced.unionAll(markers).join(candidates, Seq("edge_id"))
        val beamCols = Seq("edge_id", "head", "tail", "src", "dst").map(col)
        val (beam, totalVol) =
          if (community) {
            val degrees = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
            (gathered.join(degrees, Seq("src"), "left")
              .select(beamCols :+ coalesce(col("__deg"), lit(0L)).as("src_deg"): _*),
              e.count().toDouble)
          } else (gathered.select(beamCols :+ lit(0L).as("src_deg"): _*), 0.0)
        beam.as[BeamEdge].groupByKey(_.edge_id).flatMapGroups { (eid, rows) =>
          val buf = rows.toArray
          communityLabelBeam(eid, buf.head.head, buf.head.tail,
            buf.iterator.map(r => (r.src, r.dst, r.src_deg.toInt)), totalVol, h, community)
        }.toDF()
    }
  }

  /** One gathered beam row: an induced edge of a candidate's h-hop
    * union neighborhood, with the candidate roots and the src node's
    * FULL-graph degree carried along (the conductance sweep must see
    * true degrees, not beam-truncated ones, to match the reference's
    * full-graph multicom).
    */
  final case class BeamEdge(
      edge_id: String, head: Long, tail: Long, src: Long, dst: Long,
      src_deg: Long)
  final case class LabeledNode(
      edge_id: String, node: Long, d_head: Int, d_tail: Int)

  /** Community-pruned enclosing subgraphs — the reference's ALWAYS-ON
    * flow (graph_sampler.py:319-325):
    *
    *   1. union neighborhood U = N_h(head) ∪ N_h(tail) (per-level caps);
    *   2. multicom: approximate PPR from seeds {head, tail} + conductance
    *      sweep cut -> community C (multicom.py:52-141);
    *   3. nodes = {head, tail} ∪ ((C \ roots) ∩ U);
    *   4. double-radius labels = BFS distances WITHIN the induced
    *      subgraph on those nodes, other root removed
    *      (node_label, graph_sampler.py:365-391);
    *   5. prune to max(d_head, d_tail) <= h.
    *
    * Distributed shape: the neighborhood gather and induced-edge
    * collection are batched frontier joins over ALL candidates (rows
    * keyed by edge_id); the PPR + sweep + local BFS run inside ONE
    * mapGroups beam per candidate over its gathered (small, capped)
    * subgraph — the reference runs the same per-link computation in an
    * mp.Pool worker. Deviation (documented): the reference evaluates PPR
    * on the full graph; the beam evaluates it on the gathered h-hop
    * neighborhood — the push algorithm's mass outside the seeds'
    * neighborhood is below eps by construction. Small inputs run the same
    * gather and beam on the driver (see [[encloseAndLabel]]).
    *
    * edges(src,dst) symmetric with LONG node ids (dictionary-encode
    * upstream); candidates(edge_id, head, tail).
    * Returns (edge_id, node, d_head, d_tail).
    */
  def encloseAndLabelCommunity(
      edges: DataFrame,
      candidates: DataFrame,
      h: Int,
      maxNodesPerHop: Option[Int] = None,
      driverThreshold: Long = 1 << 16): DataFrame =
    gatherAndBeam(edges, candidates, h, maxNodesPerHop, community = true, driverThreshold)

  /** The per-candidate multicom beam body — ONE implementation shared
    * by the distributed flatMapGroups path and the driver fast path so
    * the community/label semantics cannot diverge. `edges` is the
    * gathered symmetric induced edge list with full-graph src degrees
    * (self-loop marker rows tolerated: dropped by the adjacency build).
    */
  private def communityLabelBeam(eid: String, head: Long, tail: Long,
      edges: Iterator[(Long, Long, Int)], totalVol: Double,
      h: Int, community: Boolean = true): Iterator[LabeledNode] = {
    val buf = edges.toArray
    val fullDeg: Map[Long, Int] = buf.iterator.map(r => r._1 -> r._3).toMap
    val adj: Map[Long, Array[Long]] = buf.iterator
      .filter(r => r._1 != r._2)
      .map(r => r._1 -> r._2) // edges arrive symmetric
      .toSeq.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct.sorted.toArray }
    // union mode skips multicom: cluster = all gathered non-root nodes
    // (graph_sampler.py:331 list(ind) + list(subgraph_nei_nodes_un))
    val cluster =
      if (!community) (adj.keySet ++ adj.valuesIterator.flatten) - head - tail
      else {
        val ppr = Ppr.approximatePpr(adj, Seq(head, tail), fullDeg = fullDeg)
        val comm = Ppr.sweepCut(adj, ppr, fullDeg, Some(totalVol))
        (comm - head - tail)
          .intersect(adj.keySet ++ adj.valuesIterator.flatten) // C ∩ U
      }
    val subNodes = Set(head, tail) ++ cluster
    val subAdj: Map[Long, Array[Long]] = adj.collect {
      case (k, vs) if subNodes(k) => k -> vs.filter(subNodes)
    }
    // BFS within the induced subgraph, one root removed
    val dh = Bfs.walkLocal(subAdj, Seq(head), h, Some(tail))._1
    val dt = Bfs.walkLocal(subAdj, Seq(tail), h, Some(head))._1
    val rootRows = Iterator(
      LabeledNode(eid, head, 0, 1), LabeledNode(eid, tail, 1, 0))
    val nodeRows = cluster.iterator.flatMap { n =>
      (dh.get(n), dt.get(n)) match {
        case (Some(a), Some(b)) if math.max(a, b) <= h =>
          Iterator(LabeledNode(eid, n, a, b))
        case _ => Iterator.empty // unreachable from a root -> pruned
      }
    }
    rootRows ++ nodeRows
  }

  /** Assemble per-candidate subgraph records: sorted node list + labels
    * (the D4 shape of SURVEY.md §1.1, LMDB record -> table row).
    */
  def records(labeled: DataFrame): DataFrame =
    labeled
      .groupBy(col("edge_id"))
      .agg(
        sort_array(collect_list(struct(col("node"), col("d_head"), col("d_tail"))))
          .as("members"))
      .select(
        col("edge_id"),
        transform(col("members"), m => m("node")).as("nodes"),
        transform(col("members"), m => array(m("d_head"), m("d_tail"))).as("n_labels"),
        size(col("members")).as("subgraph_size"))
}
