package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative connected components over a near-duplicate pair list — the
  * closure step that turns pairwise similarity hits into dedup GROUPS
  * (pairs alone under-merge: a~b and b~c must collapse a, b, c together).
  *
  * Algorithm: minimum-label propagation. Every node starts labeled with its
  * own id; each round, every node takes the min label among itself and its
  * neighbors; stop at fixpoint (or `maxIter`). Rounds needed = graph
  * diameter, which for near-dup clusters is tiny. Each round is one join +
  * one aggregation — the standard Spark iterative shape: the driver loops
  * over ACTIONS, the data never leaves the cluster, and [[graft.Pin]]
  * truncates the lineage so plans don't grow with iterations
  * (localCheckpoint by default; RELIABLE checkpoint — surviving executor
  * loss — when `sc.setCheckpointDir` is set; PinSpec proves bit-parity).
  */
object Components {

  /** Pinned symmetrization of a two-column edge list — the one shape every
    * graph operator here starts from. Round 19: the previous inline
    * `edges.union(edges.flipped).distinct()` re-EXECUTED the caller's
    * whole edge-producing subtree once per union branch (for the near-dup
    * consumers that is the full band join + exact-verify pipeline —
    * StageAudit measured q264's sym materialization at 43.2 s executor CPU,
    * exactly 2× its verify cost, in one 64-task stage). Pinning the edge
    * list FIRST makes both branches read materialized blocks; the
    * symmetrized frame is then pinned as before for the iterative
    * consumers. Values are bit-identical (Pin is a barrier only).
    */
  private def pinnedSym(edges: DataFrame): DataFrame = {
    val Seq(aCol, bCol) = edges.columns.toSeq.take(2)
    val e = graft.Pin(edges.select(col(aCol).as("src"), col(bCol).as("dst")))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .transform(graft.Pin.apply)
  }

  /** Below the [[graft.Cutover.ComponentsLocal]] cutover (and with
    * integral node ids) the closure is union-find on the driver: the edge
    * list after near-dup pairing is typically minuscule next to its
    * corpus, and one collect replaces O(log diameter) shuffle rounds. The
    * cutover counts the PINNED RAW edge list, before symmetrization, which
    * only the iterative loop needs.
    *
    * @param edges two-column DataFrame of undirected pairs
    * @return (node, component) — component = min node id reachable
    * @throws IllegalStateException when `maxIter` rounds pass without a
    *         fixpoint — an under-merged result returned silently would
    *         corrupt downstream dedup; raise maxIter for high-diameter
    *         graphs (rounds needed ≈ component diameter)
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val Seq(aCol, bCol) = edges.columns.toSeq.take(2)
    val raw = graft.Pin(edges.select(col(aCol).as("src"), col(bCol).as("dst")))

    // raw is already materialized (eager localCheckpoint), so this count is a
    // metadata-cheap scan of cached blocks, not a recomputation
    val integralIds = raw.schema.fields.forall { f =>
      import org.apache.spark.sql.types._
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    if (integralIds && graft.Cutover.count(graft.Cutover.ComponentsLocal, raw))
      return localComponents(raw)

    val sym = raw
      .union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .transform(graft.Pin.apply)

    var checkpointed = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .transform(graft.Pin.apply)
    var labels = checkpointed

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nbrMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(min(col("component")).as("nbr_min"))
      // one propagation step + one pointer jump (shortcutting): after taking
      // the min over neighbors, also adopt the CURRENT label of that label —
      // labels are monotonically ≤ their node id, so the jump only tightens.
      // Shortcutting turns O(diameter) rounds into O(log diameter), the
      // standard acceleration for distributed CC.
      val tentative = labels.join(nbrMin, col("node") === col("src"), "left_outer")
        .select(col("node"), col("component").as("prev"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("tent"))
      val jumpTo = labels
        .select(col("node").as("jnode"), col("component").as("jcomp"))
      // localCheckpoint truncates lineage; the superseded round's cached
      // blocks are explicitly dropped below, keeping peak storage at two
      // copies instead of maxIter. The PREVIOUS label rides along in the
      // checkpointed frame so the convergence check is a filter over already-
      // materialized blocks — not a labels⋈next join re-executed per round.
      val stepped = tentative
        .join(jumpTo, col("tent") === col("jnode"), "left_outer")
        .select(col("node"), col("prev"),
          least(col("tent"), coalesce(col("jcomp"), col("tent")))
            .as("component"))
        .transform(graft.Pin.apply)
      converged = stepped.filter(col("component") =!= col("prev")).isEmpty
      checkpointed.unpersist(blocking = false)
      checkpointed = stepped
      labels = stepped.select("node", "component")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it")
    labels
  }

  /** Driver-side union-find with path halving + union by MIN: the smaller
    * root always wins, so every root IS its component's minimum and no
    * relabeling pass is needed. Shared by [[localComponents]] and the fused
    * q260 closure ([[graft.ext.Dedup.crossModalKeeper]]).
    */
  private[ext] final class UnionFind {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def add(x: Long): Unit = parent.getOrElseUpdate(x, x)
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      add(a); add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }

  /** Driver-side union-find over a collected RAW edge list — exact same
    * contract as the distributed loop: every node in any edge mapped to the
    * minimum reachable node id. Direction is irrelevant to union-find, so
    * the caller skips the symmetrization the iterative loop needs. Node ids
    * travel as longs and are cast back to the input id type on the way out.
    *
    * NULL ids match the distributed loop's join semantics: a null endpoint
    * never connects anything (SQL equi-joins skip nulls), but a null
    * endpoint IS a node of the distributed label frame (the symmetrized
    * src set holds every endpoint, null included), so any null endpoint
    * surfaces here as a single (null, null) row too.
    */
  private def localComponents(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val idType = raw.schema("src").dataType
    val rows = raw.select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    val hasNull = rows.exists(r => r.isNullAt(0) || r.isNullAt(1))

    val uf = new UnionFind
    for (r <- rows) {
      // a null endpoint contributes no node and no union (join semantics);
      // the non-null side still registers as a node
      if (!r.isNullAt(0) && !r.isNullAt(1)) uf.union(r.getLong(0), r.getLong(1))
      else if (!r.isNullAt(0)) uf.add(r.getLong(0))
      else if (!r.isNullAt(1)) uf.add(r.getLong(1))
    }
    val out = uf.parent.keys.toSeq.map(n => (Option(n), Option(uf.find(n)))) ++
      (if (hasNull) Seq((Option.empty[Long], Option.empty[Long])) else Nil)
    out.toDF("node", "component")
      .select(col("node").cast(idType), col("component").cast(idType))
  }

  /** Dedup groups from near-dup pairs: every member mapped to its group's
    * canonical (minimum) id. Nodes not in any pair are their own group and
    * are absent here — union with the full id set at the call site if a
    * total mapping is needed.
    */
  def dedupGroups(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .withColumnRenamed("component", "canonical_id")

  /** THE q245 cluster-histogram contract, one definition (shared by
    * `Dedup.nearDupClusters`, `Dedup.dhashClusters` and
    * `Similarity.embedDedupClusters` — MinHash text / dHash image /
    * cosine embedding all report dedup the same way): close `pairs`
    * into components, assign every id in `ids` (items in no pair are
    * size-1 clusters, so Σ count column = |ids| unconditionally), roll
    * up as (cluster_size, n_clusters, <nCol>, <removedCol>) where
    * removed is the keep-one-per-cluster deletion mass.
    *
    * @param ids   one-column frame of EVERY item id (the histogram's
    *              universe)
    * @param pairs two-column near-dup pair frame (ids from the same
    *              universe)
    */
  private[ext] def clusterSizeHistogram(ids: DataFrame, pairs: DataFrame,
                                        nCol: String, removedCol: String)
      : DataFrame = {
    val idCol = ids.columns.head
    val comp = connectedComponents(
      pairs.toDF("doc_a", "doc_b"))
    val assign = ids
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("comp"))
    assign.groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as(nCol),
        ((col("cluster_size") - 1) * col("n_clusters")).as(removedCol))
  }

  /** PageRank over an undirected pair list (symmetrized, so every node has
    * in-degree = out-degree ≥ 1 and the dangling-mass correction vanishes):
    * rank_{k+1}(v) = (1−d)/N + d·Σ_{u→v} rank_k(u)/deg(u), a fixed number
    * of power iterations. On a near-dup graph this scores each duplicate
    * group's "centrality" — which member is most connected, a canonical-
    * document selection signal beyond min-id.
    *
    * Each iteration is the standard Spark shape: one join (ranks onto the
    * edge list, degree pre-attached) + one aggregation on the destination
    * key. Rounding the rank to `roundDp` dp each iteration makes the result
    * engine-parity-safe: the neighbor SUM is fp-order-sensitive in the last
    * ulp, and carrying rounded values forward keeps every later per-row
    * division bit-identical in any engine (same trick as q42's z-scores).
    *
    * The iteration count is a FIXED parameter (not convergence-tested):
    * parity requires both engines run the exact same number of steps.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, damping: Double = 0.85,
               roundDp: Int = 9): DataFrame = {
    val sym = pinnedSym(edges)
    // pinned (round 19): deg is consumed by the rank init, by every
    // iteration's edge join, by each iteration's broadcast nDf build and
    // by the final readout join — unpinned, each consumer re-shuffled the
    // edge list to re-derive the same per-node counts
    val deg = graft.Pin(sym.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val nDf = deg.agg(count(lit(1)).as("cnt"))
    var ranks = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("node"), (lit(1.0) / col("cnt")).as("rank"))
    for (_ <- 1 to iterations) {
      val summed = sym
        .join(deg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("deg")).as("__c"))
        .groupBy(col("dst"))
        .agg(sum(col("__c")).as("__s"))
      // (1.0 − damping) as an explicit IEEE subtraction: the oracle writes
      // the same subtraction, so both sides use the identical double (a
      // pre-computed 0.15 literal would NOT equal 1.0 − 0.85 in binary)
      ranks = summed.crossJoin(broadcast(nDf))
        .select(col("dst").as("node"),
          round(lit(1.0 - damping) / col("cnt") + lit(damping) * col("__s"),
            roundDp).as("rank"))
    }
    ranks.join(deg, col("node") === col("src"))
      .select(col("node"), col("deg"), col("rank"))
  }

  /** Deterministic synthetic graph over the supplier key space (ring +
    * skip-chord + long-range edge per node, all arithmetic on the key) —
    * the fixture graph for the traversal operators, expressible identically
    * in the SQL oracle. Modulus comes from a 1-row max() stat frame
    * broadcast back — no driver-side count job.
    */
  /** One synchronous label-propagation round (the community-detection /
    * semi-supervised-labeling kernel): every node adopts the most frequent
    * label among its symmetrized neighbors, ties to the SMALLEST label;
    * isolated nodes keep their own. Emits old/new labels, the winning vote
    * count, and a changed flag — the convergence signal an iterating
    * caller monitors.
    *
    * Scale shape: one edge-list self-symmetrization, one join edges ⋈
    * labels (shuffles on the node key), one (node, label) count and a
    * per-node argmax window over label-cardinality-bounded groups. No
    * adjacency collection, no per-node state beyond (node, label).
    */
  def labelPropagationStep(edges: DataFrame, labels: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val nbr = sym.join(labels, sym("dst") === labels("node"))
      .select(sym("src").as("node"), labels("label"))
    val cnt = nbr.groupBy(col("node"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("cnt").desc, col("label"))
    val newl = cnt.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("node"), col("label").as("new_label"),
        col("cnt").as("votes"))
    labels.join(newl, Seq("node"), "left_outer")
      .select(col("node"), col("label").as("old_label"),
        coalesce(col("new_label"), col("label")).as("new_label"),
        coalesce(col("votes"), lit(0L)).as("votes"),
        (coalesce(col("new_label"), col("label")) =!= col("label"))
          .as("changed"))
  }

  def supplierGraph(supplier: DataFrame): DataFrame = {
    val n = supplier.agg(max(col("s_suppkey")).as("n"))
    supplier.select(col("s_suppkey").as("i"))
      .crossJoin(broadcast(n))
      .select(col("i").as("src"), explode(array(
        col("i") % col("n") + 1,
        (col("i") + 1) % col("n") + 1,
        (col("i") * 7 + 1) % col("n") + 1)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** k-hop BFS: minimum hop distance from `sources` to every node within
    * `maxHops`, as `maxHops` rounds of frontier-expand + anti-join (the
    * level-synchronous BFS every distributed graph engine runs). Each round
    * is one join on the (symmetrized) edge list plus an anti-join against
    * the settled set — no per-node state beyond (node, dist). Rounds are a
    * FIXED parameter: at 100 TB the edge join shuffles on src and the
    * frontier stays a fraction of the node set; for deep traversals
    * checkpoint every few rounds to cap lineage (as [[pageRank]] does).
    */
  def kHopDistances(edges: DataFrame, sources: DataFrame,
                    maxHops: Int = 4): DataFrame = {
    val sym = pinnedSym(edges)
    val src0 = sources.select(sources.columns.head).toDF("node")
    var dist = src0.select(col("node"), lit(0L).as("dist"))
    var frontier = dist
    for (h <- 1 to maxHops) {
      // explicit aliases: after round 1 the frontier's `node` lineage IS
      // sym's `dst`, so unqualified references would be an ambiguous
      // self-join
      // frontier and settled set are node-sized fractions — broadcast both
      // so each round is map-side against the partitioned edge list (no
      // edge shuffle per round)
      // Pin each hop's frontier (round 19): the two broadcast builds of
      // hop h re-EXECUTED hop h−1's whole subtree (and `dist`, a union of
      // every prior frontier, re-executed all of them), so the expand/
      // anti-join work multiplied ~2–3× per hop — StageAudit measured the
      // fallout as a 3.8–20.6 s solo spread at sf0.1 where one pinned
      // pass is sub-second. The iterative-operator Pin discipline
      // ([[connectedComponents]], [[pageRank]]) applied to BFS; values
      // are bit-identical (Pin is a materialization barrier only).
      val next = graft.Pin(sym.as("e")
        .join(broadcast(frontier.select(col("node")).as("f")),
          col("f.node") === col("e.src"))
        .select(col("e.dst").as("node"), lit(h.toLong).as("dist"))
        .distinct()
        .join(broadcast(dist.select(col("node").as("__seen"))),
          col("node") === col("__seen"), "left_anti"))
      frontier = next
      dist = dist.union(next)
    }
    dist
  }

  /** Link prediction by neighborhood overlap: for every NON-edge pair with
    * at least one common neighbor, the common-neighbor count and Jaccard
    * coefficient |N(a)∩N(b)| / |N(a)∪N(b)| — exact ints and one division
    * (Adamic–Adar would need the engine-unsafe log). The wedge join is the
    * same canonical two-hop as [[triangleCounts]]; its cost is Σ deg(z)²
    * over hub nodes z, so at 100 TB cap or sample super-hub neighborhoods
    * (the standard refinement) — the join shape is unchanged by it.
    */
  def linkPrediction(edges: DataFrame): DataFrame = {
    val sym = pinnedSym(edges)
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("src").as("z"), col("dst").as("a"))
      .join(sym.select(col("src").as("z"), col("dst").as("b")), "z")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
    wedges
      .join(sym.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("deg_a"))),
        "a")
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("deg_b"))),
        "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"))
          .as("jaccard"))
  }

  /** Per-node triangle participation counts. Edges are canonicalized
    * (a < b) so each undirected triangle a < b < c is found exactly once by
    * the two-join wedge-close: (a,b)⋈(b,c)⋈(a,c). At 100 TB the standard
    * refinement is degree-orientation (orient each edge toward the
    * higher-degree endpoint) so wedge counts are bounded by arboricity
    * rather than max degree; the join shape below is unchanged by it.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = pinnedSym(edges).filter(col("src") < col("dst"))
    val tri = canon.select(col("src").as("a"), col("dst").as("b"))
      .join(canon.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(canon.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
