package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components over a near-dup pair graph (SURVEY.md §2.3):
  * assigns every involved doc the minimum doc id of its component —
  * the "keep one per near-dup cluster" step of an LLM data pipeline.
  *
  * Two phases (r12 rework, measured on the golden-record ×100 edge set
  * — 53M edges in ~28k near-clique families):
  *
  * 1. CONTRACTION pre-pass — one traversal of the full edge list maps
  *    every node to the min of its closed neighborhood and keeps only
  *    the surviving cross-label edges (label pairs that still differ),
  *    deduplicated. Dense families — the dominant shape duplicate-heavy
  *    corpora produce — collapse here: a k-clique's C(k,2) edges become
  *    zero or a handful, so the expensive full edge list is touched
  *    ONCE instead of once per iteration. Correctness: every label is a
  *    node of the same component (closed-neighborhood min), the
  *    component min always labels itself, and any component with a
  *    surviving edge keeps its min among the contracted nodes — so
  *    components of the contracted graph map 1:1 onto originals and
  *    composing the two labelings returns the exact min-id labeling.
  *
  * 2. Min-label propagation with pointer jumping over the CONTRACTED
  *    remnant: each iteration (a) takes the elementwise min of neighbor
  *    labels across edges, then (b) jumps `lbl := min(lbl, label(lbl))`
  *    — the label graph halves in depth per round, so convergence is
  *    O(log diameter) shuffles instead of O(diameter). The driver only
  *    checks a converged flag per round (a `limit(1)` count), so the
  *    loop distributes at 100 TB; `maxIter` bounds the worst case, and
  *    a loop that reaches it without converging throws.
  *
  * Loop mechanics (r7 rework, measured on the emb_dbscan ε-graph —
  * 7.3k edges, 6 rounds): each round EAGERLY `localCheckpoint`s the
  * new label table — one job materializes the round, lineage is
  * truncated immediately (planning cost stays constant instead of
  * growing with the chain), and the convergence check reads two
  * cached tables. The previous round's checkpoint blocks are freed by
  * the ContextCleaner once dereferenced. Checking EVERY round stops
  * at the first converged round — the earlier every-2nd-round scheme
  * saved one tiny count but ran whole extra join rounds past the
  * fixpoint (85 s → 20 s on the ε-graph, same fixpoint, oracle
  * unchanged).
  */
object ClusterDedup {

  /** @param pairs DataFrame with `id_a` < `id_b` edge columns
    * @throws IllegalStateException if the distributed loop has not
    *         converged after `maxIter` rounds
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // persist the DIRECTED pair input before symmetrizing (r17, §2.4):
    // the union's two branches are independent subtrees, so an
    // unpersisted caller pipeline (PPJoin candidates + exact verify
    // for dedup_clusters, the kNN bucket join for emb_knn_components,
    // blocked matching for the entity gates) executed TWICE — once per
    // branch — before the first label ever computed. One cache of the
    // narrow (id_a, id_b) output halves the edge-build cost.
    val p0 = pairs.persist()
    try {
      // fill the cache BEFORE the union reads it twice: the two union
      // branches materialize concurrently inside one job, so an unfilled
      // cache is computed by both (the persist alone bought nothing —
      // measured on dedup_minhash_clusters)
      val nEdges = 2L * p0.count()
      // SINGLE-TASK path for long ids (keeps the output column types):
      // exact min-id components by union-by-min-root + path compression —
      // the BlockedMatch block-local recipe lifted to the whole graph.
      // Every union keeps the smaller root, so a tree's final root is the
      // min id of everything merged into it: the propagation loop's
      // fixpoint. The eager checkpoint runs it before p0 unpersists.
      val longIds = Seq("id_a", "id_b").forall(c => p0.schema(c).dataType == LongType)
      // the loop's columns are nullable exactly when an input id column is
      val nullIds = Seq("id_a", "id_b").exists(c => p0.schema(c).nullable)
      val local = LocalSolve(spark,
          Option.when(longIds)(p0.select(col("id_a"), col("id_b")).as[(Long, Long)]), nEdges,
          "id" -> nullIds, "cluster" -> nullIds) { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (c != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          parent.keysIterator.toArray.iterator.map(id => (id, find(id)))
        }
      local.getOrElse {
        // EDGE-SCALED loop parallelism (r17): every shuffle of the loop
        // moves ≤ edge-count rows of two longs, so it runs at ~2M
        // symmetric-edge rows (≈32 MB) per partition — 1 at gate scale,
        // and more than any session default on a 100 TB edge list (the
        // width is derived from the data, deliberately NOT capped at the
        // session width). The width is set on a CLONE of the caller's
        // session (same confs, shared cache, so `p0`'s blocks still
        // serve), never on the caller's own session, which concurrent
        // callers share; the checkpointed result moves back to the
        // caller's session. Min-label aggregation over longs is
        // partitioning-invariant, so no label can change.
        val ls = GraftBridge.cloneSession(spark)
        ls.conf.set("spark.sql.shuffle.partitions",
          math.max(1L, (nEdges + 1999999L) / 2000000L).toString)
        val q0 = GraftBridge.ofRows(ls, GraftBridge.logicalPlan(p0))
        val edges = q0.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionByName(q0.select(col("id_b").as("u"), col("id_a").as("v")))
          .persist()
        try {
          // closed-neighborhood min per node — phase 1's labeling, and the
          // node universe of the output (every edge endpoint appears)
          val l = edges.groupBy(col("u"))
            .agg(min(col("v")).as("nmin"))
            .select(col("u").as("id"), least(col("u"), col("nmin")).as("lbl"))
            .transform(Checkpoints.truncate(_))
          // surviving cross-label edges, re-normalized to id_a < id_b — for a
          // near-clique family this is empty or tiny; for a path it shrinks
          // by a constant factor and phase 2's jumping does the log work
          // shuffle_hash on the label side (r15): the edge list is the big
          // relation here (53M rows on the golden-record ×100 graph vs 3M
          // labels) and a sort-merge join would SORT it twice; hash-building
          // the node-sized label table keeps the edge stream unsorted
          val contracted = edges
            .join(l.select(col("id").as("u"), col("lbl").as("lu")).hint("shuffle_hash"), "u")
            .join(l.select(col("id").as("v"), col("lbl").as("lv")).hint("shuffle_hash"), "v")
            .filter(col("lu") =!= col("lv"))
            .select(least(col("lu"), col("lv")).as("id_a"),
              greatest(col("lu"), col("lv")).as("id_b"))
            .distinct()
          val inner = propagate(contracted, maxIter)
          val labeled = l
            .join(inner.select(col("id").as("p_id"), col("cluster").as("p_lbl")),
              col("lbl") === col("p_id"), "left")
            .select(col("id"), coalesce(col("p_lbl"), col("lbl")).as("cluster"))
            .transform(Checkpoints.truncate(_))
          GraftBridge.ofRows(spark, GraftBridge.logicalPlan(labeled))
        } finally edges.unpersist()
      }
    } finally p0.unpersist()
  }

  /** Phase 2: the pointer-jumping min-label loop (the pre-r12 whole
    * algorithm), now fed only the contracted remnant. */
  private def propagate(pairs: DataFrame, maxIter: Int): DataFrame = {
    // same §2.4 rule as the outer entry: the contraction join+distinct
    // is an independent subtree per union branch without this persist
    // (count first — union branches race an unfilled cache)
    val p0 = pairs.persist()
    val edges = p0.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(p0.select(col("id_b").as("u"), col("id_a").as("v")))
      .persist()
    try {
      p0.count(): Unit
      // seed labels with least(id, min neighbor) — the same aggregation
      // the plain `distinct` node-list needs anyway, but it pre-runs
      // round 1's propagation for free: every 2-node component (the
      // dominant near-dup shape) is already AT its fixpoint, so the loop
      // runs one confirming round instead of propagate+confirm (r8,
      // measured: one fewer join round per call on every CC gate).
      // Correctness: the seed label is a node id of the same component,
      // the invariant min-label propagation needs.
      var labels = edges.groupBy(col("u"))
        .agg(min(col("v")).as("nmin"))
        .select(col("u").as("id"), least(col("u"), col("nmin")).as("lbl"))
        .transform(Checkpoints.truncate(_))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // FUSED propagate + pointer jump (r16): the label table itself
        // joins in as extra edges (id → lbl), so one edge-scale join +
        // one aggregate computes min(labels of graph-neighbors ∪
        // {labels(lbl(id))}) — the jump rides the same shuffle instead
        // of two extra node-scale self-joins per round (the r16 probe
        // measured the old 3-join round at 2.4-3.3 s of fixed cost on a
        // 5k-edge remnant; at 100 TB each avoided join is a node-scale
        // shuffle per round). The node's own label is dominated:
        // labels(lbl(id)) ≤ lbl(id) because a min-label table only ever
        // decreases and lbl(id) is a node of the same component — so no
        // least/coalesce re-attach is needed, and every labeled id
        // appears in the output because its label edge feeds the group.
        // Fixpoint and min-id labels are unchanged (every candidate is
        // a same-component node's label; convergence is still checked
        // per round).
        val labelEdges = labels.select(col("id").as("u"), col("lbl").as("v"))
        val next = edges.select(col("u"), col("v")).unionByName(labelEdges)
          .join(labels.withColumnRenamed("id", "v2").hint("shuffle_hash"),
            col("v") === col("v2"))
          .groupBy(col("u").as("id")).agg(min(col("lbl")).as("lbl"))
          .transform(Checkpoints.truncate(_)) // eager: materialize + truncate
        val changed = next.join(labels.withColumnRenamed("lbl", "old"), "id")
          .filter(col("lbl") =!= col("old")).limit(1).count()
        labels = next // previous checkpoint blocks freed by ContextCleaner
        converged = changed == 0
        iter += 1
      }
      // an unconverged labeling is a silently wrong clustering: fail loudly
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
      labels.withColumnRenamed("lbl", "cluster")
    } finally { edges.unpersist(); p0.unpersist() }
  }
}
