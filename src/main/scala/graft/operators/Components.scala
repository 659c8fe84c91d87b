package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the closure step a
  * near-dup pipeline needs: pairwise candidates (MinHash/Jaccard/SimHash) are
  * only EDGES; "keep one doc per duplicate cluster" requires the transitive
  * component (A~B, B~C ⇒ {A,B,C} even though A,C never paired).
  *
  * Algorithm: alternating partition-local union-find and global contraction.
  * Each round, every task runs a path-compressed union-find over ITS edge
  * partition (linear, in-memory, bounded by the partition size), emitting
  * node → local-min-root; a global min-aggregate reconciles nodes seen by
  * several tasks, edges are relabeled through the new mapping, self-loops
  * drop, and the shrunken graph iterates. Everything co-partitioned collapses
  * in ONE round, so the round count is O(log #partitions) in the worst case
  * — not O(diameter) like plain per-hop min-label propagation (a long chain
  * inside one partition costs one local pass here, not one Spark round per
  * hop; measured on the sf0.1 simhash graph: 11 rounds → 2).
  *
  * Scale shape per round: one mapPartitions pass over edges + a min
  * aggregate + two relabel joins, all shuffling (long, long) pairs keyed on
  * node id. Frames are materialized to persisted RDDs each round (see
  * [[checkpointed]]) — iterative loops otherwise accumulate lineage and
  * replan the whole history every round (on a cluster, use reliable
  * checkpointing to survive executor loss). */
object Components {

  /** Materialize a round into a persisted RDD and rebuild the frame over
    * it, so (a) the loop's plan lineage truncates every round — iterative
    * loops otherwise replan their whole history each iteration — and (b)
    * superseded rounds can be RELEASED: materialized blocks are never freed
    * automatically, and keeping every round pinned runs the executors out
    * of storage memory (this smothered the 5M-node stress before cleanup
    * existed).
    *
    * Deliberately NOT `localCheckpoint`: its blocks forbid recompute after
    * unpersist (so releasing them logs lineage-truncation warnings and any
    * late reader crashes), and tracking its ids via a before/after diff of
    * `sc.getPersistentRDDs` — the eager checkpoint job is often the first
    * action on the input plan — swallowed upstream CacheManager-owned RDDs
    * (the persisted simhash signatures feeding the edge list), whose blocks
    * [[release]] then dropped while the CacheManager still plan-matched new
    * queries against the dead entry: the "Asked to cache already cached
    * data" / "cannot be recomputed after unpersisting" failure in the
    * round-2 sequential bench. A plain persisted RDD recomputes from
    * shuffle files if someone reads it after release, and the id tracked is
    * exactly the one this function created. */
  private def checkpointed(df: DataFrame): (DataFrame, Set[Int]) = {
    val (out, ids, _) = checkpointedCounted(df)
    (out, ids)
  }

  /** [[checkpointed]], also returning the materialization count — the
    * eager count is a job the caller usually needs anyway (loop-exit
    * tests, small-graph dispatch), so returning it saves one action per
    * round over a separate `.count()`. `ChannelJobs` seals its digital
    * views with it too. If the count fails, the RDD is released before the
    * error is rethrown. */
  private[graft] def checkpointedCounted(df: DataFrame): (DataFrame, Set[Int], Long) = {
    // toRdd rows are mutable per-partition buffers — copy before caching
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager, like localCheckpoint(true): one job, then reuse
    val n = try rdd.count() catch { case e: Throwable => rdd.unpersist(false); throw e }
    val out = org.apache.spark.sql.graftshim.Bridge
      .internalCreateDataFrame(df.sparkSession, rdd, df.schema)
    (out, Set(rdd.id), n)
  }

  private[graft] def release(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  /** Returns (id, component) for every node appearing in `edges`, where
    * `component` is the minimum node id in the connected component.
    *
    * `localEdgeLimit`: when the canonical edge count (known exactly from
    * the init materialization — no extra job) is at or under this bound,
    * the whole closure runs as ONE driver union-find over the collected
    * edges instead of the iterative loop. The collect is BOUNDED by the
    * limit (default 1M edges ≈ 16 MB), the result is identical (min-label
    * per component), and the job count drops from ~4/round to 2 total —
    * the scheduling floor is the entire cost of closing a small graph, and
    * near-dup edge sets at the tail of a dedup funnel are routinely small
    * even when the corpus is 100 TB. Pass 0 to force the distributed path. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, verbose: Boolean = false,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    var (g0, gIds, nEdges) = checkpointedCounted(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct())
    var g = g0.as[(Long, Long)]

    if (nEdges <= localEdgeLimit) {
      // bounded collect (≤ localEdgeLimit canonical rows, counted above):
      // one path-compressed union-find on the driver, one local frame out
      val es = g.collect()
      release(g.toDF(), gIds)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
      }
      // min-label: roots are already the min member under (rx < ry) unions
      val out = es.iterator.flatMap { case (x, y) => Iterator(x, y) }
        .toSet[Long].toSeq.sorted.map(n => (n, find(n)))
      if (verbose) println(s"[components] local path: ${es.length} edges")
      return out.toDF("id", "comp")
    }

    // identity labels over every node that appears in an edge
    var (labels, labelIds) = checkpointed(g.toDF("a", "b")
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
      .withColumn("comp", col("id")))

    var iter = 0
    var remaining = nEdges
    while (remaining > 0 && iter < maxIter) {
      // (1) partition-local union-find: one linear pass per task. The edges
      // are RANGE-partitioned by endpoint so id-locality becomes partition
      // locality: chain segments, cliques, and stars over nearby ids (the
      // shape of near-dup graphs, where cluster members share crawl/batch
      // id ranges) collapse wholesale inside one task. Hash placement — by
      // pair or by single endpoint — co-locates nothing structural and
      // measurably stalls on giant sparse components (~8%/round edge shrink
      // on a 2M-node chain graph; range keying converges geometrically).
      val keyed = g.toDF("a", "b")
        .repartitionByRange(col(if (iter % 2 == 0) "a" else "b"))
        .as[(Long, Long)]
      val local = keyed.mapPartitions { it =>
        val es = it.toArray // bounded by the partition split size
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (x, y) =>
          val (rx, ry) = (find(x), find(y))
          if (rx != ry) {
            if (rx < ry) parent(ry) = rx else parent(rx) = ry
          }
        }
        es.iterator.flatMap { case (x, y) => Iterator(x, y) }
          .map(n => (n, find(n)))
      }
      // (2) reconcile nodes seen by several tasks: global min per node.
      // Lazily CACHED, not eagerly checkpointed: its three consumers ((3)'s
      // two relabel joins and (4)'s compose) materialize it once and reuse
      // the blocks, lineage still truncates through (3)/(4)'s checkpoints,
      // and skipping the eager count saves one job per round
      val lab = local.toDF("id", "comp")
        .groupBy("id").agg(min("comp").as("comp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (3) contract: relabel edges, drop collapsed (self-loop) edges —
      // the materialization count IS the loop-exit test (no separate count)
      val (g2, g2Ids, rem2) = checkpointedCounted(g.toDF("a", "b")
        .join(lab.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(lab.select(col("id").as("b"), col("comp").as("cb")), "b")
        .where(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("a"),
          greatest(col("ca"), col("cb")).as("b"))
        .distinct())
      // (4) compose the accumulated mapping with this round's
      val (labels2, labels2Ids) = checkpointed(labels
        .join(lab.select(col("id").as("comp"), col("comp").as("_next")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("_next"), col("comp")).as("comp")))
      // free the superseded round's pinned blocks
      release(g.toDF(), gIds); release(labels, labelIds); lab.unpersist(false)
      g = g2.as[(Long, Long)]; gIds = g2Ids
      labels = labels2; labelIds = labels2Ids
      remaining = rem2
      iter += 1
      if (verbose) println(s"[components] round $iter: $remaining edges remain")
    }
    release(g.toDF(), gIds) // the terminal edge frame
    // Exhausting maxIter with edges left means the labels are only
    // PARTIALLY merged — silently returning them would hand a dedup
    // pipeline wrong clusters (keeping/dropping the wrong docs) with no
    // signal. Converged runs take O(log #partitions) rounds, so hitting
    // the cap is a genuine anomaly, not a tuning nuisance.
    if (remaining > 0) {
      release(labels, labelIds)
      throw new IllegalStateException(
        s"connectedComponents: $remaining edges remain after $maxIter rounds — " +
          "labels would be partially merged; raise maxIter")
    }
    // The result itself is backed by pinned materialized blocks. Hand its
    // release to the session owner: drain runs after the query's action,
    // and a late read merely recomputes from shuffle files.
    val (finalLabels, finalIds) = (labels, labelIds)
    graft.core.CacheScope.onDrain(() => release(finalLabels, finalIds))
    finalLabels.toDF()
  }

  /** Incremental connected-components maintenance — absorb a batch of new
    * edges into a standing (id, comp) labeling WITHOUT re-closing the whole
    * graph. The cluster-scale posture for dedup-graph upkeep: closure over
    * the full corpus per ingest batch is the cost that kills daily
    * pipelines, and the incremental answer touches only the components the
    * batch actually reaches.
    *
    * Exactness: a standing component's label is its min member id — itself
    * a member — so one STAR EDGE (member, comp) per member of a touched
    * component preserves exactly that component's connectivity, and
    * re-running [[connectedComponents]] over (star edges ∪ new edges)
    * yields the same min-label the full recompute would: the min can only
    * come from member ids, all present. Untouched components pass through
    * by anti-join. Equality with the full recompute is the operator's spec
    * AND its oracle (q140).
    *
    * Cost: O(|new edges| + Σ members of touched components) — batch-sized
    * when batches touch few clusters, never corpus-sized; the touched-set
    * discovery is one semi-join of the standing table against the batch's
    * endpoint set. */
  def connectedComponentsIncremental(standing: DataFrame,
      newEdges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val st = graft.core.CacheScope.persist(
      standing.select(col("id").cast("long").as("id"),
        col("comp").cast("long").as("comp")))
    val e = newEdges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val endpoints = e.select(explode(array(col("a"), col("b"))).as("id"))
      .distinct()
    val touched = st.join(endpoints, Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    val members = st.join(touched, Seq("comp"), "left_semi")
    // star edges re-encode each touched component's connectivity exactly
    val stars = members.where(col("id") =!= col("comp"))
      .select(col("id").as("a"), col("comp").as("b"))
    val recomputed =
      connectedComponents(stars.unionByName(e), "a", "b")
    st.join(touched, Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
      .unionByName(recomputed)
  }

  /** Synchronous label-propagation community detection, exactly `rounds`
    * rounds: every node simultaneously adopts the most frequent label among
    * its neighbors (smallest label on count ties) — where components find
    * CONNECTIVITY, LP finds DENSITY (a bridge edge joins two components
    * into one CC but LP keeps the two dense sides apart). Fixed-round
    * synchronous updates are the deterministic form: the async variant's
    * result depends on visit order, and sync-LP oscillations on bipartite
    * structures are snapshotted identically by the oracle's unrolled
    * rounds.
    *
    * Scale shape per round: one join of the 2m-row adjacency to the n-row
    * label table (node-id hash exchange), a (node, label) count whose
    * partials collapse map-side, and a min-struct argmax per node — no
    * all-pairs, no per-node iteration, labels are the only state. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val canon = graft.core.CacheScope.persist(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    val adj = canon.select(col("a").as("v"), col("b").as("x"))
      .unionAll(canon.select(col("b").as("v"), col("a").as("x")))
    var labels = graft.core.CacheScope.persist(
      adj.select(col("v").as("id")).distinct()
        .withColumn("lbl", col("id")))
    for (_ <- 1 to rounds) {
      val next = graft.core.CacheScope.persist(adj
        .join(labels.select(col("id").as("x"), col("lbl")), "x")
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        // argmax count, min label on ties: min(struct(-c, lbl))
        .groupBy(col("v").as("id"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("best"))
        .select(col("id"), col("best.lbl").as("lbl")))
      labels = next
    }
    labels
  }

  /** Cluster representatives: one keeper per component (the min id), plus the
    * component size — the "which docs survive dedup" projection. */
  def keepers(components: DataFrame): DataFrame =
    components.groupBy("comp")
      .agg(min("id").as("keeper_id"), count(lit(1)).as("cluster_size"))

  /** Score-aware survivor selection: the production-pipeline refinement of
    * [[keepers]] — within each duplicate cluster keep the member with the
    * HIGHEST score (quality, length, recency…), ties → smallest id, instead
    * of blindly keeping the smallest id. Takes (id, comp) membership and a
    * per-id score table; returns (id, comp, score, is_keeper) with exactly
    * one keeper per component.
    *
    * Scale shape: one id-keyed equi join to attach scores, then a window
    * partitioned by component — parallel across clusters, and each window
    * group is cluster-sized, never corpus-sized, because near-dup
    * components are small by construction. (No WindowGroupLimit here: every
    * member keeps its verdict row, so there is no rank filter to push.) */
  def keepersByScore(membership: DataFrame, scores: DataFrame,
      idCol: String = "id", scoreCol: String = "score"): DataFrame = {
    val m = membership.join(
      scores.select(col(idCol).as("id"), col(scoreCol).as("score")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
      .orderBy(col("score").desc, col("id"))
    m.withColumn("is_keeper", row_number().over(w) === 1)
      .select(col("id"), col("comp"), col("score"), col("is_keeper"))
  }

  /** Leakage-free train/val/test split: hash-split at the DUPLICATE-CLUSTER
    * grain, not the document grain — both sides of every near-dup pair land
    * in the SAME split, so eval sets can't leak paraphrases of training
    * docs (the contamination mode a per-doc [[ScaleOps.splitByHash]]
    * cannot prevent). Takes the full corpus plus a near-dup edge list
    * (e.g. [[Dedup.simhashPairs]]); documents outside any pair are their
    * own singleton cluster. Returns (id, component, split).
    *
    * Scale shape: [[connectedComponents]] bounds the graph work by the
    * EDGE set (near-dup pairs, corpus-sparse); the membership map joins
    * back id-keyed (only docs that appear in a pair), and the split label
    * is the same narrow codegen'd CASE chain as splitByHash — no
    * corpus-sized shuffle beyond the one id-keyed join. */
  def componentSplit(all: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String,
      permilles: Seq[(String, Int)]): DataFrame = {
    val comp = connectedComponents(edges, srcCol, dstCol)
    val labeled = all.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol).cast("long")).as("component"))
    graft.operators.ScaleOps.splitByHash(labeled, "component", "split",
      permilles)
  }

  /** Fixed-iteration PageRank over a directed edge list — graph-centrality
    * weighting for corpus curation (link-graph importance is a standard
    * quality signal for web-crawl training data; over a near-dup similarity
    * graph it surfaces the most-connected exemplars of each cluster).
    *
    * rank_i(v) = (1-d)/N + d * Σ_{u→v} rank_{i-1}(u) / outdeg(u), run for
    * exactly `iters` rounds from the uniform 1/N start — a deterministic
    * linear computation (same fixed point path every run/engine, so a SQL
    * oracle can value-check it), unlike converge-to-epsilon formulations.
    *
    * Scale shape: edges are hash-partitioned on src ONCE (explicit count —
    * exempt from AQE coalescing) and cached, so every round's contribution
    * join moves only the (long, double) rank table, never the edge list —
    * pay the big shuffle once across all rounds. Per round that leaves one
    * rank-table exchange + one groupBy(dst) sum with map-side partial
    * aggregation; degrees reuse the edge partitioning (zero-exchange
    * aggregate), and the node-set join is id-partitioned on both sides.
    * The rank chain itself is linear (each round consumed exactly once), so
    * it needs no materialization. For undirected graphs pass both edge
    * directions; callers feeding digraphs with sinks should note dangling
    * mass is dropped (ranks then sum below 1 — the usual simplification). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters >= 1")
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val e = graft.core.CacheScope.persist(edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .repartition(parts, col("src")))
    val deg = graft.core.CacheScope.persist(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    val nodes = graft.core.CacheScope.persist(
      e.select(col("src").as("id")).union(e.select(col("dst"))).distinct())
    // n is a scalar the loop bakes into literals (one action on the cached
    // node set — not a data collect); the arithmetic mirrors the oracle's
    // double steps exactly: 1 - damping in double, then divide by n
    val n = nodes.count()
    val teleport = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contribs = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outdeg")).as("in_sum"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + lit(damping) * coalesce(col("in_sum"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected edge list — the dup-graph / co-occurrence-graph quality
    * gauge: a near-dup edge set whose triangle density suddenly jumps is
    * collapsing into mega-clusters (boilerplate storm); a co-purchase
    * graph's closed-wedge ratio is the basket-affinity signal.
    *
    * Algorithm: the degree-ordered node-iterator. Edges canonicalize
    * (a<b, dedup, self-loops dropped), then each edge ORIENTS from its
    * lower-(degree, id) endpoint to the higher — every node's out-degree
    * is then O(√m) regardless of raw skew (a hub of degree d keeps only
    * neighbors of degree ≥ d), so the wedge self-join is Σ outdeg² ≤
    * m^1.5 instead of Σ deg² (quadratic in the hub degree). Wedges close
    * against the oriented edge set with one more equi-join. Three
    * shuffles total (degree agg, wedge join, closing join); every
    * triangle is counted exactly once because orientation is acyclic.
    * Returns one row: (n_edges, n_wedges, n_triangles,
    * closure_micro = ⌊3·triangles·1e6 / open-wedge-count + 0.5⌋ over
    * UNDIRECTED wedges Σ C(deg,2), the standard global clustering
    * coefficient, NULL when wedge-free). */
  /** k-core membership by synchronous peeling: repeatedly drop nodes whose
    * degree in the surviving subgraph is below `k` (and their edges) until
    * fixpoint or `rounds` peels, then return the surviving `(id, deg)` rows
    * with `deg` computed over the final edge set. The k-core is the
    * standard density gauge for dup/co-occurrence graphs: a near-dup edge
    * set whose 3-core suddenly swells is collapsing into template storms,
    * and "docs in a dense core" is itself a curation signal (boilerplate
    * families survive peeling; one-off pairs do not).
    *
    * Defined semantics are exactly `rounds` peel iterations — NOT
    * "converge, whatever it takes" — so an unrolled SQL twin is
    * value-identical at every scale. The early exit below is a pure
    * optimization: survivor sets shrink monotonically (edges only leave,
    * degrees only fall), so an unchanged survivor COUNT means an unchanged
    * SET, and every further peel is a no-op; stopping early returns the
    * same frame the full `rounds` unrolling would.
    *
    * Scale shape per round: one degree aggregate (node-id exchange over
    * surviving edges) + two semi-joins of edges against the survivor set —
    * all hash exchanges on node id, no all-pairs anywhere, O(m) bytes per
    * round with m shrinking monotonically. Each round's edge set is
    * materialized through [[checkpointed]] and the superseded round
    * released, same as the components loop: an 8-round lineage otherwise
    * replans the whole history every iteration. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int = 6): DataFrame = {
    require(k >= 1, "k >= 1")
    require(rounds >= 1, "rounds >= 1")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    var (e, ids, m) = checkpointedCounted(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val keep = degrees(e).where(col("deg") >= k).select("id")
      // Convergence is tested on the EDGE count that the round's
      // materialization already produces (edges leave monotonically, so an
      // unchanged count means an unchanged set and a fixpoint) — one action
      // per round instead of the former separate keep.count() job + peel
      // job, halving the loop's fixed scheduling floor without touching the
      // distributed shape.
      val (e2, ids2, m2) = checkpointedCounted(
        e.join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
      if (m2 == m) { converged = true; release(e2, ids2) }
      else { release(e, ids); e = e2; ids = ids2; m = m2 }
      round += 1
    }
    // Final degree filter over the last peeled edge set (≥ k already holds
    // at fixpoint; the filter matters only when `rounds` capped the peel).
    // The result is backed by the loop's pinned blocks — hand their release
    // to the session owner, same as connectedComponents: drain runs after
    // the query's action, and a late read recomputes from shuffle files.
    val (finalE, finalIds) = (e, ids)
    graft.core.CacheScope.onDrain(() => release(finalE, finalIds))
    degrees(finalE).where(col("deg") >= k)
  }

  /** Common-neighbor link prediction: for every non-adjacent node pair
    * (u < v) sharing at least one neighbor, the number of shared neighbors
    * plus both true degrees — the classic "people you may know" /
    * missing-edge score (cn, and Jaccard = cn/(deg_u+deg_v-cn) derivable
    * from the integer outputs). Top `topK` pairs by (cn desc, u, v).
    *
    * Scale shape: candidates come from a wedge join on the CENTER node —
    * each center z of degree d contributes C(d, 2) pairs, so hub centers
    * are quadratic. `maxCenterDegree` culls them deterministically: centers
    * with deg > cap generate no candidates (their wedge contribution is
    * dropped, a documented bounded under-count on hub-heavy graphs; exact
    * whenever no node exceeds the cap — mirror of the near-dup paths'
    * maxBucketSize). Degrees reported are TRUE degrees, cull-independent.
    * Everything else is node-id hash exchanges; the adjacency never
    * replicates beyond the 2m directed rows. */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
      topK: Int = 50, maxCenterDegree: Int = 1024): DataFrame = {
    require(topK >= 1 && maxCenterDegree >= 2, "topK >= 1, cap >= 2")
    val canon = graft.core.CacheScope.persist(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    val adj = canon.select(col("a").as("z"), col("b").as("x"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("x")))
    val deg = graft.core.CacheScope.persist(
      adj.groupBy(col("z").as("id")).agg(count(lit(1)).as("deg")))
    // wedge join on low-degree centers only
    val okCenters = deg.where(col("deg") <= maxCenterDegree)
      .select(col("id").as("z"))
    val culled = adj.join(okCenters, Seq("z"), "left_semi")
    val cand = culled.as("i").join(culled.as("j"),
        col("i.z") === col("j.z") && col("i.x") < col("j.x"))
      .groupBy(col("i.x").as("u"), col("j.x").as("v"))
      .agg(count(lit(1)).as("cn"))
    // candidate (u, v) with u < v is already canonical → direct anti-join
    val open = cand.join(
      canon.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"),
      "left_anti")
    open
      .join(deg.select(col("id").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("deg_v")), "v")
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(topK)
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("cn").desc, col("u"), col("v"))).cast("long")
          .as("rnk"))
  }

  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = graft.core.CacheScope.persist(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id); (deg, id) is a total order
    val oriented = graft.core.CacheScope.persist(canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("v")))
    // wedges at u: unordered out-neighbor pairs (v < w); close on (v, w)
    val l = oriented.select(col("u"), col("v"))
    val r = oriented.select(col("u"), col("v").as("w"))
    val wedges = l.join(r, "u").where(col("v") < col("w"))
    // the closing edge of an id-ordered wedge (v < w) is exactly a
    // canonical (a, b) row — no re-canonicalization of `oriented` needed
    val closing = canon.select(col("a").as("v"), col("b").as("w"))
    val nTri = wedges.join(closing, Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val openWedges = deg.agg( // undirected wedge count Σ C(deg, 2)
      coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0.0))
        .cast("long").as("n_wedges"), // coalesce: edgeless graph → 0, not NULL
      coalesce(sum(col("deg")) / 2, lit(0.0)).cast("long").as("n_edges"))
    openWedges.crossJoin(nTri) // two 1-row frames
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          floor(col("n_triangles") * lit(3000000.0) / col("n_wedges") + 0.5)
            .cast("long")).as("closure_micro"))
  }
}
