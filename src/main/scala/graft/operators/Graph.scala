package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge tables — the iterative-join family that
  * complements [[Dedup.connectedComponents]] (Pregel-style rounds as
  * join+agg, lineage truncated per round).
  *
  * PageRank here is FIXED-POINT: ranks live in integer pico-probability
  * units (10¹²·p) and every per-edge contribution is an integer
  * division. That makes each round an exact integer computation —
  * partition-order independent, bit-identical across runs and engines —
  * where a double formulation would drift by summation order and make
  * the result unverifiable. The systematic truncation error is bounded
  * by outdeg·10⁻¹² per node per round — noise at any practical scale,
  * and a price worth paying for a reproducible rank.
  */
object Graph {

  val Prec: Long = 1000000000000L // pico-probability fixed point

  /** Per-round lineage truncation for the iterative ops. `None` (the
    * test/default mode) uses `localCheckpoint` — executor-memory blocks,
    * fast, but an executor loss mid-iteration kills the job. Passing a
    * `checkpointDir` switches every round to RELIABLE `checkpoint()`
    * into that directory (HDFS/S3 on a real cluster) — the production
    * mode for long iterative jobs, where losing one of 1000 executors
    * must cost a task retry, not the whole computation. Results are
    * identical either way (both truncate lineage, neither changes data);
    * GraphCheckpointSpec pins that.
    */
  private def persistRound(df: DataFrame,
                           checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** Lazy twin of [[persistRound]]: marks the round table for the same
    * checkpoint (reliable or local) but lets the CALLER's next action
    * materialize it. For loops whose convergence witness is itself an
    * action (a count / checksum over the new round), the eager form
    * runs TWO jobs per round — materialize, then measure — over the
    * same data; marking lazily fuses them into one. Results are
    * identical: the checkpoint persists at first computation, lineage
    * is truncated at the same point, and every consumer after the
    * witness action reads the same persisted blocks.
    */
  private[operators] def persistRoundLazy(
      df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }

  /** Round persistence for FIXED-ITERATION loops (no convergence action
    * inside the loop). Local mode marks lazily: the loop builds a chain
    * of plan-truncated, cached-on-compute rounds and the CALLER's one
    * terminal action runs them all — N scheduling barriers (one eager
    * materialization per round) become zero, with identical results
    * (each round's blocks persist exactly as the eager form's would,
    * the moment the chain computes them). Reliable-checkpoint mode
    * stays EAGER: per-round durability is that mode's entire point, and
    * `RDD.doCheckpoint` only checkpoints the topmost marked RDD of a
    * lazy chain — chained-lazy reliable rounds would silently lose the
    * executor-loss guarantee g01c exists to price.
    */
  private def persistRoundChained(
      df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(_) => persistRound(df, checkpointDir)
      case None => df.localCheckpoint(eager = false)
    }

  /** PageRank with damping 0.85 over a directed edge list, `iters`
    * synchronous rounds from a uniform start. Nodes = src ∪ dst;
    * callers wanting undirected semantics pass both edge directions.
    *
    * Per round: ONE join (rank → out-edges) + ONE aggregation keyed by
    * the destination — the minimal Pregel shape; the rank table (|V|
    * rows, two longs) is `localCheckpoint`ed each round so the plan
    * doesn't grow with iteration count. Nodes without in-edges keep the
    * teleport mass; dangling nodes' mass is dropped (the classic
    * simplification — document, don't redistribute, so the oracle stays
    * a pure per-edge computation).
    *
    * At 100 TB (billions of edges): the edge table shuffles ONCE per
    * round on the join key, the rank side is |V| rows (broadcastable for
    * dimension-sized graphs, hash-join otherwise), and the aggregation
    * is map-side combining on the destination — no all-pairs step
    * anywhere.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, s"pageRank: negative iters $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // fold the out-degree INTO the edge table once (src, dst, d) — each
    // round is then ONE join + ONE aggregation instead of two joins
    // (the same shuffle-per-round cut as connectedComponents' self-loop
    // fold); checkpointed so no round recomputes the upstream distinct
    // ed chained-lazy (local): nodes.count() below is the loop's one
    // action — it computes nodes AND caches ed (its ancestor) in the
    // same job, where two eager checkpoints ran two
    val ed = persistRoundChained(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("d")), "src"),
      checkpointDir)
    val nodes = persistRoundLazy(
      ed.select(col("src").as("node")).union(ed.select(col("dst")))
        .distinct(),
      checkpointDir)
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val teleport = (15L * (Prec / n)) / 100L
    var pr = nodes.withColumn("pr", lit(Prec / n))
    for (_ <- 0 until iters) {
      val contrib = ed.join(pr, col("src") === col("node")).drop("node")
        .select(col("dst").as("node"), expr("pr DIV d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      pr = persistRoundChained(
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(teleport) +
              expr("85 * coalesce(s, 0L) DIV 100")).as("pr")),
        checkpointDir)
    }
    pr.select(col("node"), col("pr").as("pr_pico"))
  }

  /** Personalized PageRank: the [[pageRank]] iterate with teleport mass
    * restricted to a SEED set — random walks restart at the seeds, so
    * rank measures proximity/relevance TO the seeds (the
    * recommendation / related-items / expansion primitive) instead of
    * global centrality. Same fixed-point integer regime: seeds start
    * with `Prec / |S|`, non-seeds with 0; each round adds the seed-only
    * teleport and 85% of in-neighbor mass, all exact integer ops.
    *
    * Scale: identical per-round shape to [[pageRank]] (one edge-keyed
    * join + one map-side-combining agg + a flat localCheckpoint'ed rank
    * table); the seed set rides as a broadcast-joined flag column.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 3,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, s"personalizedPageRank: negative iters $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val ed = persistRoundChained(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("d")), "src"),
      checkpointDir)
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst"))).distinct()
    val seedSet = seeds.select(col(seedCol).cast("long").as("node"))
      .filter(col("node").isNotNull).distinct()
    // seeds outside the graph's node set carry no mass — drop them so
    // |S| matches the mass actually injected
    val flagged0 = nodes.join(broadcast(seedSet.withColumn("is_seed", lit(true))),
                             Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    // lazy: the seed count right below materializes flagged2 (and ed,
    // its chained ancestor) in one job
    val flagged2 = persistRoundLazy(flagged0, checkpointDir)
    val nSeeds = flagged2.filter(col("is_seed")).count()
    require(nSeeds > 0, "personalizedPageRank: no seed is a graph node")
    val teleport = (15L * (Prec / nSeeds)) / 100L
    val seedMass = when(col("is_seed"), lit(Prec / nSeeds)).otherwise(lit(0L))
    val seedTeleport = when(col("is_seed"), lit(teleport)).otherwise(lit(0L))
    var pr = flagged2.select(col("node"), col("is_seed"), seedMass.as("pr"))
    for (_ <- 0 until iters) {
      val contrib = ed.join(pr, col("src") === col("node")).drop("node")
        .select(col("dst").as("node"), expr("pr DIV d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      pr = persistRoundChained(
        flagged2.join(contrib, Seq("node"), "left")
          .select(col("node"), col("is_seed"),
            (seedTeleport + expr("85 * coalesce(s, 0L) DIV 100")).as("pr")),
        checkpointDir)
    }
    pr.select(col("node"), col("pr").as("ppr_pico"))
  }

  /** Multi-source BFS: minimum hop distance from any node in `sources`,
    * over a directed edge list, up to `maxHops` rounds. Output:
    * (node, hops) for every node reached within the horizon — the
    * reachability / blast-radius primitive (which suppliers are within
    * 3 hops of a recalled part, which docs cite a retracted source).
    *
    * Level-synchronous frontier expansion: round h joins ONLY the
    * frontier (nodes first settled at h−1) against the edge table, then
    * a min-hops aggregation folds new candidates into the distance
    * table. With min-hops semantics a node's first settlement is final,
    * so the frontier is exact — no node is ever expanded twice.
    *
    * Scale: per round ONE equi-join (frontier ⋈ edges on src) + ONE
    * map-side-combining min aggregation; the frontier is typically a
    * small fraction of |V| (broadcastable in early rounds), the edge
    * table shuffles on src once per round, and the distance table
    * (|V| rows max, two longs) is `localCheckpoint`ed so the plan stays
    * flat across rounds — the same Pregel shape as [[pageRank]].
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, sourceCol: String,
              maxHops: Int,
              checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"bfsHops: negative maxHops $maxHops")
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val ec = persistRoundChained(e, checkpointDir)
    var dist = persistRoundChained(
      sources.select(col(sourceCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct()
        .withColumn("hops", lit(0L)),
      checkpointDir)
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1).toLong)
      val next = frontier.join(ec, col("node") === col("src"))
        .select(col("dst").as("node"), lit(h.toLong).as("hops"))
      dist = persistRoundChained(
        dist.union(next)
          .groupBy(col("node")).agg(min(col("hops")).as("hops")),
        checkpointDir)
    }
    dist
  }

  /** Per-node triangle participation over an undirected graph — the
    * clustering-coefficient / community-density primitive. Input edges
    * are normalized to (a < b) and deduplicated; each triangle
    * {a < b < c} is enumerated exactly once by the two-join wedge-close
    * pattern (e(a,b) ⋈ e(b,c) ⋈ e(a,c)), then credited to all three
    * corners. Output: (node, n_triangles), nodes in ≥1 triangle only.
    *
    * Scale: both joins are equi-joins on a single node key — never
    * all-pairs. Id-ordering bounds the wedge count by Σ deg_out² under
    * the id orientation; at 100 TB with heavy hubs, orient edges by
    * DEGREE instead (low-degree → high-degree endpoint first), which
    * caps out-degree at O(√|E|) and makes the wedge stage near-linear
    * (Schank & Wagner 2005) — a two-line change to the `norm` select
    * (join in the degree table and order by (deg, id)); the output is
    * identical, only intermediate sizes change.
    */
  /** k-core decomposition by iterative peeling: repeatedly delete every
    * node of degree < k (and its edges) from the undirected simple graph
    * until a fixed point; return the surviving nodes with their degree
    * WITHIN the core. The standard cohesion filter — a node is in the
    * k-core iff it has ≥ k neighbors that are themselves in the k-core.
    *
    * Convergence witness: the edge count is strictly decreasing until
    * the fixed point (removing a node removes its incident edges), so
    * "edge count unchanged" is an exact termination test — degrees, and
    * therefore the survivor set, are functions of the edge set. Loud
    * failure on non-convergence within `maxIter`, like
    * [[Dedup.connectedComponents]].
    *
    * Scale: each round is one degree aggregation plus two semi-joins
    * keyed on a node id — never all-pairs; the adjacency is
    * `localCheckpoint`ed per round so the plan does not grow with
    * iteration count. Rounds are bounded by the peeling depth (tiny for
    * real graphs: each round must delete ≥ 1 node to continue).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 30,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"kCore: k $k < 1")
    val sym = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .union(edges.select(col(dstCol).cast("long").as("u"),
                          col(srcCol).cast("long").as("v")))
      .filter(col("u").isNotNull && col("v").isNotNull &&
              col("u") =!= col("v"))
      .distinct()
    // lazy marks + count-as-materializer: the convergence count IS the
    // action that computes (and persists) each round — 1 job per round
    // where the eager form ran 3 (survivors ckpt, next ckpt, count).
    // survivors feeds next's plan twice (two semi-joins) but is ONE
    // checkpointed RDD, so the job computes it once and reuses blocks.
    var adj = persistRoundLazy(sym, checkpointDir)
    var nEdges = adj.count()
    var converged = nEdges == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // chained-lazy (local) / eager (reliable): survivors feeds next's
      // plan twice — as ONE cached RDD both semi-joins share; a lazy
      // non-topmost RELIABLE mark would never checkpoint and compute
      // twice instead.
      val survivors = persistRoundChained(
        adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("u")),
        checkpointDir)
      val next = persistRoundLazy(
        adj.join(survivors, Seq("u"), "left_semi")
          .join(survivors.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")),
        checkpointDir)
      val m = next.count()
      converged = m == nEdges
      adj = next
      nEdges = m
      iter += 1
    }
    require(converged,
      s"kCore: no fixed point after $maxIter rounds ($nEdges edges left) " +
      "— raise maxIter")
    adj.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("node"), col("core_deg"))
  }

  def triangleParticipation(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // scanned three times below — compute once
    val tri = norm
      .join(norm.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(norm.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * 2003): score every NON-adjacent node pair that shares at least one
    * neighbor by its common-neighbor count and Jaccard coefficient
    * |Γ(u)∩Γ(w)| / |Γ(u)∪Γ(w)| — the recommender / missing-edge
    * primitive ("parts bought with both of these", "users two hops
    * apart"). Input edges are treated as undirected and deduplicated.
    * Output: (u, w, cn, deg_u, deg_w, jaccard_ppm) with u < w, existing
    * edges excluded, Jaccard as exact integer ppm
    * (cn·10⁶ DIV (deg_u + deg_w − cn)) so no float ever touches a score.
    *
    * Scale: candidates come from ONE wedge self-join on the shared
    * middle node — the [[triangleParticipation]] pattern, never
    * all-pairs; the u < w orientation halves the wedge stream, and the
    * existing-edge exclusion is a shuffled anti-join on the (u, w) key.
    * Degrees attach by two equi-joins on a node key. At 100 TB with
    * heavy hubs, cap the middle node's degree first (a hub's wedge
    * fan-out is deg², and its common-neighbor evidence is the least
    * informative — standard practice, same knob as
    * [[Entity.sortedNeighborPairsScalable]]'s).
    */
  def linkPredictionJaccard(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // scanned four times below — compute once
    val sym = norm.union(norm.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    // wedge u —v— w with u < w: each shared neighbor v contributes one
    // distinct (u, v, w) row, so the count per (u, w) IS |Γ(u)∩Γ(w)|
    val cn = sym.select(col("a").as("u"), col("b").as("v"))
      .join(sym.select(col("a").as("v"), col("b").as("w")), Seq("v"))
      .filter(col("u") < col("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
    cn.join(norm.select(col("a").as("u"), col("b").as("w")),
            Seq("u", "w"), "left_anti")
      .join(deg.select(col("a").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("a").as("w"), col("deg").as("deg_w")), Seq("w"))
      .select(col("u"), col("w"), col("cn"), col("deg_u"), col("deg_w"),
        expr("cn * 1000000 DIV (deg_u + deg_w - cn)").as("jaccard_ppm"))
  }

  /** Eigenvector centrality by FIXED-POINT power iteration on the
    * adjacency matrix (Bonacich 1972): start all nodes at 10⁶, each
    * round every node accumulates its in-neighbors' scores (w = Aᵀv)
    * and the vector renormalizes to ~10⁶ by truncating division
    * (divisor = max(w) DIV 10⁶ + 1) — the same exact-integer scheme as
    * [[LinAlg.topEigenvectorFixedPoint]], but DISTRIBUTED: the
    * adjacency never leaves the cluster, each round is ONE join + ONE
    * destination-keyed aggregation (the pageRank shape, minus damping
    * and degree division). All values stay positive (Perron-Frobenius
    * direction), so truncation semantics never meet a sign. Callers
    * wanting undirected semantics pass both edge directions; every
    * node is then its own in-neighborhood's member, so no score
    * strands at zero.
    *
    * The iteration actually runs on A+I (a self-loop folded into the
    * edge table): on BIPARTITE graphs — and star queries are bipartite —
    * ±λ are both extremal, so plain A·v oscillates between phases
    * forever; the +I shift moves the spectrum to λ+1 and restores
    * convergence to the Perron direction without changing the
    * eigenvectors. Same remedy as the classic lazy random walk.
    *
    * Bit-reproducible: integer sums + truncating renorm make `iters`
    * rounds replayable by an unrolled-CTE oracle, like [[pageRank]].
    */
  def eigenCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int = 8,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"eigenCentrality: iters must be >= 1, got $iters")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
                          col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val nodes0 = e0.select(col("src").as("node"))
      .union(e0.select(col("dst"))).distinct()
    val e = e0
      .union(nodes0.select(col("node").as("src"), col("node").as("dst")))
      .distinct()
    val ed = persistRoundChained(e, checkpointDir)
    val nodes = persistRoundChained(nodes0, checkpointDir)
    var v = nodes.withColumn("v", lit(1000000L))
    for (_ <- 1 to iters) {
      // w feeds BOTH the renorm max and the rescale — truncate it once
      // or each round computes the join+agg twice. Chained-lazy in
      // local mode: the broadcast build for `m` is the first compute
      // over w and persists its blocks; the rescale reads the same
      // blocks — one job per round fewer than an eager w checkpoint.
      // Reliable mode stays eager (a lazy non-topmost reliable mark is
      // never checkpointed and w would compute twice per round).
      val w = persistRoundChained(
        ed.join(v, col("dst") === col("node")).drop("node")
          .groupBy(col("src")).agg(sum(col("v")).as("w")),
        checkpointDir)
      val m = w.agg(greatest(max(col("w")), lit(1L)).as("m"))
      v = persistRoundChained(
        w.crossJoin(broadcast(m))
          .select(col("src").as("node"),
                  expr("w DIV (m DIV 1000000 + 1)").as("v")),
        checkpointDir)
    }
    v
  }

  /** Weighted link-prediction scores on the [[linkPredictionJaccard]]
    * candidate set: Adamic-Adar (Adamic & Adar 2003) and Resource
    * Allocation (Zhou, Lü & Zhang 2009) — the two standard refinements
    * that down-weight HUB middle nodes (a shared neighbor with degree
    * 10⁶ is weak evidence; one with degree 3 is strong):
    *
    *   AA(u,w) = Σ_{v ∈ Γ(u)∩Γ(w)} 1/ln(deg v)
    *   RA(u,w) = Σ_{v ∈ Γ(u)∩Γ(w)} 1/deg v
    *
    * Per-wedge weights are fixed to integer micro-units BEFORE the sum
    * (RA = 10⁶ DIV deg, pure integer; AA = round(10⁶/ln deg), the
    * t36/t65 micro-rounding convention) so the aggregation is an exact
    * integer sum — partial-aggregation order can never move a score,
    * which a raw double Σ would break (the q134 lesson). A wedge middle
    * always has deg ≥ 2 (it neighbors both u and w), so ln(deg) > 0.
    *
    * Scale: identical shape to [[linkPredictionJaccard]] — the degree
    * attaches to the middle-node side BEFORE the wedge join (one extra
    * equi-join on the node key), candidates never go all-pairs, and the
    * same hub-degree-cap knob applies at 100 TB.
    */
  def linkPredictionScores(edges: DataFrame, srcCol: String,
                           dstCol: String): DataFrame = {
    val norm = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // scanned three times below — compute once
    val sym = norm.union(norm.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val mid = sym.select(col("a").as("v"), col("b").as("w"))
      .join(deg.select(col("a").as("v"), col("deg")), Seq("v"))
      .withColumn("ra_w", expr("1000000 DIV deg"))
      .withColumn("aa_w",
        round(lit(1000000.0) / log(col("deg").cast("double")), 0)
          .cast("long"))
    sym.select(col("a").as("u"), col("b").as("v"))
      .join(mid, Seq("v"))
      .filter(col("u") < col("w"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn"), sum(col("aa_w")).as("aa_micro"),
           sum(col("ra_w")).as("ra_micro"))
      .join(norm.select(col("a").as("u"), col("b").as("w")),
            Seq("u", "w"), "left_anti")
  }

  /** Bellman-Ford with a bounded edge count: after round h, `dist` is
    * the exact minimum-cost path using ≤ h edges — so `maxEdges` rounds
    * give the standard "shortest path within k hops" answer, a
    * well-defined result even on graphs whose full shortest paths would
    * need more rounds. Every round relaxes ALL current distances (the
    * textbook form, and exactly what the unrolled oracle computes), not
    * just a frontier: with weighted edges a node's distance can improve
    * after its first settlement, so BFS's settled-is-final shortcut
    * would be wrong here.
    *
    * Parallel edges collapse to their minimum weight first — fewer
    * candidate rows per round and a deterministic edge table.
    *
    * Scale: per round ONE equi-join (dist ⋈ edges on src, shuffle
    * bounded by |E|) + ONE map-side-combining min agg; dist (≤|V| rows,
    * two longs) is localCheckpoint'ed so the plan stays flat across
    * rounds — the Pregel shape of [[bfsHops]]/[[pageRank]]. Rounds are
    * O(maxEdges), chosen by the caller, not data-dependent.
    */
  def boundedShortestPaths(edges: DataFrame, srcCol: String,
                           dstCol: String, weightCol: String,
                           sources: DataFrame, sourceCol: String,
                           maxEdges: Int,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(maxEdges >= 0, s"boundedShortestPaths: negative maxEdges $maxEdges")
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"),
                         col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
              col("w").isNotNull)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    val ec = persistRoundChained(e, checkpointDir)
    var dist = persistRoundChained(
      sources.select(col(sourceCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct()
        .withColumn("dist", lit(0L)),
      checkpointDir)
    for (_ <- 1 to maxEdges) {
      val cand = dist.join(ec, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = persistRoundChained(
        dist.union(cand)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")),
        checkpointDir)
    }
    dist
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007), run for a FIXED number of rounds: every node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken by the smallest label. Fixed rounds — not
    * run-to-convergence — because synchronous LPA can oscillate between
    * two labelings forever on bipartite-ish structure; a bounded,
    * deterministic round count makes the result exactly reproducible
    * (and exactly oracle-unrollable), which matters more for a curation
    * pipeline than squeezing out the last merge.
    *
    * Determinism: the (count, label) preference is encoded as ONE
    * integer score `cnt * 10^8 + (10^8 - 1 - label)` so the arg-max is a
    * plain MAX — no engine-specific struct ordering or arg_min tie
    * rules. Requires node ids < 10^8; checked loudly.
    *
    * Scale: each round is one (neighbor-join + count + max) pass —
    * shuffles keyed on node id, never all-pairs; adjacency is checkpointed
    * once, labels are checkpointed per round so the plan stays flat.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds $rounds < 1")
    val sym0 = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .union(edges.select(col(dstCol).cast("long").as("u"),
                          col(srcCol).cast("long").as("v")))
      .filter(col("u").isNotNull && col("v").isNotNull &&
              col("u") =!= col("v"))
      .distinct()
    // lazy: the id-range guard probe right below materializes symc
    val symc = persistRoundLazy(sym0, checkpointDir)
    require(symc.filter(col("u") >= 100000000L).isEmpty,
      "labelPropagation: node ids must be < 1e8 for the integer tie-break")
    var labels = persistRoundChained(
      symc.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node")),
      checkpointDir)
    for (_ <- 1 to rounds) {
      labels = persistRoundChained(
        symc
          .join(labels.withColumnRenamed("node", "v"), Seq("v"))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(max(col("c") * 100000000L + (lit(99999999L) - col("lbl")))
            .as("score"))
          .select(col("u").as("node"),
                  (lit(99999999L) - col("score") % 100000000L).as("lbl")),
        checkpointDir)
    }
    labels
  }

  /** HITS hubs & authorities (Kleinberg 1999) in the same fixed-point
    * integer regime as [[pageRank]]: scores live in pico units and each
    * round renormalizes the max to `Prec` by integer division, so every
    * round is exact integer arithmetic — bit-reproducible and
    * oracle-replayable round by round. Per round: authority = sum of
    * in-neighbor hubs, normalize; hub = sum of out-neighbor authorities,
    * normalize — two edge-keyed joins + two map-side-combining aggs +
    * two 1-row global maxes (broadcast), rank tables localCheckpoint'ed.
    *
    * Normalization is `x DIV (max DIV Prec)` (max ≥ Prec always holds:
    * scores start at Prec and sums only grow), keeping every
    * intermediate within Long for in-degrees up to ~9e6 — beyond that,
    * run the same loop in micro units. Nodes with no in-edges keep
    * authority 0 after round 1 (likewise hubs without out-edges) — the
    * classic iterate's fixed points, not an error.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"hits: iters $iters < 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val ec = persistRoundChained(e, checkpointDir)
    val nodes = persistRoundChained(
      ec.select(col("src").as("node")).union(ec.select(col("dst")))
        .distinct(),
      checkpointDir)
    var hub = nodes.withColumn("h", lit(Prec))
    var auth = nodes.withColumn("a", lit(Prec))
    for (_ <- 0 until iters) {
      val aRaw = nodes.join(
          ec.join(hub, col("src") === col("node")).drop("node")
            .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("a"))
      auth = persistRoundChained(normalizeMax(aRaw, "a"), checkpointDir)
      val hRaw = nodes.join(
          ec.join(auth, col("dst") === col("node")).drop("node")
            .groupBy(col("src").as("node")).agg(sum(col("a")).as("s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("h"))
      hub = persistRoundChained(normalizeMax(hRaw, "h"), checkpointDir)
    }
    auth.join(hub, Seq("node"))
      .select(col("node"), col("a").as("auth_pico"), col("h").as("hub_pico"))
  }

  /** Rescale an integer score column so its max is `Prec`, by integer
    * division — exact, deterministic, broadcast 1-row max. */
  private def normalizeMax(df: DataFrame, c: String): DataFrame =
    df.crossJoin(broadcast(df.agg(max(col(c)).as("mx"))))
      .select(col("node"),
        when(col("mx") <= 0L, lit(0L))
          // 0 < mx < Prec would make `mx DIV Prec` zero and the division
          // below blow up deep inside a plan; the invariant (scores start
          // at Prec and sums only grow) holds for every current caller,
          // but a future one breaking it must fail LOUDLY, not with a
          // nonsense rank
          .when(col("mx") < Prec, raise_error(lit(
            s"normalizeMax: max score below Prec=$Prec — " +
            "caller broke the scores-start-at-Prec invariant"))
            .cast("long"))
          .otherwise(expr(s"$c DIV (mx DIV $Prec)")).as(c))
}
