package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Connected components over an undirected edge list, as iterative min-label
  * propagation with pointer chasing — the operator that turns near-dup PAIRS
  * (q33/q34/q37) into dedup CLUSTERS: training pipelines drop whole clusters
  * (keep one canonical doc per component), not individual pairs.
  *
  * Algorithm: every node starts labeled with `min(id, min neighbor id)`
  * (round-1 propagation fused into initialization); each round
  *   1. propagation — label(u) := min(label(u), min over neighbors v of
  *      label(v)) via one union + min-aggregate (the previous label rides
  *      the SAME aggregate as a second column, so convergence detection
  *      costs no extra join), and
  *   2. pointer chase — label(u) := label^k(u), `chaseSteps` lazy
  *      self-lookups of the propagated table (labels are node ids, so it
  *      doubles as the lookup; multi-step path compression is what keeps
  *      the round count low on chain-shaped components).
  * Labels are monotonically non-increasing and bounded below by the
  * component minimum, so the fixpoint (no label changed in a full round) is
  * exactly label(u) = min id reachable from u. Equivalently: the round that
  * changes nothing is the round where every edge is label-consistent.
  *
  * Scale shape: everything is equi-joins and min-aggregates on the node-id
  * key — no cartesians, no driver-side graph. Each round shuffles
  * O(|V| + |E|) rows of small fixed-width longs, and costs exactly TWO
  * blocking driver actions: the propagation materialization and the chased
  * materialization (whose job also computes the changed-row count — the
  * convergence check rides the same action instead of a separate scan).
  *
  * Iterative-loop materialization is SUBTLE in Spark, and both naive forms
  * fail at round ~7 (measured):
  *   - `localCheckpoint` alone truncates the plan but CARRIES the old
  *     plan's `sizeInBytes` into the new leaf; join estimation multiplies
  *     child sizes, so iterated checkpoints compound the estimate ~5x per
  *     round until Catalyst spends minutes in BigInteger.multiply inside
  *     stats estimation (rounds 0-5 ~1 s, round 7 15 s, round 8 77 s);
  *   - `persist` alone reports real cached sizes but does NOT truncate the
  *     analyzed plan, which grows ~6x per round (the chase references the
  *     round table several times) until plan analysis/rendering OOMs the
  *     driver.
  * `shims.snap` does both halves right: checkpoint to truncate lineage,
  * then rewrap the materialized RDD in a fresh leaf carrying its MEASURED
  * storage size (shims.realStats) — constant plan size, constant planning
  * cost per round, and truthful join-side estimates at every scale. On a
  * real cluster set `spark.graft.snap.reliable=true` to swap every
  * materialization to reliable `checkpoint` — lineage-free recovery on
  * executor loss, one conf flag, no code change.
  */
object ConnectedComponents {

  /** Ceiling (bytes, measured storage size) under which a round's label
    * map is small enough to chase LAZILY via broadcast lookups; above it
    * the chased level is materialized so later rounds read a leaf instead
    * of re-executing shuffle joins per reference. 64 MB of (id, lab)
    * pairs is ~4M nodes — broadcasting that per round is cheap against
    * the shuffle stages it replaces; far larger maps pay one extra
    * materialization action per round instead.
    */
  val FreshChaseBroadcastCeiling: Long = 64L << 20

  /** Labels every node in `nodes` (column `id`) with the minimum id
    * reachable through `edges` (columns `src`, `dst`; undirected, self-loops
    * and duplicates tolerated). Output: (id, component). Nodes absent from
    * every edge form singleton components labeled by themselves.
    *
    * Edge endpoints absent from `nodes` participate fully in propagation
    * (so a path through an absent intermediate still connects its ends, and
    * an absent low-id neighbor still pushes its id as a component label);
    * they are dropped from the OUTPUT, which covers exactly `nodes`.
    *
    * @param chaseSteps pointer-chase lookups per round; each is one cheap
    *        in-job hash join, and each extra step cuts chain-shaped round
    *        count — rounds cost two blocking actions each, so more chase
    *        per round is the cheaper currency (measured on the sf0.1
    *        near-dup graph, 2000 nodes / 920 pairs: 10 rounds with no
    *        chase, 4 with 3 steps, 3 with 5).
    * @throws IllegalStateException if `maxIter` rounds do not reach the
    *         fixpoint (raise it for pathological chains).
    */
  def run(
      nodes: DataFrame,
      edges: DataFrame,
      maxIter: Int = 20,
      chaseSteps: Int = 5): DataFrame = {
    require(chaseSteps >= 0, s"chaseSteps must be >= 0, got $chaseSteps")
    // AQE is a per-round latency tax here, not a win: every exchange
    // becomes a sequentially-materialized query stage with a replan in
    // between (~0.3 s/round measured on a tiny graph, regardless of data),
    // and the two things AQE would buy are already covered — join-side
    // sizes are TRUE on every snap leaf (realStats ⇒ static broadcast
    // planning makes the same choice), and the shuffle key is the node id
    // (uniform; a component's hot minimum is a value, not a key, so no
    // skew-join to fix). The opt-outs live in a CLONED session (same
    // SparkContext + cached data, independent SQLConf), so concurrent
    // queries/streams on the caller's session never plan under AQE-off or
    // the loop's shuffle parallelism — nothing global is mutated and
    // nothing needs restoring.
    val caller = nodes.sparkSession
    val loop = shims.cloneSession(caller)
    // materialize the DIRECTED edge list BEFORE symmetrizing: the union
    // below references it twice, and without materialization the edge
    // derivation (often an expensive similarity join) would execute twice.
    // (The checkpoint job itself runs under the caller's normal adaptive
    // conf — only the loop's fixed-shape plans, rooted in `loop`, opt out.)
    // The symmetrized view stays lazy — re-scanning a checkpoint is cheap.
    val ep = shims.snap(edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v")),
      "cc.edges", into = loop)
    val sym = ep.union(ep.select(col("v").as("u"), col("u").as("v")))
    // size the loop's shuffles to the MEASURED edge bytes (the same ~64 MB
    // per-partition rule AQE's coalescing applies): a tiny graph gets
    // single-task shuffle stages instead of 32 idle ones, a 100 TB graph
    // gets thousands — without paying AQE's per-stage replan latency every
    // round.
    val edgeBytes = ep.queryExecution.optimizedPlan.stats.sizeInBytes
    // If realStats could not find the checkpoint's storage info, the leaf
    // reports the default don't-broadcast sentinel — treating THAT as a
    // size would cap out at 200k partitions with AQE off (minutes of empty
    // task scheduling per round). Unmeasured ⇒ keep the session's own
    // shuffle parallelism instead.
    val measured = edgeBytes < BigInt(1L << 50)
    val loopParts =
      if (measured) (edgeBytes / (64L << 20) + 1).min(BigInt(200000)).toInt
      else caller.conf.get("spark.sql.shuffle.partitions", "200").toInt
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // snapped ONCE: the seed union below and the final output semi-join
    // both read `ids`, and an expensive caller-side node derivation must
    // not pay its cost twice (the edge plan gets the same treatment above)
    val ids = shims.snap(nodes.select(col("id").cast("long").as("id")), "cc.nodes", into = loop)
    // round-1 propagation fused into initialization: one union + aggregate
    // over nodes ∪ edge endpoints IS min(id, min neighbor id) — seeding
    // from the endpoint union (not just `nodes`) is what makes absent
    // endpoints propagate instead of silently splitting components.
    // least() skips the null that edgeless nodes contribute.
    var labels = shims.snap(ids.select(col("id"), lit(null).cast("long").as("v"))
      .union(sym.select(col("u").as("id"), col("v")))
      .groupBy("id").agg(least(col("id"), min(col("v"))).as("lab")), "cc.seed", into = loop)
    var round = 0
    var converged = false
    // artifacts superseded LAST round (each round's materialized levels
    // are read by the NEXT round's plan — labels via the lookup, propAll
    // via the bridge branch — so they free exactly one round later)
    var prevRound: List[DataFrame] = Nil
    // the previous round's materialized propagation (the bridge source;
    // also the backing blocks of a lazily-chased labels level)
    var lastProp: Option[DataFrame] = None
    // (bid, bval) bridge emissions derived from the previous round's
    // materialized propagation — see the bridge comment in the loop
    var bridges: Option[DataFrame] = None
    def free(df: DataFrame): Unit =
      shims.unpersistCheckpoint(df)
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    try {
      while (!converged && round < maxIter) {
        val rt0 = System.nanoTime()
        // ONE materialized plan — and normally ONE blocking action — per
        // round (iterative operators are action-latency-bound, so actions
        // per round is the currency that matters):
        //   1. propagation: neighbor labels and own label meet in one
        //      aggregate; the previous label tags along as `own` (exactly
        //      one non-null per id, from the `labels` branch) so the change
        //      test needs no join back against the previous level;
        //   2. pointer chase against THIS round's materialized propagation
        //      map (fresh, not the previous round's — see the chase block
        //      below for why staleness was the round-count killer on
        //      hub-cascade graphs).
        // Fresh-map chase stays correct: prop(x) <= x and is reachable
        // from x, so chased labels remain monotone decreasing over
        // reachable ids; the fixpoint test below is unaffected.
        val lookup = labels.select(col("id").as("__k"), col("lab").as("__v"))
        // BRIDGE emissions are the round-count lever (the star-contraction
        // move): every node that IMPROVED last round forwards its new
        // label straight to its former label target — a join-free value
        // branch into the aggregate. Without it, a label VALUE can only
        // flood the graph one edge per round, and no pointer chase helps,
        // because intermediate labels point at local minima whose own map
        // entry is themselves (measured: the q191 cross-modal fold's
        // ecc-28 component pinned the loop at 23-26 rounds under stale,
        // fresh, composed AND pointer-edge chase variants alike). A bridge
        // jumps the improved value from the frontier directly to the hub
        // every follower points at, collapsing the flood to ~log rounds
        // (same fold: 6 rounds). Safety: both endpoints of a bridge are
        // reachable ids of the same component (the labels invariant), and
        // at the fixpoint every bridge degenerates to "m receives m", so
        // the convergence test below is unaffected.
        val bridgeRows = bridges match {
          case Some(b) => b.select(col("bid").as("id"), col("bval").as("lab"),
            lit(null).cast("long").as("own"))
          case None => null
        }
        val seeded = sym
          .join(lookup, col("u") === col("__k"))
          .select(col("v").as("id"), col("__v").as("lab"),
            lit(null).cast("long").as("own"))
          .union(labels.select(col("id"), col("lab"), col("lab").as("own")))
        val prop = (if (bridgeRows == null) seeded else seeded.union(bridgeRows))
          .groupBy("id").agg(min("lab").as("lab"), max("own").as("own"))
        // materialize the round AND count changed rows in the SAME driver
        // action: the lazy local checkpoint persists partitions as the
        // count's job computes them (doCheckpoint then finds every block
        // already cached), so convergence detection is free — no separate
        // isEmpty scan job per round. Convergence is tested on the
        // PROPAGATION output: prop == own for every node means the label
        // map is edge-consistent, and a monotone edge-consistent map IS
        // the min-reachable fixpoint (along any path u..m to the component
        // minimum, lab(u) <= lab(..) <= lab(m) = m while every label is
        // >= m), at which point any pointer chase is the identity.
        // (`own` is null on the bridge/edge branches, so a node outside
        // `labels` can never satisfy lab == own spuriously.)
        val propCk = shims.snap(prop.select(col("id"), col("lab"), col("own"),
          (col("lab") =!= col("own")).as("__changed")), "cc.prop", eager = false)
        val changed = propCk.filter(col("__changed")).count()
        converged = changed == 0L
        // now that the blocks exist, rewrap with their measured size
        val propAll = shims.realStats(propCk)
        // next round's bridges: improved nodes forward the new label to
        // the node their old label pointed at (own is null for ids seen
        // only through edge/bridge branches — no bridge from those)
        bridges = Some(propAll
          .filter(col("__changed") && col("own").isNotNull)
          .select(col("own").as("bid"), col("lab").as("bval")))
        val propSized = propAll.select("id", "lab")
        // pointer chase against THIS round's materialized map — not the
        // previous round's. The stale-map chase was measured useless on
        // hub-cascade graphs (label pointers at a sub-family's local
        // minimum stay self-referential until the NEXT round's map carries
        // the hub's update, so convergence walked one hub level per two
        // rounds no matter how many chase steps ran: the q191 cross-modal
        // fold took 26 rounds at chaseSteps 5, 10, 20 AND 40). Against the
        // fresh map, chase step i resolves hub level i, so a cascade of
        // depth d converges in ~d/chaseSteps rounds (measured: the same
        // fold drops 26 -> 7 rounds). Chain-shaped graphs keep their old
        // behavior or better (the fresh map is pointwise <= the stale one).
        val next =
          if (converged || chaseSteps == 0) propSized
          else {
            val mapBytes = propSized.queryExecution.optimizedPlan.stats.sizeInBytes
            if (mapBytes <= FreshChaseBroadcastCeiling) {
              // small map: leave the chase LAZY over the materialized prop
              // leaf — chaseSteps lookups against ONE shared broadcast of
              // it (map-side, one build), so the round still costs exactly
              // one blocking action. With the bridge branch doing the
              // long-distance jumps, plain re-application is enough here;
              // deeper schemes (self-composition) were measured to buy no
              // rounds while paying a nested broadcast build per level.
              val fl = broadcast(
                propSized.select(col("id").as("__k"), col("lab").as("__v")))
              (1 to chaseSteps).foldLeft(propSized) { (acc, _) =>
                acc.as("c").join(fl, col("c.lab") === col("__k"), "left")
                  .select(col("c.id").as("id"),
                    coalesce(col("__v"), col("c.lab")).as("lab"))
              }
            } else {
              // big map: a lazy chase would re-execute chaseSteps
              // shuffle joins per downstream reference — materialize the
              // chased level instead (one extra action per round, still a
              // net win against the extra rounds it saves)
              val fl = propSized.select(col("id").as("__k"), col("lab").as("__v"))
              shims.snap(
                (1 to chaseSteps).foldLeft(propSized) { (acc, _) =>
                  acc.as("c").join(fl, col("c.lab") === col("__k"), "left")
                    .select(col("c.id").as("id"),
                      coalesce(col("__v"), col("c.lab")).as("lab"))
                }, "cc.chase")
            }
          }
        // superseded snapshots are dead — drop their checkpoint blocks now
        // instead of waiting for GC + ContextCleaner (at scale each round's
        // labels are |V| rows of storage; only ~one round should be live).
        // THIS round's artifacts (labels via the lookup, propAll via the
        // bridge branch AND as the final level's backing blocks) are still
        // read by the NEXT round's plan — or returned — so each level is
        // released exactly one round after it was built, and the last
        // propAll never lands in the free list (it backs the result).
        prevRound.foreach(free)
        prevRound = labels :: lastProp.toList
        lastProp = Some(propAll)
        labels = next
        round += 1
        if (dbg) System.err.println(
          f"[cc] round $round: ${(System.nanoTime() - rt0) / 1e9}%.2f s changed=$changed")
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter rounds")
      // restrict the output to the requested nodes: endpoints outside
      // `nodes` were propagation carriers only (both sides are snapped
      // levels, so the semi-join is broadcast-able when `nodes` is small).
      // The result is snapped back into the CALLER's session — downstream
      // plans over it use the caller's conf, not the loop's opt-outs.
      shims.snap(
        labels.join(ids, Seq("id"), "left_semi")
          .select(col("id"), col("lab").as("component")), "cc.labels", into = caller)
    } finally {
      // the returned result is its own snap, so the loop's levels are dead
      // on BOTH paths: the edge checkpoint (usually the largest, O(|E|)
      // rows), the last superseded label level and the final level with
      // its backing propagation. `ids` is left to the ContextCleaner: when
      // `nodes` was already a snap, it shares the caller's blocks. The
      // loop session needs no teardown — its conf dies with it and its
      // cached state is shared.
      prevRound.foreach(free)
      free(ep); free(labels); lastProp.foreach(free)
    }
  }
}
