package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between custom Catalyst [[Expression]]s and the public [[Column]]
  * API. Spark 4 made the Column↔Expression converters `private[sql]`
  * (`classic.ExpressionUtils`), so this one-file shim lives inside the
  * `org.apache.spark.sql` package to re-export exactly the two conversions
  * custom expressions need. No Spark internals are modified.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rewrap a MATERIALIZED (checkpointed/persisted) DataFrame in a fresh
    * leaf carrying its TRUE storage size as the plan statistics. A bare
    * `Dataset.localCheckpoint` leaf carries the pre-checkpoint plan's
    * `sizeInBytes` estimate instead — and join estimation multiplies child
    * sizes, so an iterative operator that checkpoints every round would
    * compound that estimate geometrically until Catalyst spends minutes
    * multiplying million-digit BigIntegers. A default-statistics rewrap
    * avoids that but plans every join against the leaf as a full shuffle
    * (sort-merge), because default `sizeInBytes` is the don't-broadcast
    * sentinel — for an iterative operator that's 2+ extra shuffle stages
    * per round of pure latency. Measured bytes let the
    * planner make the SAME decision it would make for a parquet scan of
    * this data: broadcast when genuinely small, shuffle when genuinely
    * big — the scale-honest behavior at every SF. Falls back to default
    * stats when no persisted ancestor/size is found (e.g. not yet
    * materialized), which is never wrong, only slower.
    */
  def realStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    realStatsIn(df.sparkSession, df)

  /** [[realStats]] rewrapping into a TARGET session (which must share the
    * source's SparkContext — RDDs are context-scoped, not session-scoped).
    * This is how an iterative operator hands a materialized level across a
    * session boundary: compute under one session's conf, plan every later
    * read under another's. See [[graft.operators.ConnectedComponents]],
    * which isolates its loop-only conf overrides (AQE off, edge-sized
    * shuffle parallelism) in a cloned session so concurrent work on the
    * caller's session never plans under them.
    */
  def realStatsIn(
      target: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = target.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = ds.queryExecution.toRdd
    def persisted(r: org.apache.spark.rdd.RDD[_], depth: Int): Option[org.apache.spark.rdd.RDD[_]] =
      if (depth >= 8) None
      else if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
      else r.dependencies.iterator.flatMap(d => persisted(d.rdd, depth + 1)).take(1)
        .toList.headOption
    val stats = persisted(rdd, 0).flatMap { p =>
      session.sparkContext.getRDDStorageInfo.find(_.id == p.id).map { info =>
        org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt((info.memSize + info.diskSize).max(1L)))
      }
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(
        ds.queryExecution.analyzed.output, rdd,
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
        Nil, false, None)(session, stats, None))
  }

  /** An isolated twin of `session`: same SparkContext, cached data and
    * registered state (a full `cloneSession`, so extensions/UDFs/temp views
    * survive — unlike `newSession`, which resets runtime conf to defaults),
    * but an INDEPENDENT SQLConf. `cloneSession` is `private[sql]`, hence
    * the bridge. Operators that must override planning conf for a bounded
    * region (iterative loops) run their plans in a clone instead of
    * mutating the caller's session-global conf under concurrent work.
    */
  def cloneSession(
      session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Conf key: when `true`, [[snap]] materializes through RELIABLE
    * `checkpoint` (files under `spark.graft.snap.dir`, lineage-free
    * recovery on executor loss) instead of `localCheckpoint` (executor
    * blocks — faster, but a lost executor loses the snapped rows).
    * Default false: local mode has no executor loss to survive, and
    * `graft.Bench` must keep measuring the localCheckpoint substrate it
    * always measured.
    */
  val ReliableSnapKey = "spark.graft.snap.reliable"

  /** Reliable-checkpoint directory when [[ReliableSnapKey]] is on: [[snap]]
    * points the context's checkpoint dir under it. On a real cluster point
    * `spark.graft.snap.dir` at durable shared storage.
    */
  val SnapDirKey = "spark.graft.snap.dir"

  /** The engine's ONE materialization primitive: pin a frame that several
    * consumers read (or that a write must not re-derive from the directory
    * it appends to), truncate its lineage, and hand back a leaf carrying
    * the MEASURED size. In order:
    *   1. record `df`'s optimized plan under `tag` in [[graft.PlanEvidence]]
    *      (a no-op unless the bench enables it) — the checkpoint truncates
    *      that pipeline out of every later plan;
    *   2. skip the checkpoint when [[cheapOverMaterialized]] holds — re-
    *      checkpointing rows that are already storage-backed is one pure-
    *      latency blocking action;
    *   3. otherwise checkpoint: `localCheckpoint` by default, RELIABLE
    *      `checkpoint` when the session sets [[ReliableSnapKey]] — one flag
    *      flips every materialization in the engine to lineage-free-
    *      recoverable state. Reliable mode installs the context's checkpoint
    *      dir from [[SnapDirKey]] (tmpdir fallback);
    *   4. when `eager`, return the [[realStatsIn]] rewrap rooted in `into`
    *      (default: `df`'s own session). A LAZY snap (`eager = false`)
    *      returns the bare checkpointed frame: an iterative loop lets its
    *      own counting action build the blocks, then measures them with
    *      [[realStats]].
    * [[realStats]] falls back to default statistics over reliable
    * checkpoints (no storage blocks to measure) — never wrong, only
    * slower planning; [[unpersistCheckpoint]] is a safe no-op on them
    * (checkpoint FILES are reclaimed by the ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set).
    */
  def snap(
      df: org.apache.spark.sql.DataFrame,
      tag: String,
      eager: Boolean = true,
      into: org.apache.spark.sql.SparkSession = null): org.apache.spark.sql.DataFrame = {
    _root_.graft.PlanEvidence.record(tag, df)
    val ss = df.sparkSession
    val ck =
      if (cheapOverMaterialized(df)) df
      else if (ss.conf.get(ReliableSnapKey, "false").toBoolean) {
        val sc = ss.sparkContext
        val dir = ss.conf.getOption(SnapDirKey)
        if (sc.getCheckpointDir.forall(cur => dir.exists(d => !cur.contains(d))))
          sc.setCheckpointDir(dir.getOrElse(sys.props("java.io.tmpdir") + "/graft_snap_ckpt"))
        df.checkpoint(eager)
      } else df.localCheckpoint(eager)
    if (eager) realStatsIn(Option(into).getOrElse(ss), ck) else ck
  }

  /** True when re-reading `df` re-reads STORAGE BLOCKS instead of
    * recomputing a pipeline: the optimized plan is nothing but
    * attribute-level projections (renames/casts) over exactly one
    * materialized (persisted/checkpointed) [[LogicalRDD]] leaf. [[snap]]
    * uses it to SKIP re-materializing an input a caller already snapped —
    * a contracted merge hands ConnectedComponents a checkpointed edge
    * frame, and a second checkpoint of the same rows is one pure-latency
    * blocking action per call. Deliberately conservative: any non-trivial
    * projection expression (a kernel, a UDF, an aggregate) or a second
    * leaf keeps the normal snap path, so an expensive derivation is never
    * silently re-executed per read.
    */
  def cheapOverMaterialized(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Attribute, Cast, NamedExpression}
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    def trivial(e: NamedExpression): Boolean = e match {
      case _: Attribute => true
      case a: Alias => a.child match {
        case _: Attribute => true
        case c: Cast => c.child.isInstanceOf[Attribute]
        case _ => false
      }
      case _ => false
    }
    def matd(r: org.apache.spark.rdd.RDD[_], depth: Int): Boolean =
      depth < 8 && (
        r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE ||
          r.dependencies.exists(d => matd(d.rdd, depth + 1)))
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case l: org.apache.spark.sql.execution.LogicalRDD => matd(l.rdd, 0)
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          pr.projectList.forall(trivial) && walk(pr.child)
        case _ => false
      }
    try walk(ds.queryExecution.optimizedPlan)
    catch { case _: Throwable => false }
  }

  /** Drop the storage blocks behind a `localCheckpoint`ed DataFrame (the
    * checkpoint RDD is otherwise freed only when the JVM GCs the RDD
    * object and the ContextCleaner notices). The plan's leaf RDD is
    * typically a projection OVER the persisted checkpoint RDD, so this
    * walks the narrow dependency chain up to the first persisted ancestor.
    * Iterative operators call it on superseded rounds so live blocks stay
    * bounded to one round; the unpersisted data is gone for good (local
    * checkpoints have no lineage to recompute from) — only call on
    * DataFrames nothing will read again. Safe no-op for non-checkpoint
    * plans.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = {
    def walk(rdd: org.apache.spark.rdd.RDD[_], depth: Int): Unit =
      if (depth < 8) {
        if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
          rdd.unpersist(false); ()
        } else rdd.dependencies.foreach(d => walk(d.rdd, depth + 1))
      }
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => walk(r.rdd, 0)
      case _ => ()
    }
  }
}
