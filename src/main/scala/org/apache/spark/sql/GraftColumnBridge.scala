package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 routes the public [[Column]] API through ColumnNode and
  * keeps the Expression⇄Column converters `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). This shim lives in
  * the sql package purely to re-export them for graft.expr — the one
  * place the engine hands a raw Catalyst Expression (Cuid) to the
  * DataFrame API.
  */
object GraftColumnBridge extends org.apache.spark.internal.Logging {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an already-analyzed logical plan
    * (`Dataset.ofRows` is `private[sql]`) — the SQL WRITE path uses
    * this to execute an INSERT's source query through the engine's
    * commit verbs. */
  def ofRows(s: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** `t` with every field nullable, nested ones included — the schema
    * Spark's own file sources report (`asNullable` is
    * `private[spark]`). */
  def asNullable(t: types.StructType): types.StructType = t.asNullable

  /** The session's UUID — unique for the session's lifetime, never
    * reused (unlike an identity hash). `private[sql]` on the classic
    * session; re-exported for session-scoped registries. */
  def sessionUUID(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => s"id${System.identityHashCode(other)}"
  }

  /** Test support: drain the async listener bus so a metrics
    * SparkListener has seen every completed task before a spec reads
    * its counters (`listenerBus` is `private[spark]` — same
    * re-export rationale as the converters above). */
  def flushListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the persisted blocks behind a `localCheckpoint()`ed
    * DataFrame. `Dataset.unpersist` only uncaches CacheManager
    * entries (plans cached via `.persist`); a local checkpoint's
    * blocks belong to the UNDERLYING RDD inside the LogicalRDD leaf,
    * which `unpersist` never touches — so the engine's iterative
    * jobs were parking a corpus-sized copy per released slot until
    * the ContextCleaner happened to run. Unpersisting those RDDs
    * directly frees the blocks deterministically. The leaves are
    * collected from the WHOLE plan, so a derived frame (a projection
    * over the checkpointed one) releases the checkpoint it pins
    * instead of silently leaking through the `Dataset.unpersist`
    * no-op; when the plan holds no LogicalRDD at all, the miswired
    * call site is made visible with a warning rather than swallowed.
    *
    * EXCLUSIVITY CONTRACT: because every LogicalRDD leaf under the
    * plan is released, the caller must own those checkpoints
    * exclusively — a leaf shared with another still-live frame would
    * have its in-use blocks freed. [[graft.ops.Ckpt]] enforces this
    * with a cross-slot disjointness assert on `track`; call sites
    * outside Ckpt must prove the same property (use
    * [[checkpointedRddIds]]). */
  def unpersistCheckpointed(df: Dataset[Row]): Unit = {
    val rdds = df.queryExecution.logical.collect {
      case lr: execution.LogicalRDD => lr.rdd
    }
    if (rdds.isEmpty) {
      logWarning("unpersistCheckpointed: no LogicalRDD under the plan — " +
        "nothing to release (was this frame never localCheckpoint()ed?)")
      df.unpersist()
    } else rdds.foreach(_.unpersist(blocking = false))
    ()
  }

  /** The ids of the RDDs [[unpersistCheckpointed]] would release —
    * so callers can prove the exclusivity contract (no checkpoint
    * leaf shared with a frame whose release is managed elsewhere)
    * before wiring up a release. */
  def checkpointedRddIds(df: Dataset[Row]): Seq[Int] =
    df.queryExecution.logical.collect {
      case lr: execution.LogicalRDD => lr.rdd.id
    }
}
