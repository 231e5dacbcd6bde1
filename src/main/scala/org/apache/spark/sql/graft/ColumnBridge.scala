package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column↔Expression converters — the
  * supported extension-point pattern for libraries that add native
  * Catalyst expressions (Spark 4 moved the public `new Column(expr)`
  * constructor behind org.apache.spark.sql.classic.ExpressionUtils). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Storage hygiene for iterative DataFrame algorithms.
  *
  * `Dataset.localCheckpoint()` pins its materialized rows as storage
  * blocks on the RDD behind the returned Dataset's `LogicalRDD` — and
  * `Dataset.unpersist()` does NOT release them (it only talks to the
  * SQL cache manager). An iterative loop that checkpoints every round
  * therefore accumulates one dead block set per superseded iteration
  * until driver GC happens to collect the RDD. This helper releases a
  * superseded checkpoint's blocks eagerly; the caller must guarantee
  * the Dataset is never evaluated again (its lineage is truncated, so
  * recomputation is impossible by design). The blocks go through the
  * context's `private[spark]` `unpersistRDD`: `RDD.unpersist` would
  * warn, for every locally checkpointed RDD, that it cannot be
  * recomputed, which is exactly the intended state here. */
object CheckpointBridge {
  def freeLocalCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ => ()
    }
}

/** Per-call SQL-conf isolation for iterative DataFrame algorithms.
  *
  * An iterative loop over NODE-sized state wants a few shuffle
  * partitions, not the session's corpus-tuned width — but mutating
  * `spark.sql.shuffle.partitions` on the shared session races every
  * concurrent query (they'd silently plan at the loop's width). The
  * supported isolation is a CLONED session: same SparkContext, shared
  * cache manager (persisted inputs stay warm), inherited conf and
  * registered functions, but its OWN SQLConf — the loop re-roots its
  * plans into the clone, runs at the loop width, and hands the final
  * plan back re-rooted into the caller's session. Both hooks are
  * `private[sql]` in Spark (`cloneSession`, `Dataset.ofRows`), hence
  * this bridge. */
object SessionBridge {
  /** Clone `s` (conf, UDFs, temp views all inherited; SparkContext and
    * cache shared) and apply `kv` overrides to the clone only. */
  def cloneWithConf(s: org.apache.spark.sql.SparkSession,
                    kv: (String, String)*): org.apache.spark.sql.SparkSession = {
    val c = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Rebind `df`'s logical plan to session `to` — planning (and conf
    * reads) then happen under `to`'s SQLConf. The plan itself is
    * session-agnostic; cached/checkpointed inputs resolve through the
    * shared context. A frame already in `to` comes back as it is. */
  def reRoot(df: org.apache.spark.sql.DataFrame,
             to: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    if (df.sparkSession eq to) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.logical)

  /** The session an iterative loop over `rows` measured rows of state
    * runs in, and the function that re-roots the loop's final plan back
    * into `s`. The loop width is `rows / 500000 + 1` shuffle partitions:
    * node-sized state at a corpus-tuned width pays the full
    * per-partition fixed cost every round for nothing. Below `s`'s
    * width the loop gets a clone at that width; otherwise it runs in
    * `s` itself and the re-root back is the identity. A non-numeric
    * width conf ("auto") counts as wide. */
  def loopSession(s: org.apache.spark.sql.SparkSession, rows: Long)
      : (org.apache.spark.sql.SparkSession,
         org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    val width = "spark.sql.shuffle.partitions"
    val sessSp = math.max(1L,
      scala.util.Try(s.conf.get(width).toLong).getOrElse(200L))
    val loopSp = math.max(1L, math.min(sessSp, rows / 500000L + 1))
    if (loopSp < sessSp) (cloneWithConf(s, width -> loopSp.toString), reRoot(_, s))
    else (s, identity)
  }
}

/** A frame's rows as Spark's own `InternalRow`s, collected in one job
  * under one SQL execution as `Dataset.collect` does, but without the
  * conversion to external `Row`s: a driver-side consumer reads the
  * values (`UTF8String`s included) exactly as Spark's expressions
  * produced them. */
object CollectBridge {
  def internalRows(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }
}
