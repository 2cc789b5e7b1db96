package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Round lifecycle of the iterative operators — connected components,
  * BPE merge learning, the perceptron trainers, the rank fixpoints and
  * the rank-store maintenance commit. Two decisions live here, once:
  *
  *  - Which cached blocks an operator OWNS. A checkpointed frame's pin
  *    is the RDD under its own `LogicalRDD` leaf, so an operator only
  *    ever unpersists blocks it created itself. The context-global
  *    `sc.getPersistentRDDs` registry also holds what concurrent
  *    `Par.fork`/`Par.both` legs pin, so it is never diffed to find
  *    "our" blocks.
  *  - When the rounds replay on the DRIVER instead (the companion's
  *    gate): a strict row budget over an already-pinned count, bounded
  *    collects for side inputs, one result form. Each replay also
  *    routes distributed on inputs it cannot mirror exactly — a null
  *    endpoint, or a side input keyed by another type than the edges
  *    (a replay keys its maps by boxed values, which cannot follow the
  *    casts a distributed join or union applies).
  *
  * Per-round materialization, with the failure-domain knob:
  *
  *  - `reliableDir = None` (default): `localCheckpoint` — fastest, but
  *    the truncated lineage lives in executor storage, so an executor
  *    loss mid-run FAILS the job. Right for bounded bench runs.
  *  - `Some(dir)`: reliable checkpoint files under `dir` (an
  *    HDFS/object-store path at cluster scale) — each round pays a
  *    second computation plus the file write, and a lost executor
  *    recomputes from the files instead of killing the run. The knob
  *    a 50-iteration convergence run on preemptible nodes wants.
  *    Superseded rounds' checkpoint files are swept by
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *    (GC-driven) or by deleting `dir` after the run. Reliable
  *    checkpoints pin nothing, so releasing one is a no-op. */
private[graft] final class Rounds(sc: SparkContext,
                                  reliableDir: Option[String] = None) {
  reliableDir.foreach(sc.setCheckpointDir)

  /** Eager checkpoint: materialized and lineage-free on return. */
  def apply(df: DataFrame): DataFrame =
    if (reliableDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

  /** Mark for checkpoint WITHOUT forcing a materialization job: the
    * caller's next action on the frame computes it, persists the
    * blocks, and truncates lineage in that ONE job — the rank loops
    * ride their per-round control aggregate (dangling mass / L1
    * step) on exactly that job, halving per-iteration job
    * submissions. The caller MUST run an action over every partition
    * (an aggregate does) before relying on the frame being pinned.
    * Reliable mode stays eager: a lazy reliable checkpoint would
    * recompute the whole RDD for the file write (RDD.checkpoint's
    * documented behavior for unpersisted lineage), costing more than
    * the job it saves. */
  def lazyMark(df: DataFrame): DataFrame =
    if (reliableDir.isDefined) apply(df) else df.localCheckpoint(false)

  /** The one-shot form for frames that live for the whole run (edge
    * list, node table, a trainer's staged stream): kept so
    * [[releasePinned]] can free them when the run's RESULT no longer
    * depends on them — a caller looping pageRank/CC calls (warm-start
    * maintenance, probes) otherwise accumulates one cached edge list
    * per call until the storage pool evicts mid-aggregation (measured:
    * three 100M-edge pageRank calls OOM'd the 10M probe before this). */
  private var pinned: List[DataFrame] = Nil
  def pin(df: DataFrame): DataFrame = {
    val mat = apply(df)
    pinned ::= mat
    mat
  }

  /** Unpersist every [[pin]]'d frame — call once the returned result
    * is itself materialized and lineage-free. */
  def releasePinned(): Unit = {
    Rounds.release(pinned: _*)
    pinned = Nil
  }
}

private[graft] object Rounds {

  /** The persisted RDDs a frame reads from: its `LogicalRDD` leaves
    * whose RDD holds a storage level. For a frame built on one
    * checkpoint (the checkpoint itself, or a projection of it) that is
    * exactly the checkpoint's pin — the id `localCheckpoint` registers,
    * eager or lazy; a LocalRelation or a reliable checkpoint has none. */
  def pins(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => r.rdd
    }

  /** Unpersist the pins of frames this operator checkpointed itself —
    * never call it on a frame a caller handed in. */
  def release(frames: DataFrame*): Unit =
    frames.foreach(pins(_).foreach(_.unpersist(false)))

  /** The driver-replay gate: replay when the operator's row budget is
    * positive and the staged input holds at most that many rows. A
    * budget of 0 forces the distributed route, also for an empty input
    * (`rows` is then never evaluated). `rows` should count blocks the
    * operator already pinned — a bounded control read, not a re-scan.
    * Budgets are driver-MEMORY bounds (a broadcast build side's size
    * class), not data-scale tunings. */
  def onDriver(budget: Long, rows: => Long): Boolean =
    budget > 0 && rows <= budget

  /** Bounded collect of a replay's side input (prior, seed set): None —
    * take the distributed route — when it holds more than `budget`
    * rows. A limit, not a count: one job either way. */
  def collectWithin(df: DataFrame, budget: Long): Option[Array[Row]] = {
    val cap = math.min(budget, Int.MaxValue.toLong - 2).toInt
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** A replay's result: a LocalRelation at or under 200k rows (accurate
    * stats, so downstream gate joins auto-broadcast), a parallelized
    * frame above (a multi-MB LocalRelation would be copied into every
    * consumer plan). */
  def driverFrame(spark: SparkSession, rows: Seq[Row],
                  schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    if (rows.size <= 200000) spark.createDataFrame(rows.asJava, schema)
    else spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)),
      schema)
  }
}
