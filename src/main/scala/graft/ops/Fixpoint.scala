package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** The one round driver of the iterative DataFrame operators (graph
  * ranks and communities, connected components, MMR selection, BPE
  * training, Bradley–Terry). It owns the four jobs every round loop
  * has, each done here once:
  *
  *  - **Materialization.** A round is cut from its lineage by ONE idiom,
  *    [[persistedLeaf]]: its executed `RDD[InternalRow]`, persisted,
  *    re-wrapped as a DataFrame leaf. Catalyst then plans a
  *    constant-depth tree per round, and no checkpoint directory is
  *    needed. The wrap is lazy: the first action that reads the round
  *    fills it.
  *  - **Storage.** Round r−1 is released once round r is filled, so a
  *    running loop holds at most two rounds; the final one is registered
  *    with [[Caches]] for the consumer to release. A released round
  *    recomputes from its lineage, where a released local checkpoint
  *    would fail its next read.
  *  - **Non-convergence.** One strict/warn rule ([[Budget]]).
  *  - **Records.** One [[Round]] per round: rows, changed rows, ms.
  *
  * Three loop shapes use it:
  *  - [[converge]]: a watched loop. Each round runs exactly one action,
  *    the count that fills it; the same pass counts its changed rows (or
  *    its fingerprint), and the loop stops at the first round that
  *    changes nothing.
  *  - [[iterate]]: a loop whose step already runs an action over the
  *    previous round (an argmax collect); that action fills the previous
  *    round, and no job is added.
  *  - [[unrolled]]: a fixed-round loop with no action per round. It stays
  *    lazy, and the same wrap cuts its lineage every [[CutEvery]] rounds.
  */
object Fixpoint {

  /** One round of a loop: rows of its state, rows it changed, wall ms.
    * Rows are counted as the round is filled; a round nothing read
    * counts 0. */
  final case class Round(round: Int, rows: Long, changed: Long, ms: Long)

  /** A finished loop: its last state, one record per round, and whether
    * the last round changed nothing. */
  final case class Result(state: DataFrame, rounds: Seq[Round],
      converged: Boolean) {
    /** The first round that changed nothing. */
    def stableRound: Option[Int] =
      if (converged) rounds.lastOption.map(_.round) else None
  }

  /** How a watched loop counts a round's changed rows. */
  sealed trait Watch
  object Watch {
    /** The rows whose boolean column `name` is true changed. */
    final case class Flag(name: String) extends Watch
    /** The round changed nothing when its (rows, Σ xxhash64 of the rows)
      * equals the previous round's; otherwise it changed the rows it
      * gained or lost, and at least one. A false "unchanged" needs a
      * 64-bit multiset hash collision. */
    case object Fingerprint extends Watch
  }

  /** What a loop that runs out of rounds before a stable one means. */
  sealed trait Budget
  object Budget {
    /** The rounds are the contract (a selection of k, a surfaced flag). */
    case object Exact extends Budget
    /** A log warning; the partial result is returned. */
    case object Warn extends Budget
    /** An `IllegalStateException` naming the operator and its budget. */
    case object Strict extends Budget
    def apply(strict: Boolean): Budget = if (strict) Strict else Warn
  }

  /** Lineage cut cadence of a lazy fixed-round loop: a longer unrolled
    * plan pays quadratic analysis time and risks planner stack depth. */
  val CutEvery = 5

  /** Cadence for a loop whose step reads the previous state twice: an
    * uncut plan doubles per round. */
  val CutEachRound = 1

  /** The one lineage cut of `graft`: `d`'s executed `RDD[InternalRow]`,
    * each row passed to `observe` and copied, persisted MEMORY_AND_DISK
    * and re-wrapped as a DataFrame leaf (a `LogicalRDD`). Lazy: the first
    * action that reads the leaf fills it, and a lost block is recomputed
    * from the lineage on its next read. The caller releases the RDD. Used
    * by every round here and by the pre-joined star
    * ([[graft.star.PrejoinedStar]]). */
  private[graft] def persistedLeaf(d: DataFrame,
      observe: InternalRow => Unit = _ => ()): (DataFrame, RDD[InternalRow]) = {
    val rdd = GraftSqlBridge.toInternalRdd(d).mapPartitions { it =>
      it.map { r => observe(r); r.copy() }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    (GraftSqlBridge.internalCreateDataFrame(d.sparkSession, rdd, d.schema), rdd)
  }

  /** A wrapped round and the counters its filling pass adds to. */
  private final class Wrapped(val df: DataFrame, val rdd: RDD[InternalRow],
      val rows: LongAccumulator, val flagged: LongAccumulator,
      val hash: LongAccumulator)

  private def wrap(d: DataFrame, watch: Option[Watch]): Wrapped = {
    val sc = d.sparkSession.sparkContext
    val schema = d.schema
    val (rows, flagged, hash) =
      (sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    val flagOrd = watch match {
      case Some(Watch.Flag(name)) => schema.fieldIndex(name)
      case _ => -1
    }
    // columns hashed in name order: a round may reorder its columns
    // (a USING join puts the key first) without changing its rows
    val fp = if (watch.contains(Watch.Fingerprint))
      XxHash64(schema.fields.toIndexedSeq.zipWithIndex.sortBy(_._1.name)
        .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }, 42L)
    else null
    val (df, rdd) = persistedLeaf(d, { r =>
      rows.add(1L)
      if (flagOrd >= 0 && !r.isNullAt(flagOrd) && r.getBoolean(flagOrd))
        flagged.add(1L)
      if (fp != null) hash.add(fp.eval(r).asInstanceOf[Long])
    })
    new Wrapped(df, rdd, rows, flagged, hash)
  }

  private def release(w: Wrapped): Unit = w.rdd.unpersist(blocking = false)

  /** Round `next`'s changed rows against its predecessor `prev`. */
  private def changed(watch: Option[Watch], prev: Wrapped,
      next: Wrapped): Long = watch match {
    case Some(Watch.Flag(_)) => next.flagged.value
    case Some(Watch.Fingerprint) =>
      if (next.rows.value == prev.rows.value &&
        next.hash.value == prev.hash.value) 0L
      else math.max(1L, math.abs(next.rows.value - prev.rows.value))
    case None => 0L
  }

  /** Watched loop: round r is `step(state of round r−1, r)`, filled by one
    * count that also counts its changed rows ([[Watch]]). Stops at the
    * first round that changes nothing, or after `maxRounds` (see
    * [[Budget]]). `init` is wrapped as round 0 and filled by round 1. */
  def converge(op: String, init: DataFrame, maxRounds: Int, watch: Watch,
      budget: Budget = Budget.Exact)(step: (DataFrame, Int) => DataFrame)
      : Result =
    run(op, init, maxRounds, Some(watch), budget, count = true)((d, r) =>
      Some(step(d, r)))

  /** Loop whose step runs its own action over the previous round (which
    * fills it) and returns the next round, or None when that action found
    * nothing left. Runs at most `maxRounds` rounds. */
  def iterate(op: String, init: DataFrame, maxRounds: Int)
      (step: (DataFrame, Int) => Option[DataFrame]): Result =
    run(op, init, maxRounds, None, Budget.Exact, count = false)(step)

  private def run(op: String, init: DataFrame, maxRounds: Int,
      watch: Option[Watch], budget: Budget, count: Boolean)
      (step: (DataFrame, Int) => Option[DataFrame]): Result = {
    require(maxRounds >= 1, s"$op needs at least one round, got $maxRounds")
    // rounds still persisted, oldest first; per round (round, previous
    // wrap, its wrap, ms)
    val held = scala.collection.mutable.Queue(wrap(init, watch))
    val log = scala.collection.mutable.ArrayBuffer.empty[(Int, Wrapped, Wrapped, Long)]
    var stable = false
    var done = false
    var r = 0
    while (r < maxRounds && !stable && !done) {
      r += 1
      val t0 = System.nanoTime()
      val cur = held.last
      step(cur.df, r) match {
        case None => done = true // the step's action filled `cur`
        case Some(d) =>
          val next = wrap(d, watch)
          held += next
          if (count) {
            next.rdd.count() // the round's one action
            stable = changed(watch, cur, next) == 0L
          }
          log += ((r, cur, next, (System.nanoTime() - t0) / 1000000L))
      }
      // the newest filled round: this round's when it counted itself,
      // else its predecessor, which the step's action read
      val filled = if (count || done) held.last else held(held.size - 2)
      while (held.head ne filled) release(held.dequeue())
    }
    // an unfilled trailing round holds no blocks; keep only the last
    while (held.size > 1) release(held.dequeue())
    Caches.registerRdd(held.head.rdd)
    val rounds = log.toSeq.map { case (n, prev, w, ms) =>
      Round(n, w.rows.value, changed(watch, prev, w), ms)
    }
    if (count && !stable) {
      val msg = s"$op did not converge in $maxRounds rounds; " +
        "its result is not a fixpoint"
      budget match {
        case Budget.Strict => throw new IllegalStateException(msg)
        case Budget.Warn => org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
        case Budget.Exact =>
      }
    }
    Result(held.head.df, rounds, stable)
  }

  /** Fixed-round lazy loop: `first` is round 1's state and round r > 1 is
    * `step(state of round r−1)`. No action runs; every `cadence` rounds
    * ([[CutEvery]] or [[CutEachRound]]) the state is cut by the round
    * wrap, the last round too when `cutLast`. Planning the newer cut runs
    * the stages that read the older one, which is then released. */
  def unrolled(op: String, first: DataFrame, rounds: Int,
      cadence: Int = CutEvery, cutLast: Boolean = false)
      (step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"$op needs at least one round, got $rounds")
    var state = first
    var cut: Option[Wrapped] = None
    for (r <- 1 to rounds) {
      if (r > 1) state = step(state)
      if (r % cadence == 0 && (r < rounds || cutLast)) {
        val w = wrap(state, None)
        cut.foreach(release)
        cut = Some(w)
        state = w.df
      }
    }
    cut.foreach(w => Caches.registerRdd(w.rdd))
    state
  }
}
