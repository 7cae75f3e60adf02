package graft.graph

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count => countRows, lit}
import org.apache.spark.storage.StorageLevel

/** The one driver of the iterative graph loops — a superstep in
  * Pregelix's sense (VLDB 2014): each round is one dataflow step from
  * the previous generation of state to the next, with the state kept
  * as checkpointed frames across rounds.
  *
  * A run ([[Superstep.run]]) owns every checkpoint it pins, each at
  * the engine's own storage level and eager/lazy choice:
  *   - [[loop]] frees a generation once the next one is materialized:
  *     after each step whose new state holds eager frames only, every
  *     checkpoint pinned inside the loop that those frames do not read
  *     is freed (the dead generation and the round's own temporaries).
  *     A loop of lazy frames (materialized by the caller's first
  *     action, or by an eager pin after the loop) keeps every
  *     generation until the run ends.
  *   - The halt statistic rides the round's own eager checkpoint job
  *     ([[observe]] / [[count]] through `Dataset.observe`), so loop
  *     control costs no extra action.
  *   - A loop still running after its round cap throws the one
  *     "did not converge within N rounds" error: a mid-iteration state
  *     is never returned as an answer.
  *   - When the run ends, every checkpoint the result's plan does not
  *     read is freed (every lazy pin stays if the result reads one;
  *     a driver value keeps no pin, and a value that holds a Dataset
  *     — a tuple, collection or Option of frames — is rejected), and
  *     every persisted frame is unpersisted; on any
  *     throw every checkpoint is freed (try/finally), so a failed run
  *     leaks no blocks into the caller's session.
  *
  * Freeing at once matters: the ContextCleaner reclaims blocks only on
  * driver GC, and that lag let dead edge-sized generations crowd the
  * unified pool at the 52M-edge rung. */
final class Superstep private {
  private val owned = mutable.LinkedHashMap.empty[Int, RDD[_]]
  private val lazyPins = mutable.Set.empty[Int]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]

  /** `df.localCheckpoint(eager, level)`, owned by this run. */
  def pin(df: DataFrame, level: StorageLevel = Superstep.Memory,
          eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager, level)
    Superstep.rdds(cp).foreach { r =>
      owned(r.id) = r
      if (!eager) lazyPins += r.id
    }
    cp
  }

  /** `df.persist(level)`, unpersisted when the run ends. */
  def persist(df: DataFrame, level: StorageLevel): DataFrame = {
    persisted += df.persist(level)
    df
  }

  /** An eager [[pin]] whose one job also aggregates `stats` over the
    * rows it writes; returns the checkpoint and the stats in order. */
  def observe(df: DataFrame, level: StorageLevel, stats: Column*): (DataFrame, Row) = {
    val o = Observation()
    val named = stats.zipWithIndex.map { case (c, i) => c.as(s"s$i") }
    val cp = pin(df.observe(o, named.head, named.tail: _*), level)
    val m = o.get
    (cp, Row.fromSeq(named.indices.map(i => m(s"s$i"))))
  }

  /** An eager [[pin]] and its row count, from the same job. */
  def count(df: DataFrame, level: StorageLevel = Superstep.Memory): (DataFrame, Long) = {
    val (cp, r) = observe(df, level, countRows(lit(1)))
    (cp, r.getLong(0))
  }

  /** Runs `step(state, done)` from `init` until `halted(state, done)`,
    * where `done` counts the rounds run so far. After each step every
    * checkpoint pinned since the loop began that `frames(next)` does
    * not read is freed — unless a frame of `next` is a lazy pin, whose
    * lineage may still read them; those wait for the run's end (or a
    * later round whose frames are all eager). Past `maxRounds` steps
    * it throws
    * "`what(state)` did not converge within `maxRounds` rounds". */
  def loop[S](init: S, maxRounds: Int, what: S => String)(frames: S => Seq[DataFrame])(
      halted: (S, Int) => Boolean)(step: (S, Int) => S): S = {
    val outside = owned.keySet.toSet -- frames(init).flatMap(Superstep.rdds).map(_.id)
    var state = init
    var done = 0
    while (!halted(state, done)) {
      if (done >= maxRounds) throw new IllegalStateException(
        s"${what(state)} did not converge within $maxRounds rounds")
      state = step(state, done)
      done += 1
      val live = frames(state).flatMap(Superstep.rdds).map(_.id)
      // a lazy frame still reads its predecessors through lineage
      if (!live.exists(lazyPins)) free(outside ++ live)
    }
    state
  }

  /** `n` fixed rounds of `step` — [[loop]] with a round-count halt. */
  def rounds[S](init: S, n: Int)(frames: S => Seq[DataFrame])(step: (S, Int) => S): S =
    loop(init, n, (_: S) => "")(frames)((_, done) => done >= n)(step)

  /** Frees every owned checkpoint whose RDD id is not in `keep`. */
  private def free(keep: Set[Int]): Unit =
    owned.keys.filterNot(keep).toSeq.foreach { id =>
      owned.remove(id).foreach(_.unpersist(blocking = false))
      lazyPins -= id
    }

  private def release(result: Option[Dataset[_]]): Unit = {
    val read = result.toSeq.flatMap(Superstep.rdds).map(_.id).toSet
    // a lazy pin the result reads may still read the others
    free(if (read.exists(lazyPins)) read ++ lazyPins else read)
    persisted.foreach(_.unpersist(blocking = false))
    persisted.clear()
  }
}

object Superstep {
  /** The level `localCheckpoint` uses when given none. */
  val Memory: StorageLevel = StorageLevel.MEMORY_AND_DISK
  val Disk: StorageLevel = StorageLevel.DISK_ONLY

  /** Runs `body` with a fresh [[Superstep]]; see the class doc for
    * what is freed when it returns or throws. The result is either a
    * Dataset, which keeps the pins its plan reads, or a driver value
    * holding no Dataset, which keeps none. */
  def run[A](body: Superstep => A): A = {
    val sc = new Superstep
    var out: Option[A] = None
    try {
      val a = body(sc)
      require(a.isInstanceOf[Dataset[_]] || !holdsDataset(a),
        "a Superstep run returns a Dataset or a value that holds none: " +
          "the pins of a nested frame would be freed")
      out = Some(a)
      a
    } finally sc.release(out.collect { case ds: Dataset[_] => ds })
  }

  private def holdsDataset(v: Any): Boolean = v match {
    case _: Dataset[_] => true
    case xs: Iterable[_] => xs.exists(holdsDataset)
    case p: Product => p.productIterator.exists(holdsDataset)
    case xs: Array[_] => xs.exists(holdsDataset)
    case _ => false
  }

  /** The checkpointed RDDs a frame's plan reads. */
  private def rdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
}
