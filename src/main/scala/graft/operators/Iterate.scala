package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one round discipline behind every iterative operator here (the
  * [[GraphRank]] ladders, [[Dedup.connectedComponents]],
  * [[LabelProp.propagate]], [[Prototypes.kmeansLloyd]] and
  * [[Prototypes.kCenterGreedy]], [[Spectral]]'s power iteration and
  * [[TextAnalysis.textRank]]). A caller states the initial state and
  * one step; each round then
  *   1. takes a [[graft.Caches.mark]],
  *   2. builds `step(state, round)`,
  *   3. materializes it with ONE action — `localCheckpoint(eager =
  *      true)`, carrying an `observe` of the stop witness when there is
  *      one, so the witness is filled by the checkpoint's own jobs and
  *      no probe job runs,
  *   4. releases the round's scratch persists
  *      ([[graft.Caches.releaseSince]]): the checkpoint no longer needs
  *      them, and nothing else can.
  * The initial state is checkpointed (and observed) the same way as
  * round 0.
  *
  * Why checkpoint and not persist: a persisted state keeps its whole
  * lineage, so round r's plan embeds every earlier round's — the plan
  * tree grows with r (2^r for the halving self-join of connected
  * components, where Catalyst ran out of memory stringifying it at a
  * 2,000-node chain) and every round re-analyses the deeper plan. An
  * eager local checkpoint replaces the lineage with the materialized
  * rows; superseded states are reclaimed by the ContextCleaner once
  * dereferenced. (Swap to a reliable `checkpoint` when executor loss
  * must be survivable mid-loop.)
  *
  * Why every round: leaving rounds lazy and checkpointing every k-th
  * was measured slower, not faster — HITS with lazy half-steps
  * re-evaluated each lazy state's subtree about four times per round
  * (q242 in the r20 bench: 5.5 s -> 9.4 s). There is deliberately no
  * every-k option.
  *
  * The stop rule ([[untilStable]], and [[rounds]] given a witness): stop
  * after the first round whose witness row equals the previous state's.
  * That is sound only over a MONOTONE state — one whose every change
  * moves the witness one way (labels only decrease, edge sets only
  * shrink, registers only grow): then an unchanged witness means an
  * unchanged state, and every later round is a no-op. A witness over a
  * non-monotone state can repeat while the state still moves. */
private[graft] object Iterate {

  /** Up to `n` rounds from `init`; the states of rounds 0..ran (index =
    * round). With a `stopWhenStable` witness the ladder ends early at
    * the first stable round — a horizon cut short at a fixed point,
    * never an error. */
  def rounds(init: DataFrame, n: Int, stopWhenStable: Seq[Column] = Nil)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
    val states = IndexedSeq.newBuilder[DataFrame]
    loop(init, n, stopWhenStable, step)(states += _)
    states.result()
  }

  /** Rounds from `init` until one observes the same `witness` as the
    * state before it; returns that state and the rounds it ran (the
    * confirming round included). Throws when `maxRounds` rounds pass
    * without a stable one. */
  def untilStable(init: DataFrame, maxRounds: Int, what: String)(
      step: (DataFrame, Int) => DataFrame)(
      witness: Column*): (DataFrame, Int) = {
    require(witness.nonEmpty, "untilStable needs a witness")
    val (state, ran, stable) = loop(init, maxRounds, witness, step)(_ => ())
    if (!stable) throw new IllegalStateException(
      s"$what did not converge within $maxRounds rounds")
    (state, ran)
  }

  private def loop(init: DataFrame, maxRounds: Int, witness: Seq[Column],
      step: (DataFrame, Int) => DataFrame)(
      visit: DataFrame => Unit): (DataFrame, Int, Boolean) = {
    var (state, seen) = materialize(init, witness)
    visit(state)
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      round += 1
      val scope = graft.Caches.mark()
      val (next, observed) =
        try materialize(step(state, round), witness)
        finally graft.Caches.releaseSince(scope)
      stable = witness.nonEmpty && observed == seen
      state = next
      seen = observed
      visit(state)
    }
    (state, round, stable)
  }

  /** One action: the eager checkpoint, with the witness observed in
    * the same pass (empty when there is no witness). */
  private def materialize(df: DataFrame,
      witness: Seq[Column]): (DataFrame, Map[String, Any]) =
    if (witness.isEmpty) (df.localCheckpoint(true), Map.empty)
    else {
      val obs = Observation()
      val named = witness.zipWithIndex.map { case (c, i) => c.as(s"w$i") }
      val cp = df.observe(obs, named.head, named.tail: _*)
        .localCheckpoint(true)
      (cp, obs.get)
    }
}
