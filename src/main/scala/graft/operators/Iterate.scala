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
  * Two stop rules, both read from the round's own checkpoint:
  *  - [[untilStable]] (and [[rounds]] given a witness) stops after the
  *    first round whose witness row equals the previous state's. That
  *    is sound only over a MONOTONE state — one whose every change
  *    moves the witness one way (labels only decrease, edge sets only
  *    shrink, registers only grow): then an unchanged witness means an
  *    unchanged state, and every later round is a no-op. A witness over
  *    a non-monotone state can repeat while the state still moves. The
  *    round that shows the repeat is a whole round that changed nothing.
  *  - [[untilFixpoint]] stops at the first state (the initial one
  *    included) whose observed `atFixpoint` is true: the state carries
  *    what the next round would read (e.g. each node's neighbour
  *    minimum), so it can tell from its own rows that the next round
  *    would change nothing, and that round is never run. */
private[graft] object Iterate {

  /** Up to `n` rounds from `init`; the states of rounds 0..ran (index =
    * round). With a `stopWhenStable` witness the ladder ends early at
    * the first stable round — a horizon cut short at a fixed point,
    * never an error. */
  def rounds(init: DataFrame, n: Int, stopWhenStable: Seq[Column] = Nil)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
    val states = IndexedSeq.newBuilder[DataFrame]
    loop(init, n, stopWhenStable, step, repeats)(states += _)
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
    converged(loop(init, maxRounds, witness, step, repeats)(_ => ()),
      maxRounds, what)
  }

  /** Rounds from `init` until a state observes `atFixpoint` (an
    * aggregate boolean over the state's rows) as true; returns that
    * state and the rounds it ran — 0 when `init` is already at the
    * fixpoint, and no confirming round. Throws when `maxRounds` rounds
    * pass without reaching it. */
  def untilFixpoint(init: DataFrame, maxRounds: Int, what: String)(
      step: (DataFrame, Int) => DataFrame)(
      atFixpoint: Column): (DataFrame, Int) =
    converged(loop(init, maxRounds, Seq(atFixpoint), step,
      (_, cur) => cur("w0") == true)(_ => ()), maxRounds, what)

  private val repeats: (Option[Map[String, Any]], Map[String, Any]) => Boolean =
    (prev, cur) => prev.contains(cur)

  private def converged(run: (DataFrame, Int, Boolean), maxRounds: Int,
      what: String): (DataFrame, Int) = {
    val (state, ran, done) = run
    if (!done) throw new IllegalStateException(
      s"$what did not converge within $maxRounds rounds")
    (state, ran)
  }

  /** The loop behind all three: `stop(previous observation, this
    * observation)` is asked of every observed state, the initial one
    * (with no previous) included. */
  private def loop(init: DataFrame, maxRounds: Int, witness: Seq[Column],
      step: (DataFrame, Int) => DataFrame,
      stop: (Option[Map[String, Any]], Map[String, Any]) => Boolean)(
      visit: DataFrame => Unit): (DataFrame, Int, Boolean) = {
    var (state, seen) = materialize(init, witness)
    visit(state)
    var round = 0
    var done = witness.nonEmpty && stop(None, seen)
    while (!done && round < maxRounds) {
      round += 1
      val scope = graft.Caches.mark()
      val (next, observed) =
        try materialize(step(state, round), witness)
        finally graft.Caches.releaseSince(scope)
      done = witness.nonEmpty && stop(Some(seen), observed)
      state = next
      seen = observed
      visit(state)
    }
    (state, round, done)
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
