package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Iterate

/** The round combinator: round counts, the stop rule read from the
  * checkpoint's own observation, the cap, and per-round release of
  * scratch persists. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  // x := min(x + 1, cap) per row: grows, then sits at the cap
  private def grow(cap: Long)(s: DataFrame, round: Int): DataFrame =
    s.select(least(col("x") + 1L, lit(cap)).as("x"))

  private def xs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("rounds runs exactly n rounds and returns states 0..n; n = 0 " +
    "returns the initial state") {
    val init = Seq(0L, 10L).toDF("x")
    val ladder = Iterate.rounds(init, 3)(grow(100L))
    assert(ladder.map(xs) == Seq(Seq(0L, 10L), Seq(1L, 11L),
      Seq(2L, 12L), Seq(3L, 13L)))
    assert(Iterate.rounds(init, 0)(grow(100L)).map(xs) ==
      Seq(Seq(0L, 10L)))
  }

  test("the step sees the 1-based round number") {
    val seen = Seq.newBuilder[Int]
    Iterate.rounds(Seq(0L).toDF("x"), 3) { (s, r) => seen += r; s }
    assert(seen.result() == Seq(1, 2, 3))
  }

  test("untilStable stops on the first round whose witness repeats, " +
    "counting that confirming round") {
    // 0 -> 1 -> 2 -> 3 -> 3: three growth rounds + one confirming
    val (out, ran) = Iterate.untilStable(Seq(0L).toDF("x"), 10, "grow")(
      grow(3L))(sum(col("x")))
    assert(xs(out) == Seq(3L) && ran == 4)
    // the confirming round may be the last one the cap allows
    assert(Iterate.untilStable(Seq(0L).toDF("x"), 4, "grow")(grow(3L))(
      sum(col("x")))._2 == 4)
  }

  test("untilStable throws past its cap instead of returning an " +
    "unconverged state") {
    val e = intercept[IllegalStateException] {
      Iterate.untilStable(Seq(0L).toDF("x"), 3, "grow")(grow(3L))(
        sum(col("x")))
    }
    assert(e.getMessage == "grow did not converge within 3 rounds")
  }

  test("rounds with a witness ends early at a fixed point and never " +
    "throws at its horizon") {
    val early = Iterate.rounds(Seq(0L).toDF("x"), 10,
      Seq(sum(col("x"))))(grow(2L))
    assert(early.map(xs) == Seq(Seq(0L), Seq(1L), Seq(2L), Seq(2L)))
    val cut = Iterate.rounds(Seq(0L).toDF("x"), 1,
      Seq(sum(col("x"))))(grow(2L))
    assert(cut.map(xs) == Seq(Seq(0L), Seq(1L)))
  }

  test("a round's scratch persists are released once its checkpoint " +
    "holds the state") {
    Caches.unpersistAll()
    val kept = Caches.register(Seq(1L).toDF("x").persist())
    val out = Iterate.rounds(Seq(0L).toDF("x"), 4) { (s, _) =>
      Caches.register(s.select((col("x") + 1L).as("x")).persist())
    }.last
    assert(Caches.registered == 1, "only the caller's own persist stays")
    assert(kept.storageLevel.useMemory)
    assert(xs(out) == Seq(4L))
    Caches.unpersistAll()
  }

  test("untilFixpoint stops at the first state that observes its " +
    "fixpoint, with no confirming round, and throws past its cap") {
    val atCap = max(col("x")) === 3L
    // 0 -> 1 -> 2 -> 3: the third state observes the fixpoint
    val (out, ran) = Iterate.untilFixpoint(Seq(0L).toDF("x"), 10, "grow")(
      grow(3L))(atCap)
    assert(xs(out) == Seq(3L) && ran == 3)
    assert(Iterate.untilFixpoint(Seq(3L).toDF("x"), 10, "grow")(grow(3L))(
      atCap)._2 == 0, "an initial state at the fixpoint runs no round")
    val e = intercept[IllegalStateException] {
      Iterate.untilFixpoint(Seq(0L).toDF("x"), 2, "grow")(grow(3L))(atCap)
    }
    assert(e.getMessage == "grow did not converge within 2 rounds")
  }
}
