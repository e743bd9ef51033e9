package graft.ops

import org.apache.spark.sql.DataFrame

import scala.annotation.tailrec

/** Lineage pinning and the bounded round loop of every iterative
  * operator. [[pin]] is the one place the engine cuts lineage: an
  * eager `localCheckpoint`, whose blocks a lost executor loses.
  * Superseded pins are reclaimed by the ContextCleaner once their RDD
  * is unreachable (`Dataset.unpersist` only walks the CacheManager,
  * which never sees a local checkpoint). Operators whose state is not
  * one DataFrame pinned every round keep their own fold and call
  * [[pin]].
  */
object Iterate {

  /** Materialize `df` now; the result's plan is those blocks alone. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** One round's outcome: [[Fixpoint]] stops with the state unchanged;
    * [[Next]] pins `next` as the new state and stops after this round
    * when `done` holds on the pinned state. */
  sealed trait Round
  case object Fixpoint extends Round
  final case class Next(next: DataFrame,
                        done: DataFrame => Boolean = _ => false)
      extends Round

  /** At most `rounds` rounds of `step` (state, 1-based round) from
    * `init`, which is used as given: pin it first if the rounds must
    * not re-derive it. Returns the final state and whether a round
    * converged. */
  def loop(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => Round): (DataFrame, Boolean) = {
    @tailrec def go(state: DataFrame, round: Int): (DataFrame, Boolean) =
      if (round > rounds) (state, false)
      else step(state, round) match {
        case Fixpoint => (state, true)
        case Next(next, done) =>
          val pinned = pin(next)
          if (done(pinned)) (pinned, true) else go(pinned, round + 1)
      }
    go(init, 1)
  }
}
