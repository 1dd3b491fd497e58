package graft.operators

import org.apache.spark.sql.DataFrame

/** The round loop of the iterative graph operators: the operator
  * supplies one round's plan, this object runs the rounds.
  *
  * Every round's new frame is materialized with an EAGER
  * `localCheckpoint`, so the next round's plan starts from a scan of
  * that checkpoint instead of the whole iterative lineage — the
  * logical plan, the analyzer's work and the driver's memory stay
  * constant-size at any depth (the §2.3 row 26b lesson: an uncut
  * lineage grows a plan per round until planning dominates). Once
  * the successor has materialized, the superseded frame is released
  * with [[Checkpoints.free]], so the block manager holds O(1) rounds
  * rather than one copy per round. The loop owns every frame it
  * creates and the initial state it is given; it frees all of them
  * except the state it returns, also when the budget runs out.
  */
private[graft] object Fixpoint {

  /** A loop's final state (owned by the caller from here on) and
    * whether it reached its fixpoint inside the round budget. */
  final case class Result(state: DataFrame, converged: Boolean)

  /** Delta loop: a state paired with a frontier of the rows that last
    * changed. Round r (1-based) checkpoints `step(frontier, state, r)`
    * and stops on an empty result (one `isEmpty` probe); otherwise
    * the new rows are merged into the state — appended when
    * `mergeKeys` is empty, else replacing the state rows they match
    * on those keys (left-anti + union) — and become the next
    * frontier. The first frontier is `state0` itself.
    *
    * When `maxRounds` rounds all changed something, `exhausted`
    * decides with the last frontier still live whether work is left
    * (the default assumes it is); the loop converged iff none is.
    */
  def delta(state0: DataFrame, maxRounds: Int, mergeKeys: Seq[String] = Nil,
            exhausted: (DataFrame, DataFrame) => Boolean = (_, _) => true)
           (step: (DataFrame, DataFrame, Int) => DataFrame): Result = {
    var state = state0
    var frontier = state0
    var round = 1
    var converged = false
    while (!converged && round <= maxRounds) {
      val next = step(frontier, state, round).localCheckpoint(true)
      if (next.isEmpty) {
        Checkpoints.free(next)
        converged = true
      } else {
        val kept = if (mergeKeys.isEmpty) state
                   else state.join(next, mergeKeys, "left_anti")
        val merged = kept.unionAll(next).localCheckpoint(true)
        Checkpoints.free(state)
        if (frontier ne state0) Checkpoints.free(frontier)
        state = merged
        frontier = next
      }
      round += 1
    }
    if (!converged) converged = !exhausted(frontier, state)
    if (frontier ne state0) Checkpoints.free(frontier)
    Result(state, converged)
  }

  /** Replace-until-stable loop: each round checkpoints
    * `step(state, p)` as the new state and frees the old one, where
    * `p` is the last probe value (`p0` for round 1, taken by the
    * caller on `state0`). With a `probe`, every new state is probed
    * once, and the loop stops when the value repeats or `done` holds
    * for it (`done` is also checked on `p0`). Without one it runs
    * exactly `maxRounds` rounds.
    */
  def stable[P](state0: DataFrame, p0: P, maxRounds: Int,
                probe: Option[DataFrame => P],
                done: P => Boolean = (_: P) => false)
               (step: (DataFrame, P) => DataFrame): Result = {
    var state = state0
    var p = p0
    var round = 0
    var converged = done(p0)
    while (!converged && round < maxRounds) {
      val next = step(state, p).localCheckpoint(true)
      Checkpoints.free(state)
      state = next
      probe.foreach { f =>
        val q = f(next)
        converged = q == p || done(q)
        p = q
      }
      round += 1
    }
    Result(state, converged)
  }
}
