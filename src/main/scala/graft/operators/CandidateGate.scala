package graft.operators

import graft.engine.GraftSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** The budget gate of every quadratic-risk pair generator — the
  * reference's "estimate the cost before paying for execution" rule
  * (`engine/src/cost_estimator.cpp`, `sqlopt.cpp:423-457`) applied to
  * blocked self-joins, whose "blocked" candidate volume turns all-pairs
  * under bucket skew (constant payloads, template embeddings, a
  * no-vocabulary-growth corpus). Each generator supplies only its own
  * frames, its EXACT pre-verify bound query, the bound's worst-bucket
  * column and its remediation hint; the contract below is the gate's:
  *
  *  1. `onExceed` is validated first: `fail`, `guard`, or the caller's
  *     fallback name (`IllegalArgumentException` otherwise).
  *  2. The `shared` frames are persisted MEMORY_AND_DISK (spills, never
  *     recomputes) for the call — they feed the bound read AND every
  *     join side — and released in a `finally`, so no branch (the
  *     throwing one included) leaks cached blocks into a long session.
  *  3. `maxCandidates == Long.MaxValue` skips the bound job entirely:
  *     zero overhead next to the ungated operator.
  *  4. Otherwise the bound frame — at most one row per block, each with a
  *     `candidate_pairs` column and the worst-bucket column — is
  *     collected (a constant-size driver read), summed, and compared.
  *  5. Within budget the pairs are eagerly pinned
  *     ([[GraftSession.eagerPin]]) — BIT-IDENTICAL to the ungated
  *     operator (same frames, same join; the gate only adds the bound
  *     aggregate). Over budget, `onExceed` picks the response:
  *     - `"fail"`: `IllegalStateException` reading
  *       `<kind> candidate bound <total> exceeds budget <max> (<worst>); <hint>`,
  *       where `<worst>` describes the row with the most candidate pairs;
  *     - `"guard"`: the 1-row guard frame
  *       `(candidate_pairs, <worstCol>, budget)` — the decision as data,
  *       schema intentionally distinct from the pairs schema (the bound
  *       is evaluated eagerly, so callers branch on `columns`);
  *     - the fallback's name: the fallback's result, computed while the
  *       shared frames are still cached.
  */
private[operators] object CandidateGate {

  /** @param kind     names the generator in the over-budget error
    * @param worstCol the bound frame's worst-bucket column; the guard frame
    *                 reports its maximum across blocks
    * @param describe renders the worst bound row for the error
    * @param hint     the remediation the error ends with
    * @param fallback an extra `onExceed` mode and the frame it returns
    */
  def apply(kind: String, maxCandidates: Long, onExceed: String,
      shared: Seq[DataFrame], worstCol: String, describe: Row => String,
      hint: String, fallback: Option[(String, () => DataFrame)] = None)(
      bound: => DataFrame, pairs: => DataFrame): DataFrame = {
    val modes = Seq("fail", "guard") ++ fallback.map(_._1)
    require(modes.contains(onExceed),
      s"onExceed must be ${modes.mkString("|")}, got $onExceed")
    shared.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      lazy val b = bound
      lazy val rows = b.collect()
      lazy val total = rows.map(_.getAs[Long]("candidate_pairs")).sum
      if (maxCandidates == Long.MaxValue || total <= maxCandidates)
        GraftSession.eagerPin(pairs)
      else onExceed match {
        case "fail" => throw new IllegalStateException(
          s"$kind candidate bound $total exceeds budget $maxCandidates " +
            s"(${describe(rows.maxBy(_.getAs[Long]("candidate_pairs")))}); $hint")
        case "guard" =>
          import b.sparkSession.implicits._
          Seq((total, rows.map(_.getAs[Long](worstCol)).max, maxCandidates))
            .toDF("candidate_pairs", worstCol, "budget")
        case _ => fallback.get._2()
      }
    } finally shared.foreach(_.unpersist(false))
  }
}
