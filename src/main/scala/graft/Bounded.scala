package graft

import org.apache.spark.sql.Dataset

/** The single owner of the house bounded-collect contract (r14 verdict:
  * the `limit(cap+1) + collect + require` idiom had grown three
  * hand-rolled copies — ExactPercentiles' probe, q105's model rollups,
  * q111's frequent-singles pass — and a fourth site could forget the
  * cap).
  *
  * Contract: a driver-side materialization is legal ONLY for frames that
  * are ≪ corpus by construction (model tables, per-key probes, query-term
  * sets). `cap` is the loud ceiling on that assumption — sized to what
  * the DOWNSTREAM consumer can sustain, not to "fits in driver memory"
  * (r14 advice: q105's old 65536 guard admitted 35k classes that then
  * hung the ×L scoring join; the guard must refuse where the plan would
  * stall, not merely where the collect would OOM). The limit(cap+1)
  * bounds the materialization itself, so a hostile corpus-cardinality
  * frame fails in O(cap) rows, never O(corpus).
  */
object Bounded {

  /** Collect at most `cap` rows of `ds`, failing loudly (with `what` and
    * the optional `hint` in the message) when the frame exceeds the cap.
    * Every message contains "cardinality exceeds" — specs pin the loud
    * path on that substring.
    */
  def collectBounded[T](ds: Dataset[T], cap: Int, what: String,
                        hint: String = ""): Array[T] = {
    val rows = ds.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what cardinality exceeds $cap — refusing the driver-side " +
        "materialization (bounded-collect contract: collected frames " +
        "must be ≪ corpus by construction)" +
        (if (hint.nonEmpty) s"; $hint" else ""))
    rows
  }
}
