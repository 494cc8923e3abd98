package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Presentation-sort helper for projection-shaped entries (r13).
  *
  * A global `orderBy` plans a range exchange, and computing its
  * bounds SAMPLES the child plan — a full extra execution of
  * whatever sits below. For an aggregate-shaped entry that re-run
  * reads the aggregate's materialized shuffle (cheap); for a
  * projection-shaped entry there is NO exchange below the sort, so
  * the sampling pass re-runs the scan + kernel wholesale. Measured
  * at sf10 with a stage-level listener: `text_langid` computes in
  * 2.79 s but the entry took 8.09 s; `text_pii` 1.29 vs 3.82 s —
  * the "per-entry scan + sort floor" r12 recorded was mostly this
  * double pass.
  *
  * Fix: one cheap hash exchange of the RESULT rows (kernel outputs,
  * no text column) right below the sort. AQE materializes it once;
  * the range sampling then reads shuffle output instead of
  * re-running the kernel. At warehouse scale the result shuffle is
  * output-row-sized — still the right trade against a second full
  * corpus scan, and a deployment that doesn't need a globally
  * ordered presentation drops the sort entirely.
  */
object Present {
  def ordered(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(keys.head).orderBy(keys: _*)

  /** Presentation sort for BOUNDED outputs (r16): when the result is
    * a small presentation table (cohort matrices, per-type rollups —
    * thousands of rows by construction), a global `orderBy` still
    * pays a range exchange whose bound computation SAMPLES the child
    * — one extra pass over the final aggregate stage per execution,
    * measured at ~1.0 s of q_events_tumbling's 3.17 s at sf100
    * (BASELINE r14 decomposition). A single-partition exchange + one
    * in-partition sort produces the IDENTICAL total order (one
    * partition ⇒ in-partition order IS global order) with no
    * sampling job and no range boundaries to compute. The upstream
    * aggregation keeps its full parallelism — only the bounded
    * result rows funnel to one task, which is also the right shape
    * on a 1000-executor cluster: a tiny presentation sort should be
    * one task, not a 200-partition range exchange of 3 k rows.
    * Unbounded outputs must keep [[ordered]] — funneling a corpus-
    * sized result to one partition is exactly the anti-pattern. */
  def orderedBounded(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys: _*)
}
