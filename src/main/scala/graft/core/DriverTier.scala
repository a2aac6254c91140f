package graft.core

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, Row}

/** The one driver-vs-distributed tier rule. Iterative cores (the graph
  * loops, connected components, the BPE trainer) run the SAME algorithm
  * on the driver below a row cutover, where per-job scheduling would
  * dominate, and keep their relational rounds as the at-scale path — a
  * run-time plan choice from an observed count (Shark's partial DAG
  * execution). The cutover bounds the rows collected at the gate: for
  * connected components, raw (src, dst) pairs, not canonical edges.
  * Each decision logs one INFO line (site, rows or "unprobed", limit,
  * tier) on this logger, which `tools.Probe` raises to INFO. The gate
  * neither checkpoints nor releases `df`: its creator frees it.
  */
object DriverTier {
  private val log = LogManager.getLogger("graft.core.DriverTier")

  /** Edge-row cutover for the graph family's driver tiers (q54, q63,
    * q68, q69, q71). MEASURED, not copied from the CC cutover: the
    * driver tier's cost is the edge collect + LocalRelation result
    * (scales with |E|) against the distributed loop's per-round join
    * scheduling (flat). At sf0.1/local[32], 1.4×10⁵ directed edge rows
    * collect fast enough that the driver tier wins ≥ 1.3× (q68/q69/
    * q71), while 1.2×10⁶ rows lose 2× (q54's trade graph: 1.72 s
    * distributed vs 3.76 s collected — r15 measurement). 2¹⁸ sits at
    * the geometric midpoint, on the winning side's shoulder; above it
    * the relational loops are already the right shape.
    */
  val GraphDriverMaxEdges: Long = 1L << 18

  /** Edge-count cutover between the driver union-find and the
    * distributed large-star/small-star loop (and q66's peel): 2²¹
    * (src, dst) rows is ~32 MB of longs on the driver — the same order
    * as a broadcast join's build side, and the label table it produces
    * broadcasts back for the same reason. Candidate-pair graphs are
    * orders of magnitude smaller than the corpus (near-dup fraction ×
    * bucket co-occurrence), so even multi-TB corpora usually land under
    * it; the distributed loop is the correctness backstop, not a rarity
    * apology — specs pin both paths label-identical.
    */
  val CcDriverMaxEdges: Long = 1L << 21

  /** Vocab-size cutover between the driver BPE trainer and the
    * distributed merge loop — the [[CcDriverMaxEdges]] discipline
    * applied to BPE: a distinct-word table under 2²⁰ rows is a few tens
    * of MB of (word, count) pairs — broadcast-scale driver state — and
    * training on it is a tight in-memory loop instead of 2·K Spark jobs
    * whose per-job scheduling floor dominates at every realistic K
    * (r15: the K=10 fixture loop spent ~1.5 s on ~21 jobs over a
    * 31-row table). Real vocabularies are low millions of rows, so
    * even 100 TB corpora usually land under the cutover once the
    * corpus has collapsed to its distinct words; the distributed loop
    * is the correctness backstop, spec-pinned merge-identical.
    */
  val BpeDriverMaxVocab: Long = 1L << 20

  /** `maxRows <= 0` runs `distributed(-1)` with no count job (callers
    * that know their input exceeds any cutover, and specs forcing the
    * distributed arm). Otherwise `df` is counted once: `n <= maxRows`
    * (empty input included) runs `local` over its collected rows, a
    * larger `n` runs `distributed(n)`.
    */
  def run[A](df: DataFrame, maxRows: Long, site: String)
      (local: Array[Row] => A)(distributed: Long => A): A = {
    val n = if (maxRows > 0) df.count() else -1L
    val driver = n >= 0 && n <= maxRows
    log.info(s"site=$site rows=${if (n < 0) "unprobed" else n} " +
      s"limit=$maxRows tier=${if (driver) "driver" else "distributed"}")
    if (driver) local(df.collect()) else distributed(n)
  }
}
