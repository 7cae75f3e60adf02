package graft.graph

import org.apache.spark.sql.SparkSession

/** Shared scaffolding for the QUOTIENT fast paths: operators whose
  * result is a pure function of the dimension-bounded (brand, size)
  * class graph run in-process over that graph, then stamp results
  * back onto the fact table.
  *
  * The class map itself is collected in ONE place, [[Dispatch.probe]]:
  * a routed call probes once, and the probed map is both the routing
  * decision and the kernel's input. This object holds what the probe
  * and the row-probe routes share — the two conf-tunable bounds, the
  * one resolution of a class bound ([[classBound]]), the bounded
  * collect ([[probeRows]]) and the decimal quantizer. */
object Quotient {

  /** Default domain bound for any collected class graph (|brands|·|sizes|
    * is attribute-domain-bounded regardless of fact count). */
  val MAX_CLASSES = 100000

  /** Conf keys for the routing bounds: a deployment can move each
    * in-process/distributed crossover without a rebuild. `maxClasses`
    * governs every class-domain probe; `probeBound` governs the
    * row-probe routes: the BFS spine, the [[GraphDB]] edge handle,
    * Brandes σ, PageRank, KCore, KTruss, Louvain, Mst and the
    * connected-components local finish. DispatchSpec pins both values
    * AND each operator's route at the shipped SFs. */
  val MAX_CLASSES_KEY = "spark.graft.quotient.maxClasses"
  val PROBE_BOUND_KEY = "spark.graft.dispatch.probeBound"

  /** Default row-probe bound for the in-process sweep routes. */
  val PROBE_BOUND = 1 << 20

  def maxClasses(s: SparkSession): Int = confBound(s, MAX_CLASSES_KEY, MAX_CLASSES)
  def probeBound(s: SparkSession): Int = confBound(s, PROBE_BOUND_KEY, PROBE_BOUND)

  private def confBound(s: SparkSession, key: String, default: Int): Int = {
    val v = s.conf.get(key, default.toString).toInt
    require(v >= 1, s"$key must be >= 1, got $v")
    v
  }

  /** Resolves a caller bound: negative = "use the session default"
    * (the conf-tunable crossover), non-negative = the caller's own. */
  private[graph] def resolve(bound: Int, s: SparkSession, default: SparkSession => Int): Int =
    if (bound < 0) default(s) else bound

  /** THE class bound every class-domain route probes at: the caller's
    * `bound`, else the conf default, clamped to [[maxClasses]]. The
    * conf is the deployment's cap on how many class rows one collect
    * may bring to the driver, so an explicit larger request falls back
    * earlier than asked rather than past the cap. */
  private[graph] def classBound(s: SparkSession, bound: Int): Int =
    math.min(resolve(bound, s, maxClasses), maxClasses(s))

  /** The engine-wide message quantizer (DECIMAL(28,12) HALF_UP —
    * Spark's double→decimal cast semantics), used wherever an
    * in-process fast path must replicate a distributed decimal
    * contract bit-for-bit. */
  def q12(d: Double): BigDecimal =
    BigDecimal.decimal(d).setScale(12, BigDecimal.RoundingMode.HALF_UP)

  /** The generic bounded probe every routed operator shares: Some(the
    * collected rows) when `df` is within `bound`, None past it. The
    * limit sits INSIDE the collect — at most bound + 1 rows ever
    * reach the driver, whatever the input size — and the rows ARE the
    * fast path's input, so routing costs no second job. */
  def probeRows(df: org.apache.spark.sql.DataFrame,
                bound: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.limit(bound + 1).collect()
    if (rows.length > bound) None else Some(rows)
  }
}
