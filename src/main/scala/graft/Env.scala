package graft

/** `SPARK_GRAFT_*` environment settings, all read here. A bad value fails
  * where it is read, with the variable's name and value in the message,
  * not as a bare `NumberFormatException` from inside an operator. */
object Env {

  /** `name` as a non-negative Long, or `default` when unset. */
  def long(name: String, default: Long): Long =
    sys.env.get(name).fold(default)(parseLong(name, _))

  /** `SPARK_GRAFT_CPUS`: cores and shuffle partitions of the local
    * session, 4 when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(parseCpus)

  /** `SPARK_GRAFT_CC_SMALL_EDGES`: the driver-gather ceiling, 131,072 when
    * unset. A graph or id set of at most this many rows is collected and
    * worked on the driver in one pass; a larger one stays distributed.
    * `Dedup.connectedComponents` compares its canonical edge count and
    * `IdentifierDim` its distinct identifier count against it; 0 keeps
    * both on their distributed paths.
    *
    * Driver memory at the default: 131,072 edges × 2 longs ≈ 2 MiB of id
    * payload (string ids cost their UTF-8 bytes instead); the collected
    * rows, the boxed ids and the sort over 2·E endpoints add transient JVM
    * object overhead of a small multiple of that. */
  def driverGatherCeiling: Long = long("SPARK_GRAFT_CC_SMALL_EDGES", 131072L)

  /** `SPARK_GRAFT_ONLY`: comma-separated query names, empty (all) when unset. */
  def only: Set[String] = parseNames(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))

  private[graft] def parseLong(name: String, value: String): Long =
    value.toLongOption.filter(_ >= 0L).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a whole number >= 0 in Long range, got '$value'"))

  private[graft] def parseCpus(value: String): Int =
    value.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a whole number >= 1, got '$value'"))

  private[graft] def parseNames(value: String): Set[String] =
    value.split(",").map(_.trim).filter(_.nonEmpty).toSet
}
