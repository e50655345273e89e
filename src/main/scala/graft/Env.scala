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
