package graft

/** Whole-number `SPARK_GRAFT_*` environment settings. A bad value fails
  * where it is read, with the variable's name and value in the message,
  * not as a bare `NumberFormatException` from inside an operator. */
object Env {

  /** `name` as a non-negative Long, or `default` when unset. */
  def long(name: String, default: Long): Long =
    sys.env.get(name).fold(default)(parseLong(name, _))

  private[graft] def parseLong(name: String, value: String): Long =
    value.toLongOption.filter(_ >= 0L).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a whole number >= 0 in Long range, got '$value'"))
}
