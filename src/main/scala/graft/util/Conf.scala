package graft.util

/** Parsing of the engine's own `spark.graft.*` session confs. A conf is
  * read inside the optimizer or an operator on every query, so a value
  * the parser rejects must not throw there: it would fail every query
  * the session runs, not the `SET` that stored it. */
object Conf {

  /** A default-on feature flag: only `false` (any case, surrounding
    * blanks ignored) turns it off. `SET k=on`, `1`, `TRUE` or a typo keep
    * the feature on, as if the conf were unset. */
  def isOn(raw: String): Boolean = !raw.trim.equalsIgnoreCase("false")

  /** Per conf key, the last rejected value warned about — one warning
    * per bad value, not one per read. */
  private val warned = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The value of conf `key` (`raw`, None when unset) as `parse` reads
    * it (surrounding blanks trimmed), or `default` when it is unset or
    * `parse` rejects it; a rejected value is logged once, naming what
    * was `expected`. */
  def parsed[T](key: String, raw: Option[String], default: T, expected: String)(
      parse: String => Option[T]): T =
    raw.fold(default) { v =>
      parse(v.trim).getOrElse {
        if (warned.put(key, v) != v)
          org.slf4j.LoggerFactory.getLogger("graft.conf")
            .warn(s"$key='$v' is not $expected; using $default")
        default
      }
    }

  /** A byte size in Spark's notation (`512m`, `1g`, a plain count),
    * None when unparsable or negative. */
  def bytes(v: String): Option[Long] =
    try Some(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).filter(_ >= 0)
    catch { case _: NumberFormatException | _: IllegalArgumentException => None }
}
