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
}
