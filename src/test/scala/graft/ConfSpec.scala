package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import graft.util.Conf

/** Engine feature flags tolerate odd values: only `false` turns one off,
  * and no value makes a query fail. */
class ConfSpec extends SparkSpec {

  test("a default-on flag is off only for a case-insensitive 'false'") {
    for (v <- Seq("false", "FALSE", "False", " false "))
      assert(!Conf.isOn(v), s"'$v' must turn the flag off")
    for (v <- Seq("true", "TRUE", "on", "1", "yes", "", "fals"))
      assert(Conf.isOn(v), s"'$v' must leave the flag on")
  }

  test("spark.graft.tfidf.broadcastVocab: odd values keep the vocabulary broadcast") {
    def hintedJoins(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => j
    }.size
    def t07(v: Option[String]): DataFrame = {
      val key = "spark.graft.tfidf.broadcastVocab"
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try SparkEntry.queries("t07_tfidf")(spark, sfDir) finally spark.conf.unset(key)
    }
    val default = t07(None)
    val expected = default.collect().toSeq
    for (v <- Seq("on", "1", "TRUE")) {
      val df = t07(Some(v))
      assert(hintedJoins(df) == hintedJoins(default), s"broadcastVocab='$v' must keep the hint")
      assert(df.collect().toSeq == expected)
    }
    val off = t07(Some("False"))
    assert(hintedJoins(off) == hintedJoins(default) - 1,
      "broadcastVocab='False' must drop the vocabulary hint")
    assert(off.collect().toSeq == expected, "the gate never changes rows")
  }

  test("hybrid numeric confs: an unusable value falls back to the default") {
    import graft.cache.HybridScan
    val keys = Seq("spark.graft.pushdownSlots", "spark.graft.hotAdmitAfter",
      "spark.graft.cacheCapacity")
    // each router gets a store key no other router declared a slot budget for
    def routed(values: Seq[String]): (Int, Int, Long) = {
      val s = spark.newSession()
      keys.zip(values).foreach { case (k, v) => s.conf.set(k, v) }
      val dir = s"/graft-conf-spec/${java.util.UUID.randomUUID}"
      val r = HybridScan.sessionRouter(s, dir)
      (r.availableSlots, r.hotAdmitAfter, HybridScan.segmentCache(s, dir).capacityBytes)
    }
    for (v <- Seq("abc", "12x", "", "1.5", "-1 GB"))
      assert(routed(Seq(v, v, v)) == ((64, 2, 1L << 30)), s"'$v' must read as the defaults")
    assert(routed(Seq(" 7 ", "0", "64m")) == ((7, 0, 64L << 20)), "usable values read as given")
  }
}
