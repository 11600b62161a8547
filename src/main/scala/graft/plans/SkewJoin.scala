package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted join — the manual skew weapon for when AQE's runtime skew-join
  * split (on in `GraftSession`) can't help: a single hot key whose hash
  * partition exceeds one executor's memory no matter how AQE splits
  * post-shuffle, or a build side that must replicate.
  *
  * The fact side gets a deterministic salt in [0, salts) derived from a
  * unique fact column (xxhash64-based, so the same row always lands in
  * the same salt bucket — reproducible across runs, unlike `rand()`);
  * the dim side is replicated `salts` times. The join key
  * becomes (key, salt): the hot key's rows spread over `salts` partitions,
  * each meeting its own copy of the dim row. Pure plan rewrite — the
  * result set is EXACTLY the plain join's, which the q43 oracle proves by
  * hashing against the unsalted SQL.
  *
  * Cost model: dim shuffle volume × salts — use for skewed fact ⋈ small
  * dim where the broadcast path is unavailable (e.g. the dim is the
  * output of an earlier stage that must stay partitioned). */
object SkewJoin {

  /** Inner-join `fact` and `dim` on `factKey === dimKey`, salted `salts`
    * ways. `factSaltSource` must be any deterministic fact column (ideally
    * unique — only the distribution, not correctness, depends on it). */
  def salted(fact: DataFrame, dim: DataFrame,
      factKey: Column, dimKey: Column, factSaltSource: Column,
      salts: Int): DataFrame = {
    require(salts > 0, s"salts=$salts must be positive")
    // the salt plumbing owns these names — a caller column would be
    // silently replaced by withColumn and then dropped
    val clash = (fact.columns ++ dim.columns).filter(Set("__fsalt", "__dsalt"))
    require(clash.isEmpty,
      s"salted: column names ${clash.mkString(", ")} are reserved internals")
    // xxhash64 mod salts: deterministic and uniform, and a single
    // codegen'd long hash per row. (r17 optimization: the original
    // md5→hex→substring→conv(16,10)→cast chain cost ~0.8 s/600k rows at
    // sf0.1 — measured in r17's A/B of the two salt forms — because
    // the optimizer also duplicates the salt expression under the join's
    // null-rejection filter, so every fact row paid it twice.)
    // coalesce: a NULL salt source must still salt (a NULL salt would
    // silently DROP the row from the inner join)
    val salt = pmod(
      xxhash64(coalesce(factSaltSource.cast("string"), lit(""))),
      lit(salts.toLong)).cast("int")
    val saltedFact = fact.withColumn("__fsalt", salt)
    val saltedDim = dim.withColumn("__dsalt",
      explode(array((0 until salts).map(lit): _*)))
    saltedFact.join(saltedDim,
        factKey === dimKey && col("__fsalt") === col("__dsalt"))
      .drop("__fsalt", "__dsalt")
  }
}
