package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Similarity}
import graft.sources.{Sink, Tables}

/** The operators' derived artifacts (ANN indexes, dedup sets and
  * groups, the bigram LM, PageRank vectors, the persistent index tables)
  * are keyed on the versions of their source tables: after a merge into
  * a source, an entry answers as a fresh session over the merged files
  * does, and a second session reuses what a first one built. */
class OperatorArtifactsSpec extends SparkSpec {

  /** A CDC batch for one source table, keyed on `key`. */
  private final class Update(val table: String, val key: String,
      val rows: (SparkSession, String) => DataFrame)

  // vectors 50..99 become exact twins of the 50 probes
  private val twinProbes = new Update("embeddings", "vec_id", (s, d) =>
    Tables.embeddings(s, d).filter(col("vec_id") < 50).withColumn("vec_id", col("vec_id") + 50))
  // seen docs 4k (even: the d18/d23 index side, d19's corpus) take the
  // text of batch doc 4k + 3
  private val copiedDocs = new Update("documents", "doc_id", (s, d) =>
    Tables.documents(s, d).filter(pmod(col("doc_id"), lit(4)) === 3 && col("doc_id") < 80)
      .withColumn("doc_id", col("doc_id") - 3))
  private val movedOrders = new Update("orders", "o_orderkey", (s, d) =>
    Tables.orders(s, d).filter(col("o_orderkey") <= 400)
      .withColumn("o_custkey", pmod(col("o_custkey"), lit(7)) + 1))
  private val seededCustomers = new Update("customer", "c_custkey", (s, d) =>
    Tables.customer(s, d).filter(col("c_custkey") <= 30)
      .withColumn("c_nationkey", lit(Graph.SeedNation)))

  /** Each probe paired with itself and with vector probe + 50. */
  private def probePairs(s: SparkSession): DataFrame =
    s.range(50).select(col("id").as("qid"), col("id").as("nid"))
      .union(s.range(50).select(col("id").as("qid"), (col("id") + 50).as("nid")))

  private def entry(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** (row, the update to its source, the answer): one row per artifact. */
  private val rows: Seq[(String, Update, (SparkSession, String) => DataFrame)] = Seq(
    ("s04 (ivf)", twinProbes, entry("s04_ann_ivf")),
    ("recallAt3 (exact top-3)", twinProbes, (s, d) => Similarity.recallAt3(s, d, probePairs(s))),
    ("s08 (pq codebook and codes)", twinProbes, entry("s08_ann_pq")),
    ("d11 (semantic dups)", twinProbes, entry("d11_semdedup")),
    ("s15 (vector index table)", twinProbes, entry("s15_ann_indexed")),
    ("s17 (ivf index table)", twinProbes, Similarity.ivfIndexedTop3),
    ("t12 (lm)", copiedDocs, entry("t12_lm_score")),
    ("d08 (dup groups)", copiedDocs, entry("d08_dup_groups")),
    ("d18 (band index table)", copiedDocs, entry("d18_indexed_lsh")),
    ("d19 (hash corpus table)", copiedDocs, entry("d19_persistent_exact")),
    ("d23 (window index table)", copiedDocs, entry("d23_indexed_spans")),
    ("g01 (rank)", movedOrders, entry("g01_pagerank")),
    ("g02 (rank)", seededCustomers, entry("g02_ppr_seeds")))

  /** Rows as a sorted multiset; doubles to 12 significant digits (the
    * partial-sum order of an aggregate may differ between two runs). */
  private def answer(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.11e"
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("after a merge into its source, each operator artifact answers for the new files") {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    val stale = rows.groupBy(_._2).toSeq.flatMap { case (u, group) =>
      val a = TempDirs.copyTree(sfDir, "graft-op-artifacts")
      val s = spark.newSession()
      val before = group.map { case (name, _, f) => name -> answer(f(s, a)) }.toMap
      val merged = Tables.path(a, u.table)
      Sink.mergeInto(s, merged, u.rows(s, a), u.key, u.key)
      // a second copy with the merged files written in directly
      val b = TempDirs.copyTree(sfDir, "graft-op-artifacts")
      val target = new java.io.File(Tables.path(b, u.table))
      TempDirs.rm(target)
      java.nio.file.Files.createDirectories(target.toPath)
      TempDirs.copyFiles(merged, target.toPath)
      dirs ++= Seq(a, b)
      val fresh = spark.newSession()
      try group.flatMap { case (name, _, f) =>
        val expected = answer(f(fresh, b))
        if (expected == before(name)) Some(s"$name: the update leaves the answer unchanged")
        else if (answer(f(s, a)) != expected) Some(s"$name: answered from the replaced files")
        else None
      } finally Seq(s, fresh).foreach(graft.util.SessionCache.releaseAll)
    }
    dirs.foreach(d => TempDirs.rm(new java.io.File(d)))
    assert(stale.isEmpty, stale.mkString("\n"))
  }

  test("a second session's d08, s04 and t12 run no Spark job once a first session built them") {
    val names = Seq("d08_dup_groups", "s04_ann_ivf", "t12_lm_score")
    val first = spark.newSession()
    names.foreach(n => SparkEntry.queries(n)(first, sfDir))
    val second = spark.newSession()
    val jobs = names.map(n => n -> jobsDuring(SparkEntry.queries(n)(second, sfDir))._2)
    assert(jobs.forall(_._2 == 0), s"Spark jobs run in a second session: $jobs")
  }
}
