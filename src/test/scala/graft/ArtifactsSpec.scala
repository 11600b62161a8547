package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Set-up state shared across sessions: inferred table schemas and the
  * derived partsupp are built once per source version and reused by every
  * later session of the SparkContext, never across versions or across
  * sessions whose confs change what they compute. */
class ArtifactsSpec extends SparkSpec {

  private def copyOf(src: String): String = TempDirs.copyTree(src, "graft-artifacts")

  private val q11 = operators.TpchCorpus.sql(11)
  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
  private def partsuppPlan(s: SparkSession) = s.table("partsupp").queryExecution.analyzed

  test("later sessions on a served dir register and resolve partsupp with no Spark job") {
    val dir = copyOf(sfDir)
    val q16 = operators.TpchCorpus.sql(16)
    val s1 = spark.newSession()
    val (df1, jobs1) = jobsDuring(Engine.executeQuery(s1, dir, q11))
    assert(jobs1 > 0, "the first session infers schemas and builds partsupp")
    val expected = rows(df1)
    for (i <- 1 to 3) {
      val s = if (i == 1) s1 else spark.newSession()
      if (i > 1) {
        val (df, jobs) = jobsDuring(Engine.executeQuery(s, dir, q11))
        assert(jobs == 0, s"session $i ran $jobs job(s) setting up")
        assert(rows(df) == expected, s"session $i answered differently")
      }
      // a later partsupp text of the session finds the same artifact
      assert(jobsDuring(Engine.executeQuery(s, dir, q16))._2 == 0,
        s"session $i resolved partsupp again for its next text")
      assert(partsuppPlan(s).sameResult(partsuppPlan(s1)), "one shared materialization")
    }
  }

  test("a session whose confs change decimal arithmetic gets its own partsupp") {
    val dir = copyOf(sfDir)
    val plain = spark.newSession()
    Engine.executeQuery(plain, dir, q11).collect()
    val s = spark.newSession()
    s.conf.set("spark.sql.decimalOperations.allowPrecisionLoss", "false")
    val (df, jobs) = jobsDuring(Engine.executeQuery(s, dir, q11))
    assert(jobs > 0, "its partsupp is built, not reused")
    assert(!partsuppPlan(s).sameResult(partsuppPlan(plain)))
    // its own CTE text, on its own views and confs
    assert(rows(df) == rows(s.sql(q11)))
  }

  test("a conf set back to its default keeps a session on the shared partsupp") {
    val dir = copyOf(sfDir)
    Engine.executeQuery(spark.newSession(), dir, q11).collect()
    val s = spark.newSession()
    // a scoped conf change undone with set(prev), as the engine's brackets do
    val k = "spark.sql.autoBroadcastJoinThreshold"
    s.conf.set(k, s.conf.get(k))
    assert(jobsDuring(Engine.executeQuery(s, dir, q11))._2 == 0,
      "the restored conf built a second partsupp")
  }

  test("a same-path rewrite with another schema is seen by a new session") {
    val dir = copyOf(sfDir)
    val s1 = spark.newSession()
    assert(!Engine.executeQuery(s1, dir, "SELECT * FROM nation").columns.contains("n_extra"))
    val tmp = Files.createTempDirectory("graft-artifacts-nation")
    spark.range(3).selectExpr("id AS n_nationkey", "concat('N', id) AS n_name", "id * 2 AS n_extra")
      .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = Files.list(tmp.resolve("t")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, Paths.get(Tables.path(dir, "nation")), StandardCopyOption.REPLACE_EXISTING)
    val s2 = spark.newSession()
    val df = Engine.executeQuery(s2, dir, "SELECT * FROM nation ORDER BY n_nationkey")
    assert(df.columns.toSeq == Seq("n_nationkey", "n_name", "n_extra"))
    assert(rows(df).map(_.last) == Seq(0L, 2L, 4L))
  }

  test("reading events leaves a session's conf digest as it was") {
    val dir = copyOf(sfDir)
    val s = spark.newSession()
    val before = graft.util.Artifacts.confDigest(s)
    Tables.events(s, dir).schema
    assert(graft.util.Artifacts.confDigest(s) == before,
      "the first events read changed the session's conf digest")
  }

  test("a session that has read events shares the partsupp a session that has not built") {
    val dir = copyOf(sfDir)
    // the builder never reads events: it materializes the CTE body over
    // its own lineitem view, under the key the engine takes
    val builder = spark.newSession()
    Tables.lineitem(builder, dir).createOrReplaceTempView("lineitem")
    val body = "(?s)with partsupp as \\(\n(.*?)\n\\)\n".r.findFirstMatchIn(q11).get.group(1)
    graft.util.Artifacts.getOrBuild(builder, "partsupp", Seq(dir -> "lineitem"))(
      builder.sql(body).localCheckpoint())
    val reader = spark.newSession()
    Tables.events(reader, dir).schema
    Engine.executeQuery(reader, dir, "SELECT 1").collect()
    assert(jobsDuring(Engine.executeQuery(reader, dir, q11))._2 == 0,
      "the session that read events built its own partsupp")
  }
}
