package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev-only: print the recall@3 of the IVF, PQ/ADC and IVF-PQ indexes
  * (s06, s09 and s11 only expose the boolean floor check).
  * Run: sbt "runMain graft.tools.ProfilePqRecall [dir...]". */
object ProfilePqRecall {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("profile-pq", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    dirs.foreach { dir =>
      Seq("s04_ann_ivf", "s08_ann_pq", "s10_ann_ivfpq").foreach { entry =>
        // the SAME ground-truth definition the s06/s09/s11 gates use
        val approx = SparkEntry.queries(entry)(spark, dir).select($"qid", $"nid")
        val r = graft.operators.Similarity.recallAt3(spark, dir, approx)
          .head().getAs[Double]("recall")
        println(f"$entry recall@3 at $dir: $r%.3f")
      }
    }
    spark.stop()
  }
}
